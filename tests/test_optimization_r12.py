"""Focused pins for the r12 optimization-round rewrites: each changed
internal is compared against a reference implementation of the OLD form
on constructed inputs, so a future edit that changes values (not just
plans) fails here rather than at the driver.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _old_shingles(toks, n: int):
    """r11 form of functions.text.shingles: the token expression appears
    FREE inside the per-position lambda (re-evaluated per element when
    the caller passes a non-trivial expression)."""
    count = F.size(toks) - (n - 1)
    return F.when(
        count >= 1,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def test_shingles_bound_form_matches_free_form(spark):
    """The r12 bound-variable shingles() must emit exactly the old
    free-expression arrays, including the short-document empty-array
    guard, for an inline tokenize expression (the hot-path spelling)."""
    from tlcn_oer_lakehouse_spark.functions.text import shingles, tokens

    rows = [
        ("a b c d e",),
        ("one two three",),
        ("two words",),
        ("single",),
        ("",),
        ("  Mixed   CASE, punctuation!  and; spacing  ",),
        ("x " * 50,),
    ]
    df = spark.createDataFrame(rows, ["text"])
    for n in (2, 3, 5):
        got = df.select(shingles(tokens(F.col("text")), n).alias("s")).collect()
        ref = df.select(_old_shingles(tokens(F.col("text")), n).alias("s")).collect()
        assert [r.s for r in got] == [r.s for r in ref], f"n={n}"


def _packed_combos(items_df, items_col: str):
    """The packed C(k,2) combination explode shared by rec_item_item_cf
    and g_jaccard_neighbors (functions/ids.py): sorted array -> packed
    long pairs -> unpack."""
    from tlcn_oer_lakehouse_spark.functions.ids import packed_pairs, unpacked_pair

    u, v = unpacked_pair("p")
    return (
        items_df.select(F.explode(packed_pairs(items_col)).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(u.alias("u"), v.alias("v"), "c")
    )


def test_packed_combos_match_self_join_pairs(spark):
    """Packed array-combination pair counts must equal the old
    self-join-on-group-key + groupBy(u, v) counts, including ids at the
    packing boundary (0 and 2^31 - 1)."""
    rows = [
        (10, 1), (10, 2), (10, 3),
        (20, 2), (20, 3),
        (30, 2), (30, 3),
        (40, 7),
        (50, 0), (50, 2**31 - 1), (50, 5),
    ]
    li = spark.createDataFrame(rows, ["ok", "pk"]).select(
        F.col("ok"), F.col("pk").cast("long")
    )
    a, b = li.alias("a"), li.alias("b")
    old = (
        a.join(b, "ok")
        .where(F.col("a.pk") < F.col("b.pk"))
        .groupBy(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    arrays = li.groupBy("ok").agg(F.array_sort(F.collect_set("pk")).alias("items"))
    new = _packed_combos(arrays, "items")
    old_rows = sorted(map(tuple, old.collect()))
    new_rows = sorted(map(tuple, new.collect()))
    assert new_rows == old_rows


def test_packed_pairs_reject_ids_outside_31_bits(spark):
    """2^31 - 1 is the largest id a packed key round-trips; 2^31 and -1
    fail the query instead of packing into a key that unpacks wrong.
    Int arrays are widened to long before packing."""
    import pytest

    from tlcn_oer_lakehouse_spark.functions.ids import packed_pairs, unpacked_pair

    def pairs(items, dtype="array<bigint>"):
        df = spark.createDataFrame([(items,)], f"items {dtype}")
        u, v = unpacked_pair("p")
        out = df.select(F.explode(packed_pairs("items")).alias("p"))
        return [tuple(r) for r in out.select(u, v).collect()]

    top = 2**31 - 1
    assert pairs([0, 5, top]) == [(0, 5), (0, top), (5, top)]
    assert pairs([3, top], "array<int>") == [(3, top)]
    for bad in (2**31, -1):
        with pytest.raises(Exception, match="packed pair key"):
            pairs([1, bad])


def test_wedge_pack_unpack_round_trip(spark):
    """shiftleft(u,32)|v unpacks to exactly (u, v) across the id range
    the packing contract documents (non-negative, < 2^31)."""
    rows = [(0, 0), (0, 1), (1, 0), (123, 456), (2**31 - 1, 2**31 - 1), (7, 2**31 - 1)]
    df = spark.createDataFrame(rows, ["u", "v"]).select(
        F.col("u").cast("long"), F.col("v").cast("long")
    )
    packed = df.select(F.shiftleft("u", 32).bitwiseOR(F.col("v")).alias("p"))
    unpacked = packed.select(
        F.shiftrightunsigned("p", 32).alias("u"),
        F.col("p").bitwiseAND(F.lit((1 << 32) - 1)).alias("v"),
    )
    assert sorted(map(tuple, unpacked.collect())) == sorted(rows)
