"""Change data feed on ParquetMergeTable — the Delta CDF / Iceberg
changelog analog.  Every mutator captures its row-level changes at write
time (O(changed rows), never a snapshot diff), the log publishes
atomically inside the snapshot dir, and ``read_changes`` folds a version
range for downstream incremental consumers — the engine-native
replacement for the reference's full-scan index diff
(elasticsearch_sync.py:343-395, Q7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.sinks.merge import ParquetMergeTable, all_version_nums, head_version


def _fp(df):
    return df.withColumn("record_fingerprint", F.md5(F.col("val")))


def _table(spark, tmp_path, **kw):
    return ParquetMergeTable(spark, str(tmp_path / "t"), key="id", **kw)


def _feed(t, since, end=None):
    return sorted(
        (r._commit_version, r._change_type, r.id, r.val)
        for r in t.read_changes(since, end).collect()
    )


def test_create_logs_inserts(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])))
    head = head_version(t.path)
    assert _feed(t, head - 1) == [
        (head, "insert", 1, "a"),
        (head, "insert", 2, "b"),
    ]


def test_upsert_splits_insert_update_and_skips_noops(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])))
    v0 = head_version(t.path)
    # id=1 unchanged (no-op must NOT appear), id=2 modified, id=3 new
    t.merge_upsert(
        _fp(spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], ["id", "val"]))
    )
    v1 = head_version(t.path)
    assert _feed(t, v0) == [
        (v1, "insert", 3, "c"),
        (v1, "update_postimage", 2, "B"),
        (v1, "update_preimage", 2, "b"),
    ]


def test_merge_delete_logs_full_rows(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "val"])))
    v0 = head_version(t.path)
    t.merge_delete(spark.createDataFrame([(1,), (3,)], ["id"]))
    v1 = head_version(t.path)
    # id=2 is stale (absent from current keys) -> deleted, with payload
    assert _feed(t, v0) == [(v1, "delete", 2, "b")]


def _seeded(spark, tmp_path, name):
    t = ParquetMergeTable(spark, str(tmp_path / name), key="id")
    t.create(_fp(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], ["id", "val"]
    )))
    return t, head_version(t.path)


def _canon(df):
    """Order-insensitive multiset of rows, ``_commit_version`` dropped."""
    cols = sorted(c for c in df.columns if c != "_commit_version")
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("evolve", [False, True], ids=["same_schema", "new_column"])
def test_merge_equals_upsert_then_delete_in_one_version(spark, tmp_path, evolve):
    """One MERGE with both clauses lands on the same rows and the same
    change multiset as the upsert followed by the delete — in one
    version, not two."""

    def source():
        df = _fp(spark.createDataFrame([(1, "a"), (2, "B"), (5, "e")], ["id", "val"]))
        return df.withColumn("extra", F.upper("val")) if evolve else df

    keys = spark.createDataFrame([(1,), (2,), (5,)], ["id"])  # 3, 4 stale
    two, v2 = _seeded(spark, tmp_path, "two")
    assert two.merge_upsert(source()) == 2
    assert two.merge_delete(keys) == 2
    one, v1 = _seeded(spark, tmp_path, "one")
    assert one.merge(source(), current_keys=keys) == (2, 2)

    assert head_version(two.path) == v2 + 2
    assert head_version(one.path) == v1 + 1
    assert _canon(one.read()) == _canon(two.read())
    assert _canon(one.read_changes(v1)) == _canon(two.read_changes(v2))


def test_merge_never_deletes_a_key_the_source_matches(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE: source keys absent from ``current_keys``
    survive, changed (2, 5) or not (1); only their changes are logged."""
    t, v0 = _seeded(spark, tmp_path, "t")
    src = _fp(spark.createDataFrame([(1, "a"), (2, "B"), (5, "e")], ["id", "val"]))
    assert t.merge(src, current_keys=spark.createDataFrame([(3,)], ["id"])) == (2, 1)
    v1 = head_version(t.path)
    assert v1 == v0 + 1
    assert sorted((r.id, r.val) for r in t.read().collect()) == [
        (1, "a"), (2, "B"), (3, "c"), (5, "e"),
    ]
    assert _feed(t, v0) == [
        (v1, "delete", 4, "d"),
        (v1, "insert", 5, "e"),
        (v1, "update_postimage", 2, "B"),
        (v1, "update_preimage", 2, "b"),
    ]


def test_merge_noop_writes_nothing(spark, tmp_path):
    t, v0 = _seeded(spark, tmp_path, "t")
    same = _fp(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"]))
    all_keys = spark.createDataFrame([(k,) for k in (1, 2, 3, 4)], ["id"])
    assert t.merge(same, current_keys=all_keys) == (0, 0)
    assert t.merge(same) == (0, 0)
    assert t.merge(current_keys=all_keys) == (0, 0)
    assert t.merge() == (0, 0)
    assert head_version(t.path) == v0


_T0, _T1 = "2024-01-01 00:00:00", "2024-01-02 00:00:00"


@pytest.mark.parametrize("old, new, changed", [
    ((None, _T0), (None, _T0), False),  # null fingerprint on both sides
    ((None, _T0), ("x", _T0), True),    # null vs non-null
    (("x", _T0), (None, _T0), True),    # non-null vs null
    (("x", _T0), ("x", _T1), True),     # strictly newer ts, same fingerprint
    (("x", _T0), ("x", _T0), False),    # equal ts, same fingerprint
    (("x", _T1), ("x", _T0), False),    # older ts, same fingerprint
], ids=["null_both", "null_to_value", "value_to_null", "newer_ts",
        "same_ts", "older_ts"])
def test_merge_classifies_fingerprint_and_ts_edges(spark, tmp_path, old, new, changed):
    """The change rule is null-safe fingerprint inequality or a strictly
    newer ``ts_col``.  A change commits one version logging the pre- and
    postimage; a no-op commits nothing and leaves no staging dir behind
    (the change log is staged before the counts are known)."""
    import os

    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="id", ts_col="ts")
    schema = "id int, val string, record_fingerprint string, ts string"

    def rows(fp, ts, val):
        return spark.createDataFrame([(1, val, fp, ts)], schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    t.create(rows(*old, "a"))
    v0 = head_version(t.path)
    assert t.merge(rows(*new, "b")) == ((1, 0) if changed else (0, 0))
    assert not [d for d in os.listdir(tmp_path) if "__staging_" in d]
    if changed:
        assert _feed(t, v0) == [
            (v0 + 1, "update_postimage", 1, "b"),
            (v0 + 1, "update_preimage", 1, "a"),
        ]
        assert [(r.id, r.val) for r in t.read().collect()] == [(1, "b")]
    else:
        assert head_version(t.path) == v0
        assert all_version_nums(t.path) == [v0]


def test_mor_delete_logs_and_does_not_inherit_old_log(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])))
    v0 = head_version(t.path)
    t.delete_where_mor([("id", "=", 2)])
    v1 = head_version(t.path)
    assert _feed(t, v0) == [(v1, "delete", 2, "b")]
    # the hardlinked snapshot must not replay v0's insert log as v1's
    types = {r._change_type for r in t.read_changes(v0).collect()}
    assert types == {"delete"}


def test_compact_is_physical_only(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])))
    v0 = head_version(t.path)
    t.compact()
    feed = t.read_changes(v0)
    assert feed.count() == 0
    assert "_change_type" in feed.columns  # schema survives the empty range


def test_multi_version_range_and_commit_versions(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a")], ["id", "val"])))
    v0 = head_version(t.path)
    t.merge_upsert(_fp(spark.createDataFrame([(2, "b")], ["id", "val"])))
    t.merge_upsert(_fp(spark.createDataFrame([(1, "A")], ["id", "val"])))
    v2 = head_version(t.path)
    feed = _feed(t, v0)
    assert (v0 + 1, "insert", 2, "b") in feed
    assert (v2, "update_postimage", 1, "A") in feed
    assert (v2, "update_preimage", 1, "a") in feed
    # bounded range: only the first commit
    assert _feed(t, v0, v0 + 1) == [(v0 + 1, "insert", 2, "b")]


def test_vacuumed_range_raises(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a")], ["id", "val"])))
    v0 = head_version(t.path)
    for i in range(3):
        t.merge_upsert(_fp(spark.createDataFrame([(10 + i, "x")], ["id", "val"])))
    t.vacuum(keep_last=1)
    with pytest.raises(ValueError, match="not retained"):
        t.read_changes(v0)


def test_incremental_view_maintenance_equals_recompute(spark, tmp_path):
    """The point of a CDF: a downstream SUM-per-group view folds only
    the delta — inserts add, deletes subtract, updates add (post − pre)
    — and lands exactly on the full recompute."""
    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="id")
    rows0 = [(i, "g%d" % (i % 3), float(i)) for i in range(30)]
    df0 = spark.createDataFrame(rows0, ["id", "grp", "amount"]).withColumn(
        "record_fingerprint", F.md5(F.col("amount").cast("string"))
    )
    t.create(df0)
    v0 = head_version(t.path)
    view = {
        r.grp: r.s
        for r in t.read().groupBy("grp").agg(F.sum("amount").alias("s")).collect()
    }

    # a mixed commit batch: 5 updates, 5 inserts; then a delete commit
    upd = spark.createDataFrame(
        [(i, "g%d" % (i % 3), float(i) + 100.0) for i in range(5)]
        + [(100 + i, "g%d" % (i % 3), 7.0) for i in range(5)],
        ["id", "grp", "amount"],
    ).withColumn("record_fingerprint", F.md5(F.col("amount").cast("string")))
    t.merge_upsert(upd)
    keep = spark.createDataFrame(
        [(r.id,) for r in t.read().collect() if r.id % 7 != 0], ["id"]
    )
    t.merge_delete(keep)

    feed = t.read_changes(v0)
    signed = feed.withColumn(
        "delta",
        F.when(F.col("_change_type").isin("insert", "update_postimage"),
               F.col("amount")).otherwise(-F.col("amount")),
    )
    deltas = {
        r.grp: r.d
        for r in signed.groupBy("grp").agg(F.sum("delta").alias("d")).collect()
    }
    maintained = {
        g: view.get(g, 0.0) + deltas.get(g, 0.0)
        for g in set(view) | set(deltas)
    }
    recomputed = {
        r.grp: r.s
        for r in t.read().groupBy("grp").agg(F.sum("amount").alias("s")).collect()
    }
    for g in set(maintained) | set(recomputed):
        assert abs(maintained.get(g, 0.0) - recomputed.get(g, 0.0)) < 1e-9


def test_rollback_feed_folds_to_restored_state(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])))
    v0 = head_version(t.path)
    t.merge_upsert(_fp(spark.createDataFrame([(2, "B"), (3, "c")], ["id", "val"])))
    v1 = head_version(t.path)
    t.rollback(v0)
    v2 = head_version(t.path)
    feed = _feed(t, v1, v2)
    # restoring v0 undoes the upsert: 3 disappears, 2 reverts
    assert feed == [
        (v2, "delete", 3, "c"),
        (v2, "update_postimage", 2, "b"),
        (v2, "update_preimage", 2, "B"),
    ]
    assert sorted((r.id, r.val) for r in t.read().collect()) == [(1, "a"), (2, "b")]


def test_changes_stream_tails_the_feed(spark, tmp_path):
    """Streaming CDF source: the change stream delivers exactly the rows
    the batch feed reports, with their _commit_version — and a second
    availableNow run against the same checkpoint picks up ONLY commits
    made since."""
    from tlcn_oer_lakehouse_spark.streaming.ingest import changes_stream

    t = _table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])))
    t.merge_upsert(_fp(spark.createDataFrame([(2, "B"), (3, "c")], ["id", "val"])))

    seen: list[tuple] = []

    def _collect(batch_df, batch_id):
        seen.extend(
            (r._commit_version, r._change_type, r.id, r.val)
            for r in batch_df.collect()
        )

    ckpt = str(tmp_path / "ckpt")
    q = (
        changes_stream(t)
        .writeStream.foreachBatch(_collect)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    head = head_version(t.path)
    batch_feed = sorted(
        (r._commit_version, r._change_type, r.id, r.val)
        for r in t.read_changes(head - 2, head).collect()
    )
    assert sorted(seen) == batch_feed

    # new commit -> restarted stream delivers only the delta
    t.merge_delete(spark.createDataFrame([(1,), (2,)], ["id"]))
    seen.clear()
    q = (
        changes_stream(t)
        .writeStream.foreachBatch(_collect)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    v_del = head_version(t.path)
    assert sorted(seen) == [(v_del, "delete", 3, "c")]


def test_gold_fact_maintained_from_silver_cdf_scans_only_delta(spark, tmp_path):
    """medallion_incremental's real-table twin: fact_source_coverage is
    delta-maintained from the SILVER TABLES' change feeds and lands
    exactly on a full recompute — and the maintenance plan provably
    never rescans the silver snapshots: its inputFiles are the stored
    gold fact plus the commits' _changes logs ONLY.  This is the
    O(delta) gold-refresh plan pin VERDICT r7 #3 asks for."""
    from tlcn_oer_lakehouse_spark.pipelines.medallion import (
        SilverWarehouse,
        run_silver,
    )

    def bronze(rows):
        return spark.createDataFrame(
            rows,
            "id string, title string, url string, scraped_at string, "
            "source string, pdf_paths array<string>",
        )

    dec = "decimal(18,9)"

    def fact_frame(res, docs):
        """The stored-fact shape: FOLDABLE measures (counts + exact
        decimal quality sum), ratios derived downstream."""
        r = res.groupBy("source_system").agg(
            F.count(F.lit(1)).alias("total_resources"),
            F.sum(F.when(F.col("has_assets"), 1).otherwise(0)).alias(
                "resources_with_assets"
            ),
            F.sum(F.col("data_quality_score").cast(dec)).alias("sum_quality"),
        )
        d = docs.groupBy("source_system").agg(
            F.count(F.lit(1)).alias("total_documents")
        )
        return r.join(d, "source_system", "full_outer")

    root = str(tmp_path / "wh")
    b1 = bronze([
        ("A", "Alpha", "https://ocw.mit.edu/courses/a",
         "2024-01-01 00:00:00", "MIT OCW", ["files/a_0.pdf", "files/a_1.pdf"]),
        ("B", "Beta", "https://openstax.org/books/b",
         "2024-01-01 00:00:00", None, ["files/b_0.pdf"]),
        ("C", "Gamma", "https://example.edu/resources/c",
         "2024-01-01 00:00:00", None, []),
    ])
    run_silver(spark, b1, root)
    wh = SilverWarehouse(spark, root)
    v_res, v_doc = head_version(wh.resources.path), head_version(wh.documents.path)

    fact_path = str(tmp_path / "gold_fact")
    fact_frame(wh.resources.read(), wh.documents.read()).write.parquet(fact_path)

    # one incremental batch: A updated (loses asset a_1), B re-sent
    # verbatim — identical fingerprint AND identical scraped_at (the
    # resources table's ts_col treats a NEWER timestamp as a change, per
    # the reference's predicate) -> must contribute NOTHING, D inserted
    # with two assets
    b2 = bronze([
        ("A", "Alpha v2", "https://ocw.mit.edu/courses/a",
         "2024-02-01 00:00:00", "MIT OCW", ["files/a_0.pdf"]),
        ("B", "Beta", "https://openstax.org/books/b",
         "2024-01-01 00:00:00", None, ["files/b_0.pdf"]),
        ("D", "Delta", "https://open.umn.edu/opentextbooks/d",
         "2024-02-01 00:00:00", None, ["files/d_0.pdf", "files/d_1.pdf"]),
    ])
    stats = run_silver(spark, b2, root)
    assert stats == {
        "resources_upserted": 2,  # A update + D insert; B is a no-op
        "documents_upserted": 2,  # D's two assets
        "documents_deleted": 1,   # A's stale a_1
    }
    # the upsert and the stale-asset delete are ONE documents commit
    assert head_version(wh.documents.path) == v_doc + 1

    def sign():
        return F.when(
            F.col("_change_type").isin("insert", "update_postimage"), 1
        ).otherwise(-1)

    stored = spark.read.parquet(fact_path)
    d_res = wh.resources.read_changes(v_res).groupBy("source_system").agg(
        F.sum(sign()).alias("d_resources"),
        F.sum(F.when(F.col("has_assets"), sign()).otherwise(0)).alias(
            "d_with_assets"
        ),
        F.sum(F.col("data_quality_score").cast(dec) * sign()).alias("d_quality"),
    )
    d_docs = wh.documents.read_changes(v_doc).groupBy("source_system").agg(
        F.sum(sign()).alias("d_documents")
    )

    def out(df, total, wa, sq, nd):
        return df.select(
            "source_system",
            total.alias("total_resources"),
            wa.alias("resources_with_assets"),
            nd.alias("total_documents"),
            sq.cast("string").cast("double").alias("sum_quality"),
        )

    z, zdec = F.lit(0), F.lit(0).cast(dec)
    maintained = out(
        stored.join(d_res, "source_system", "full_outer")
        .join(d_docs, "source_system", "full_outer"),
        F.coalesce(F.col("total_resources"), z) + F.coalesce(F.col("d_resources"), z),
        F.coalesce(F.col("resources_with_assets"), z)
        + F.coalesce(F.col("d_with_assets"), z),
        F.coalesce(F.col("sum_quality"), zdec) + F.coalesce(F.col("d_quality"), zdec),
        F.coalesce(F.col("total_documents"), z) + F.coalesce(F.col("d_documents"), z),
    )

    # THE PIN: the maintenance plan reads the stored fact and the
    # change logs — never a silver snapshot data file
    files = maintained.inputFiles()
    assert files, "maintenance plan reports no input files"
    bad = [
        f for f in files
        if "/_changes/" not in f and "/gold_fact/" not in f
    ]
    assert not bad, f"maintenance plan rescans non-delta files: {bad}"

    recomputed = out(
        fact_frame(wh.resources.read(), wh.documents.read()),
        F.col("total_resources"),
        F.col("resources_with_assets"),
        F.col("sum_quality"),
        F.coalesce(F.col("total_documents"), F.lit(0)),
    )
    m = sorted(tuple(r) for r in maintained.collect())
    r = sorted(tuple(r) for r in recomputed.collect())
    assert m == r
