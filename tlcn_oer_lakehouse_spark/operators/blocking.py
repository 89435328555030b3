"""Sorted-neighborhood entity-resolution blocking (Hernández & Stolfo
SIGMOD'95).

Sort records by a blocking key, slide a w-record window down the sorted
order, and score only pairs whose RANKS are within w — candidates capped
at w·n by construction, the guarantee LSH banding (probabilistic) and
prefix filtering (set-overlap-driven) don't give: SNM's candidate count
is INPUT-sized regardless of how pathological the similarity structure
is, and it catches near-matches that share a sort-key prefix even when
their token sets diverge below any Jaccard threshold.

Scale design: the global sort rank is the repo's two-phase distributed
prefix pattern (range-partition by the sort key → per-partition
row_number → O(P) partition totals collected once and broadcast back as
offsets — the ml_auc_roc discipline; no global-order window ever sees
row-level data, so there is no single-partition sort to wedge).  The
w-window pairing is an equi-join on rank-bucket: bucket = rank div w,
each record probes its own and the next bucket, so every in-window pair
shares exactly one join key — 2 probe rows per record, never a
cartesian.  Ranks are partition-boundary-independent by construction
(local row_number + exclusive offset = global rank over a UNIQUE total
order), which is what makes the result hash-identical across
parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_sort_ranks(
    df: DataFrame,
    order_cols: list[str],
    n_partitions: int,
) -> DataFrame:
    """0-based global rank over a UNIQUE total order (``order_cols``
    must be duplicate-free as a tuple — pass a tie-breaking key).
    Two-phase: range-partition, per-partition row_number, O(P) totals
    broadcast back as exclusive offsets.  Appends a ``rank`` column."""
    spark = df.sparkSession
    parts = (
        df.repartitionByRange(n_partitions, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    totals = parts.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    running = 0
    offset_rows = []
    for row in sorted(totals, key=lambda r: r["__pid"]):
        offset_rows.append((row["__pid"], running))
        running += row["n"]
    offsets = spark.createDataFrame(offset_rows, "__pid INT, __off LONG")
    w_loc = Window.partitionBy("__pid").orderBy(*order_cols)
    return (
        parts.withColumn("__rn", F.row_number().over(w_loc) - 1)
        .join(F.broadcast(offsets), "__pid")
        .withColumn("rank", F.col("__rn") + F.col("__off"))
        .drop("__pid", "__rn", "__off")
    )


def rank_window_pairs(ranked: DataFrame, window: int) -> DataFrame:
    """All row pairs (a, b) with 0 < rank_b − rank_a ≤ ``window``, via
    the rank-bucket equi-join (a probes its own and the next bucket —
    every in-window pair joins on exactly one bucket key, emitted
    exactly once with a as the lower rank).  Input must carry ``rank``;
    output columns are the input's, prefixed ``a_`` / ``b_``."""
    w = window
    probe = ranked.select(
        *[F.col(c) for c in ranked.columns],
        F.explode(F.expr(f"array(rank div {w}, rank div {w} + 1)")).alias("__bkt"),
    )
    right = ranked.withColumn("__bkt", F.expr(f"rank div {w}"))
    joined = probe.alias("a").join(
        right.alias("b"),
        (F.col("a.__bkt") == F.col("b.__bkt"))
        & (F.col("b.rank") - F.col("a.rank")).between(1, w),
    )
    return joined.select(
        *[F.col(f"a.{c}").alias(f"a_{c}") for c in ranked.columns],
        *[F.col(f"b.{c}").alias(f"b_{c}") for c in ranked.columns],
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    window: int = 5,
    threshold: float = 0.5,
    n_partitions: int | None = None,
) -> DataFrame:
    """SNM candidate pairs with word-set Jaccard ≥ ``threshold``:
    sort by (name, id), pair ranks within ``window``, verify on
    distinct word sets.  Output (id_a, id_b, jaccard) with id_a the
    lower-ranked record."""
    from tlcn_oer_lakehouse_spark.queries.base import prefix_sum_partitions

    if n_partitions is None:
        n_partitions = prefix_sum_partitions(df.sparkSession)
    ranked = global_sort_ranks(
        df.select(
            F.col(id_col).alias("rid"), F.col(name_col).alias("name")
        ),
        ["name", "rid"],
        n_partitions,
    ).select(
        "rid", "rank", F.array_distinct(F.split("name", " ")).alias("toks")
    )
    pairs = rank_window_pairs(ranked, window)
    inter = F.size(F.array_intersect(F.col("a_toks"), F.col("b_toks")))
    union = F.size(F.col("a_toks")) + F.size(F.col("b_toks")) - inter
    return (
        pairs.select(
            F.col("a_rid").alias("id_a"),
            F.col("b_rid").alias("id_b"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
