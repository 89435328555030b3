"""Incremental change detection + merge — the reference's MERGE layer
re-expressed without Iceberg (no lakehouse-format jars on this classpath).

The reference's pattern (transformer.py:1519-1558, 2427-2484):
  1. latest-wins window dedup of the incoming batch          (W1)
  2. left join incoming → existing on the PK                 (J1)
  3. keep rows that are new OR changed (null-safe fingerprint
     / timestamp comparison)                                 (P3)
  4. MERGE upsert into the Iceberg table                     (K1)
  5. anti-join to detect deletions, MERGE DELETE             (J4/K2)

Steps 1-3 and 5 are engine-native below, with the P3 rule in one place,
:func:`change_predicate`.  Step 4 is ``merge_upsert`` here:
existing-not-matched ∪ changed, as a frame.  The table sink
(``sinks/merge.py:ParquetMergeTable.merge``) runs steps 2-5 as one keyed
pass instead: head rows, latest-wins batch rows and current-key rows
meet per key in one exchange, each row is classified once with
:func:`change_predicate`, and that one classified frame yields the
change log, the counts and the table's whole next snapshot.  On a
Delta/Iceberg deployment the same changed-set feeds ``MERGE INTO``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_wins(df: DataFrame, key: str, order_cols: list[str]) -> DataFrame:
    """W1: keep the most recent record per key (desc_nulls_last ordering,
    transformer.py:1509-1514)."""
    w = Window.partitionBy(key).orderBy(
        *[F.col(c).desc_nulls_last() for c in order_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def change_predicate(
    new_fp: Column,
    old_fp: Column,
    new_ts: Column | None = None,
    old_ts: Column | None = None,
) -> Column:
    """P3, the one change rule (null-safe, matching
    transformer.py:1538-1557): the fingerprint differs, or (timestamps
    given) the new timestamp is strictly newer, a null one counting as
    the epoch.  ``changed_rows`` and ``ParquetMergeTable.merge`` both
    classify with it."""
    pred = ~new_fp.eqNullSafe(old_fp)
    if new_ts is not None:
        epoch = F.lit("1970-01-01").cast("timestamp")
        pred = pred | (F.coalesce(new_ts, epoch) > F.coalesce(old_ts, epoch))
    return pred


def changed_rows(
    incoming: DataFrame,
    existing: DataFrame,
    key: str,
    fingerprint_col: str = "record_fingerprint",
    ts_col: str | None = None,
) -> DataFrame:
    """J1+P3: rows in ``incoming`` that are new, or changed per
    :func:`change_predicate`, against ``existing``."""
    ex = existing.select(
        F.col(key).alias("__ex_key"),
        F.col(fingerprint_col).alias("__ex_fp"),
        *([F.col(ts_col).alias("__ex_ts")] if ts_col else []),
    )
    joined = incoming.join(ex, incoming[key] == ex["__ex_key"], "left")
    pred = F.col("__ex_key").isNull() | change_predicate(
        F.col(fingerprint_col),
        F.col("__ex_fp"),
        *((F.col(ts_col), F.col("__ex_ts")) if ts_col else ()),
    )
    return joined.filter(pred).select(incoming["*"])


def deleted_keys(existing: DataFrame, incoming: DataFrame, key: str) -> DataFrame:
    """J4: keys present in existing but absent from incoming."""
    return existing.select(key).join(incoming.select(key), key, "left_anti")


def merge_upsert(
    existing: DataFrame,
    changed: DataFrame,
    key: str,
    broadcast_changed: bool = False,
) -> DataFrame:
    """K1 without a table format: (existing ∖ changed-keys) ∪ changed,
    the whole next snapshot of a copy-on-write commit; on Delta/Iceberg
    replace with ``MERGE INTO`` SQL.

    ``broadcast_changed`` pins a broadcast hint on the anti-join's build
    side.  The planner's size ESTIMATE for a change-detected delta is
    corpus-scale (it is a join of aggregates), so an incremental-sized
    delta otherwise plans as SortMergeJoin and only AQE converts it —
    after both sides have already shuffled.  Callers must decide from
    OBSERVED stats (e.g. a count of the already-persisted delta), never
    statically: a backfill delta can be state-sized and a forced
    broadcast would OOM there (guide §3.1)."""
    keys = changed.select(key)
    if broadcast_changed:
        keys = F.broadcast(keys)
    survivors = existing.join(keys, key, "left_anti")
    return survivors.unionByName(changed)
