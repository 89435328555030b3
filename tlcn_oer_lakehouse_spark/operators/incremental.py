"""Incremental change detection + merge — the reference's MERGE layer
re-expressed without Iceberg (no lakehouse-format jars on this classpath).

The reference's pattern (transformer.py:1519-1558, 2427-2484):
  1. latest-wins window dedup of the incoming batch          (W1)
  2. left join incoming → existing on the PK                 (J1)
  3. keep rows that are new OR changed (null-safe fingerprint
     / timestamp comparison)                                 (P3)
  4. MERGE upsert into the Iceberg table                     (K1)
  5. anti-join to detect deletions, MERGE DELETE             (J4/K2)

Step 1 is :func:`latest_wins`.  Steps 2-5 are one keyed pass,
:func:`classify_changes`: head rows, batch rows and current-key rows
meet per key in one exchange, and each row is classified once with the
P3 rule, :func:`change_predicate`.  That one classified frame yields
the change log (its non-null ``_change_type`` rows) and, through
:func:`next_snapshot`, the table's whole next snapshot.  The table sink
(``sinks/merge.py:ParquetMergeTable.merge``) and the registry's MERGE
queries (``k1_merge_upsert``, ``k2_merge_delete``, ``medallion_e2e``,
``medallion_incremental``) all classify through it; on a Delta/Iceberg
deployment the same classification is ``MERGE INTO``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# the change types a MERGE writes into the next snapshot
UPSERT_TYPES = ("insert", "update_postimage")


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
    the epoch."""
    pred = ~new_fp.eqNullSafe(old_fp)
    if new_ts is not None:
        epoch = F.lit("1970-01-01").cast("timestamp")
        pred = pred | (F.coalesce(new_ts, epoch) > F.coalesce(old_ts, epoch))
    return pred


def align(df: DataFrame, columns: list[str], types: dict) -> DataFrame:
    """Project onto ``columns``; missing ones become nulls typed by
    ``types`` (column name → data type) (K6)."""
    return df.select(
        *[
            F.col(c) if c in df.columns else F.lit(None).cast(types[c]).alias(c)
            for c in columns
        ]
    )


def classify_changes(
    head: DataFrame | None,
    batch: DataFrame | None,
    key: str,
    fingerprint_col: str = "record_fingerprint",
    ts_col: str | None = None,
    current_keys: DataFrame | None = None,
) -> DataFrame:
    """J1+P3+K1+J4 in one keyed pass: the rows of ``MERGE INTO head
    USING batch`` (WHEN MATCHED and changed UPDATE, WHEN NOT MATCHED
    INSERT and, given ``current_keys``, WHEN NOT MATCHED BY SOURCE
    DELETE for head keys in neither ``current_keys`` nor ``batch``).

    ``batch`` must hold one row per key (:func:`latest_wins`).  Head,
    batch and current-key rows are tagged and meet per key in one
    window (one exchange).  Returns every head row and every new or
    changed batch row, with the union of both sides' columns (schema
    evolution: a column one side lacks is null there, typed by the
    head) and ``_change_type``: ``insert`` (new key),
    ``update_postimage`` (changed per :func:`change_predicate`),
    ``update_preimage`` (the head row of a changed key), ``delete``, or
    null for a carried-over head row.  An unchanged batch row is
    dropped, so re-merging a batch classifies nothing.  The fingerprint
    (and ``ts_col``) is read only when a batch is given."""
    sides = [df for df in (head, batch) if df is not None]
    columns = list(dict.fromkeys(c for df in sides for c in df.columns))
    # a column both sides hold keeps the head's type
    types = {f.name: f.dataType for df in reversed(sides) for f in df.schema.fields}
    HEAD, BATCH, KEYS = 0, 1, 2
    tagged = [(head, HEAD), (batch, BATCH)]
    if current_keys is not None:
        tagged.append((current_keys.select(key), KEYS))
    rows = reduce(DataFrame.unionByName, [
        align(df, columns, types).withColumn("__src", F.lit(tag))
        for df, tag in tagged if df is not None
    ])

    w = Window.partitionBy(key)
    src = F.col("__src")
    change_type = None
    keep = src == HEAD
    if batch is not None:
        compared = [F.col(fingerprint_col).alias("fp")]
        if ts_col:
            compared.append(F.col(ts_col).alias("ts"))

        def image(tag: int):  # this key's head or batch row (null: absent)
            return F.max(F.when(src == tag, F.struct(*compared))).over(w)

        old, new = image(HEAD), image(BATCH)
        # with no head every batch row is an insert; the predicate is only
        # built against a head (its epoch default needs a timestamp ts_col)
        changed = F.lit(False) if head is None else change_predicate(
            new["fp"], old["fp"], *((new["ts"], old["ts"]) if ts_col else ())
        )
        change_type = (
            F.when(src == BATCH, F.when(old.isNull(), "insert").otherwise("update_postimage"))
            .when(new.isNotNull(), F.when(changed, "update_preimage"))
        )
        keep = keep | ((src == BATCH) & (old.isNull() | changed))
    if current_keys is not None:
        gone = ~F.max(src == KEYS).over(w)
        change_type = (
            F.when(gone, "delete") if change_type is None
            else change_type.when(gone, "delete")
        )
    if change_type is None:
        change_type = F.lit(None).cast("string")
    return (
        rows.select(*columns, change_type.alias("_change_type"), keep.alias("__keep"))
        .filter("__keep")
        .drop("__keep")
    )


def next_snapshot(classified: DataFrame) -> DataFrame:
    """The table after the MERGE: carried-over, inserted and
    postimage rows of :func:`classify_changes`."""
    ct = F.col("_change_type")
    return classified.filter(ct.isNull() | ct.isin(*UPSERT_TYPES)).drop("_change_type")
