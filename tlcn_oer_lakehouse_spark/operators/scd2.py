"""Type-2 slowly-changing-dimension merge.

The reference's gold dimensions are type-1 (overwrite in place —
gold_analytics.py's dim builds keep only the latest attributes); a
lakehouse serving analytics over time needs type-2: closed-out history
rows with validity intervals.  This operator adds that as pure keyed
DataFrame algebra — every step is an equi-join or filter on the business
key, so the plan is two hash joins and a union regardless of table size.

Row contract: ``(key, attrs..., valid_from, valid_to, is_current)`` where
``valid_to IS NULL`` ⇔ ``is_current``.  A batch at time ``ts``:

- unknown key            → new current row ``[ts, NULL)``;
- changed tracked attrs  → old current row closes at ``ts``, new current
  row opens at ``ts`` (change detected via an md5 fingerprint of the
  tracked columns, null-safe through ``concat_ws`` sentinels);
- unchanged / absent key → untouched (absent ≠ deleted; deletions are a
  separate policy decision, ``ParquetMergeTable.merge``'s
  ``current_keys``).

Idempotent: re-merging the same batch at any ``ts`` detects zero changes
and returns the dimension unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_COLS = ("valid_from", "valid_to", "is_current")


def _fingerprint(cols: list[str]) -> F.Column:
    # null-safe: NULL and '' must fingerprint differently
    return F.md5(
        F.concat_ws(
            "",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols],
        )
    )


def scd2_init(batch: DataFrame, ts) -> DataFrame:
    """Initial dimension load: every row current from ``ts``."""
    return batch.select(
        "*",
        F.lit(ts).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_merge(
    dim: DataFrame, batch: DataFrame, key: str, tracked_cols: list[str], ts
) -> DataFrame:
    """Merge ``batch`` (one row per key — pre-dedup with latest_wins)
    into an SCD2 dimension, returning the new dimension DataFrame."""
    ts_lit = F.lit(ts).cast("timestamp")
    attr_cols = [c for c in dim.columns if c not in META_COLS]

    current = dim.filter(F.col("is_current"))
    history = dim.filter(~F.col("is_current"))

    fp = _fingerprint(tracked_cols)
    cur_fp = current.select(F.col(key), fp.alias("__fp_cur"))
    batch_fp = batch.select("*", fp.alias("__fp_new"))

    # classify batch rows in ONE left join against current fingerprints
    classified = batch_fp.join(cur_fp, key, "left")
    opened = (
        classified.filter(
            F.col("__fp_cur").isNull() | (F.col("__fp_new") != F.col("__fp_cur"))
        )
        .drop("__fp_cur", "__fp_new")
        .select(
            *[F.col(c) for c in batch.columns],
            ts_lit.alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        .select(*attr_cols, *META_COLS)
    )
    changed_keys = (
        classified.filter(
            F.col("__fp_cur").isNotNull() & (F.col("__fp_new") != F.col("__fp_cur"))
        ).select(key)
    )
    closed = current.join(changed_keys, key).select(
        *attr_cols,
        F.col("valid_from"),
        ts_lit.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    untouched_current = current.join(changed_keys, key, "left_anti")

    return (
        history.select(*attr_cols, *META_COLS)
        .unionByName(untouched_current.select(*attr_cols, *META_COLS))
        .unionByName(closed)
        .unionByName(opened)
    )


def scd2_changes(dim: DataFrame, merged: DataFrame, ts) -> DataFrame:
    """The change log of one :func:`scd2_merge` at ``ts`` (table columns
    + ``_change_type``), read off ``merged`` by its ``ts`` stamps: rows
    opened at ``ts`` are inserts, rows closed at ``ts`` are update
    postimages and their open form the preimages.  Rows ``dim`` already
    holds with the same stamp (an earlier batch at the same ``ts``, or a
    replay) are subtracted as a multiset, so a no-op merge logs nothing."""
    ts_lit = F.lit(ts).cast("timestamp")
    dim = dim.select(*merged.columns)

    def stamped(cond: F.Column) -> DataFrame:
        return merged.filter(cond).exceptAll(dim.filter(cond))

    opened = stamped(F.col("is_current") & (F.col("valid_from") == ts_lit))
    closed = stamped(F.col("valid_to") == ts_lit)
    return (
        opened.withColumn("_change_type", F.lit("insert"))
        .unionByName(closed.withColumn("_change_type", F.lit("update_postimage")))
        .unionByName(
            closed.withColumn("valid_to", F.lit(None).cast("timestamp"))
            .withColumn("is_current", F.lit(True))
            .withColumn("_change_type", F.lit("update_preimage"))
        )
    )


def scd2_as_of(dim: DataFrame, ts) -> DataFrame:
    """Point-in-time view: the attribute set valid at ``ts``
    (time travel over the dimension itself, independent of table-format
    snapshots)."""
    ts_lit = F.lit(ts).cast("timestamp")
    return dim.filter(
        (F.col("valid_from") <= ts_lit)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > ts_lit))
    ).drop("is_current")
