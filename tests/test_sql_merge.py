"""K1 via SQL: the same upsert batch through (a) ParquetMergeTable and
(b) the SQL MERGE surface (native MERGE INTO, on a table format that
supports it; elsewhere the source it hands the MERGE, under the
statement's semantics) must produce identical tables; a v1 parquet
catalog table cannot MERGE INTO, and Spark's error is raised.
"""

from __future__ import annotations

import pytest
from pyspark.errors import UnsupportedOperationException

from tlcn_oer_lakehouse_spark.sinks.merge import (
    ParquetMergeTable,
    merge_into_sql,
    sql_merge_upsert,
)

import datetime as _dt


def _ts(n):
    return _dt.datetime(2024, 1, 1) + _dt.timedelta(hours=n)


BASE = [(1, "a", _ts(10)), (2, "b", _ts(20)), (3, "c", _ts(30))]
# changed row 2, new row 4, and an in-batch duplicate for key 4 where
# the later ts must win
BATCH = [(2, "B", _ts(21)), (4, "d", _ts(40)), (4, "dd", _ts(41))]
SCHEMA = "k long, v string, ts timestamp"


def _rows(df):
    return sorted((r.k, r.v, r.ts) for r in df.collect())


def test_sql_merge_matches_parquet_merge_table(spark, tmp_path):
    """The source ``sql_merge_upsert`` hands its MERGE, merged with the
    statement's semantics, leaves the same table as ParquetMergeTable.
    A v1 parquet catalog table cannot execute the MERGE, so its
    semantics are applied here: a matched row takes every source column
    (UPDATE SET of each non-key column), an unmatched source row is
    inserted, an unmatched target row is kept; the native run is
    ``test_native_merge_into_when_lakehouse_jars_present``."""
    base = spark.createDataFrame(BASE, SCHEMA)
    batch = spark.createDataFrame(BATCH, SCHEMA)

    # path A: ParquetMergeTable
    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="k",
                          fingerprint_col="v", ts_col="ts")
    t.create(base)
    t.merge_upsert(batch)
    expected = _rows(t.read())

    # path B: the SQL surface's source and statement
    spark.sql("DROP TABLE IF EXISTS sqlmerge_t")
    base.write.saveAsTable("sqlmerge_t")
    try:
        with pytest.raises(UnsupportedOperationException, match="MERGE INTO"):
            sql_merge_upsert(spark, "sqlmerge_t", batch, key="k", ts_col="ts")
        src = spark.table("__merge_src")
        # at most one source row per key, or MERGE fails on a multi-match
        assert src.count() == src.select("k").distinct().count()
        columns = spark.table("sqlmerge_t").columns
        assert merge_into_sql("sqlmerge_t", "__merge_src", "k", columns).endswith(
            "WHEN MATCHED THEN UPDATE SET t.v = s.v, t.ts = s.ts "
            "WHEN NOT MATCHED THEN INSERT (k, v, ts) VALUES (s.k, s.v, s.ts)"
        )
        target = spark.table("sqlmerge_t")
        got = _rows(
            target.join(src, "k", "left_anti").unionByName(src.select(*columns))
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS sqlmerge_t")

    assert got == expected == sorted(
        [(1, "a", _ts(10)), (2, "B", _ts(21)), (3, "c", _ts(30)), (4, "dd", _ts(41))]
    )


def test_merge_into_statement_shape():
    sql = merge_into_sql("tgt", "src", "k", ["k", "v", "ts"])
    assert sql.startswith("MERGE INTO tgt t USING src s ON t.k = s.k")
    assert "WHEN MATCHED THEN UPDATE SET t.v = s.v, t.ts = s.ts" in sql
    assert "WHEN NOT MATCHED THEN INSERT (k, v, ts) VALUES (s.k, s.v, s.ts)" in sql


def test_sql_merge_upsert_raises_on_v1_table(spark):
    """A v1 parquet catalog table cannot MERGE INTO: Spark's error is
    raised and the table is left as it was."""
    spark.sql("DROP TABLE IF EXISTS sqlmerge_v1")
    spark.createDataFrame(BASE, SCHEMA).write.saveAsTable("sqlmerge_v1")
    try:
        with pytest.raises(UnsupportedOperationException, match="MERGE INTO"):
            sql_merge_upsert(
                spark, "sqlmerge_v1", spark.createDataFrame(BATCH, SCHEMA),
                key="k", ts_col="ts",
            )
        assert _rows(spark.table("sqlmerge_v1")) == sorted(BASE)
    finally:
        spark.sql("DROP TABLE IF EXISTS sqlmerge_v1")


def _lakehouse_format_available(spark) -> str | None:
    """Detect a catalyst-native MERGE-capable table format on the
    classpath (Delta or Iceberg runtime jar). None in this container."""
    jars = spark.sparkContext._jsc.sc().listJars().mkString(",")
    if "delta" in jars.lower():
        return "delta"
    if "iceberg" in jars.lower():
        return "iceberg"
    try:
        import delta  # noqa: F401
        return "delta"
    except ImportError:
        return None


def test_native_merge_into_when_lakehouse_jars_present(spark, tmp_path):
    """Integration proof that merge_into_sql takes the catalyst-native
    path on a MERGE-capable format (transformer.py:2427-2458 runs this
    statement against Iceberg) and leaves the same table as
    ParquetMergeTable.  Skips when no Delta/Iceberg runtime is on the
    classpath; on an image with the jars this test runs for real."""
    fmt = _lakehouse_format_available(spark)
    if fmt is None:
        pytest.skip("no Delta/Iceberg runtime jar on the classpath")

    base = spark.createDataFrame(BASE, SCHEMA)
    batch = spark.createDataFrame(BATCH, SCHEMA)
    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="k",
                          fingerprint_col="v", ts_col="ts")
    t.create(base)
    t.merge_upsert(batch)
    expected = _rows(t.read())

    spark.sql("DROP TABLE IF EXISTS sqlmerge_native")
    base.write.format(fmt).saveAsTable("sqlmerge_native")
    path = sql_merge_upsert(spark, "sqlmerge_native", batch, key="k", ts_col="ts")
    got = _rows(spark.table("sqlmerge_native"))
    spark.sql("DROP TABLE IF EXISTS sqlmerge_native")
    assert path == "merge_into"
    assert got == expected == sorted(
        [(1, "a", _ts(10)), (2, "B", _ts(21)), (3, "c", _ts(30)), (4, "dd", _ts(41))]
    )
