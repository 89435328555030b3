"""Manifest-based data skipping: footer-stats bounds, range clustering,
file pruning, partition-dir point bounds — and the invariant that a
pruned scan returns exactly what a full scan + filter returns."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.sinks.manifest import (
    read_manifest,
    save_manifest,
    write_manifest,
)
from tlcn_oer_lakehouse_spark.sinks.merge import ParquetMergeTable, recorded_schema


def _clustered_table(spark, tmp_path, n=10_000, files=8):
    t = ParquetMergeTable(
        spark, str(tmp_path / "t"), key="id",
        cluster_by=("id",), cluster_files=files,
    )
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") * 7 % 1000).alias("val"),
        F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
    )
    t.create(df)
    return t


def test_manifest_written_with_bounds(spark, tmp_path):
    t = _clustered_table(spark, tmp_path)
    import os

    manifest = read_manifest(os.path.realpath(t.path))
    assert manifest is not None
    assert len(manifest["files"]) == 8
    for entry in manifest["files"]:
        assert "id" in entry["bounds"]
        mn, mx = entry["bounds"]["id"]
        assert mn <= mx
    # range clustering -> disjoint id ranges across files
    ranges = sorted(tuple(e["bounds"]["id"]) for e in manifest["files"])
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo


def test_range_predicate_prunes_files(spark, tmp_path):
    t = _clustered_table(spark, tmp_path)
    preds = [("id", ">=", 9000)]
    files = t.pruned_files(preds)
    assert files is not None and 0 < len(files) < 8
    got = sorted(r.id for r in t.scan(preds).collect())
    want = sorted(r.id for r in t.read().filter(F.col("id") >= 9000).collect())
    assert got == want


def test_equality_predicate_prunes_to_one_file(spark, tmp_path):
    t = _clustered_table(spark, tmp_path)
    files = t.pruned_files([("id", "=", 4242)])
    assert files is not None and len(files) == 1
    rows = t.scan([("id", "=", 4242)]).collect()
    assert len(rows) == 1 and rows[0].val == 4242 * 7 % 1000


def test_empty_selection_returns_empty_with_schema(spark, tmp_path):
    t = _clustered_table(spark, tmp_path)
    df = t.scan([("id", ">", 10_000_000)])
    assert df.count() == 0
    assert set(df.columns) == {"id", "val", "record_fingerprint"}


def test_partition_dirs_become_point_bounds(spark, tmp_path):
    t = ParquetMergeTable(
        spark, str(tmp_path / "p"), key="id", partition_by=("bucket",)
    )
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 4).alias("bucket"),
        F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
    )
    t.create(df)
    files = t.pruned_files([("bucket", "=", 2)])
    assert files is not None
    assert all("bucket=2" in f for f in files)
    got = sorted(r.id for r in t.scan([("bucket", "=", 2)]).collect())
    assert got == sorted(range(2, 1000, 4))


def test_merge_refreshes_manifest(spark, tmp_path):
    t = _clustered_table(spark, tmp_path, n=100, files=2)
    t.merge_upsert(
        spark.createDataFrame([(1_000_000, 7, "x")],
                              ["id", "val", "record_fingerprint"])
    )
    files = t.pruned_files([("id", ">=", 1_000_000)])
    assert files is not None and len(files) >= 1
    assert [r.id for r in t.scan([("id", ">=", 1_000_000)]).collect()] == [1_000_000]


def test_unclustered_table_keeps_all_files(spark, tmp_path):
    # without stats on the predicate column, pruning must keep the file
    t = ParquetMergeTable(spark, str(tmp_path / "u"), key="id")
    t.create(spark.createDataFrame([(1, "a", "f1"), (2, "b", "f2")],
                                   ["id", "val", "record_fingerprint"]))
    import os

    snap = os.path.realpath(t.path)
    write_manifest(snap)
    files = t.pruned_files([("nonexistent_col", ">=", 5)])
    assert files is not None and len(files) > 0


def test_zorder_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order clustering: single-dimension predicates prune files for
    EVERY participating column — the property plain range clustering on
    (a, b) lacks (b-only predicates scan all files there)."""
    n, files = 4096, 16
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 64).alias("a"),
        (F.col("id") / 64).cast("long").alias("b"),
        F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
    )
    zt = ParquetMergeTable(
        spark, str(tmp_path / "z"), key="id",
        cluster_by=("a", "b"), cluster_files=files, zorder=True,
    )
    zt.create(df)

    pruned_a = zt.pruned_files([("a", "=", 3)])
    pruned_b = zt.pruned_files([("b", "=", 3)])
    assert len(pruned_a) < files and len(pruned_b) < files
    # conjunctive predicate prunes at least as hard as either alone
    pruned_ab = zt.pruned_files([("a", "=", 3), ("b", "=", 3)])
    assert len(pruned_ab) <= min(len(pruned_a), len(pruned_b))

    # correctness: pruned scan == full filter, on all three predicates
    for preds in ([("a", "=", 3)], [("b", "=", 3)], [("a", "=", 3), ("b", "=", 3)]):
        got = sorted(r.id for r in zt.scan(preds).collect())
        full = zt.read()
        for col, _, val in preds:
            full = full.filter(F.col(col) == val)
        assert got == sorted(r.id for r in full.collect())

    # contrast: lexicographic range clustering on (a, b) cannot prune
    # b-only predicates (a is the leading sort key; b spans all files)
    rt = ParquetMergeTable(
        spark, str(tmp_path / "r"), key="id",
        cluster_by=("a", "b"), cluster_files=files,
    )
    rt.create(df)
    assert len(rt.pruned_files([("b", "=", 3)])) == files


def test_hidden_day_partitioning_prunes_on_source_column(spark, tmp_path):
    """Iceberg-style hidden partitioning: the table partitions by
    day(ts); predicates on ts itself prune partitions, and the derived
    column never appears in the schema."""
    import datetime as dt

    t = ParquetMergeTable(
        spark, str(tmp_path / "h"), key="id",
        partition_transforms={"ts_day": ("day", "ts")},
    )
    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 3, 12, 0, 0), f"f{i}")
        for i in range(300)
    ]
    t.create(spark.createDataFrame(
        rows, "id bigint, ts timestamp, record_fingerprint string"
    ))

    assert "ts_day" not in t.read().columns
    all_files = t.pruned_files([])
    pruned = t.pruned_files([("ts", ">=", dt.datetime(2024, 1, 3))])
    assert 0 < len(pruned) < len(all_files)
    assert all("ts_day=2024-01-03" in f for f in pruned)

    got = sorted(r.id for r in t.scan([("ts", ">=", dt.datetime(2024, 1, 3))]).collect())
    want = sorted(
        r.id for r in t.read().filter(F.col("ts") >= "2024-01-03").collect()
    )
    assert got == want and "ts_day" not in t.scan([("ts", ">=", dt.datetime(2024, 1, 3))]).columns


def test_hidden_bucket_partitioning_equality_prune(spark, tmp_path):
    t = ParquetMergeTable(
        spark, str(tmp_path / "hb"), key="id",
        partition_transforms={"id_b": ("bucket", "id", 8)},
    )
    t.create(spark.range(400).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("record_fingerprint")
    ))
    all_files = t.pruned_files([])
    pruned = t.pruned_files([("id", "=", 123)])
    assert 0 < len(pruned) < len(all_files)
    rows = t.scan([("id", "=", 123)]).collect()
    assert [r.id for r in rows] == [123]
    # range predicates must NOT be mapped through the hash bucket
    assert len(t.pruned_files([("id", ">=", 0)])) == len(all_files)


def test_every_commit_publishes_a_sound_manifest(spark, tmp_path):
    """The commit reuses the head's manifest entries for inherited files
    and reads footers only for new ones.  After every kind of commit the
    published manifest must equal one written from scratch over a copy
    of the version dir."""
    import os
    import shutil

    import pyarrow as pa

    from tlcn_oer_lakehouse_spark.sources import pyds

    pyds.register(spark)

    def assert_sound(path):
        snap = os.path.realpath(path)
        copy = str(tmp_path / "copies" / os.path.basename(snap))
        shutil.copytree(snap, copy)
        write_manifest(copy)
        published, fresh = (
            {e["path"]: e for e in read_manifest(d)["files"]} for d in (snap, copy)
        )
        assert published and published == fresh

    # hive-partitioned: inherited files keep their nested relative paths
    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="id",
                          partition_by=("grp",))
    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 3).alias("grp"),
        F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
    )
    for commit in (
        lambda: t.create(df),
        lambda: t.merge_upsert(
            df.filter("id < 10").withColumn("record_fingerprint", F.lit("x"))
        ),
        lambda: t.merge_delete(df.filter("id >= 20").select("id")),
        lambda: t.delete_where_mor([("id", ">=", 150)]),
        t.compact,
        lambda: t.rollback(t.versions()[0]),
    ):
        commit()
        assert_sound(t.path)

    path = str(tmp_path / "py")
    for n, mode in ((50, "append"), (80, "append"), (30, "overwrite")):
        spark.range(n).write.format("oer_mergetable").option(
            "path", path
        ).mode(mode).save()
        assert_sound(path)
    w = pyds._MergeTableStreamWriter({"path": path})
    batch = pa.record_batch({"id": pa.array([900, 901], type=pa.int64())})
    w.commit([w.write(iter([batch]))], 0)
    assert_sound(path)
    assert sorted(r.id for r in ParquetMergeTable(spark, path, key="id")
                  .read().collect()) == list(range(30)) + [900, 901]


def _assert_schema_recorded(spark, path):
    """The schema the head's commit recorded is exactly what
    ``spark.read.parquet`` infers for the version dir."""
    import os

    snap = os.path.realpath(path)
    recorded = recorded_schema(snap)
    assert recorded is not None
    assert recorded == spark.read.parquet(snap).schema


@pytest.mark.parametrize("parts", [("p1", "p2"), (1, 2), ("2024-01-01", "2024-01-02")],
                         ids=["string", "int", "date_like"])
def test_recorded_schema_equals_inferred(spark, tmp_path, parts):
    """Every ``ParquetMergeTable`` commit (create, merge, a schema-evolving
    merge, compact, rollback, merge-on-read delete) records the inferred
    schema, partition-column types included: a long partition column
    reads as int and date-like strings read as dates."""
    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="id", partition_by=("part",))
    df = spark.range(40).select(
        "id",
        F.when(F.col("id") % 2 == 0, F.lit(parts[0])).otherwise(F.lit(parts[1])).alias("part"),
        F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
    )
    for commit in (
        lambda: t.create(df),
        lambda: t.merge(df.filter("id < 5").withColumn("record_fingerprint", F.lit("x")),
                        current_keys=df.filter("id < 30").select("id")),
        lambda: t.merge_upsert(df.filter("id >= 35").withColumn("extra", F.col("id") * 2.5)),
        t.compact,
        lambda: t.delete_where_mor([("id", "<", 3)]),
        lambda: t.rollback(t.versions()[0]),
    ):
        commit()
        _assert_schema_recorded(spark, t.path)
    assert sorted(r.id for r in t.read().collect()) == list(range(40))


def test_recorded_schema_with_hidden_transforms(spark, tmp_path):
    """Hidden partition columns (day and bucket transforms) are part of
    the recorded read schema, typed as inference types them."""
    import datetime as dt

    rows = [(i, dt.datetime(2024, 1, 1 + i % 3, 12), f"f{i}") for i in range(60)]
    df = spark.createDataFrame(rows, "id bigint, ts timestamp, record_fingerprint string")
    for transforms in ({"ts_day": ("day", "ts")}, {"id_b": ("bucket", "id", 8)}):
        name = next(iter(transforms))
        t = ParquetMergeTable(spark, str(tmp_path / name), key="id",
                              partition_transforms=transforms)
        t.create(df)
        _assert_schema_recorded(spark, t.path)
        t.merge_upsert(df.filter("id < 4").withColumn("record_fingerprint", F.lit("x")))
        _assert_schema_recorded(spark, t.path)
        assert name not in t.read().columns and t.read().count() == 60


def test_python_writers_record_the_inferred_schema(spark, tmp_path):
    """The Python DataSource batch writer (append and overwrite) and the
    stream writer's commit record what Spark infers from their
    pyarrow-written files."""
    import datetime as dt

    from tlcn_oer_lakehouse_spark.sources import pyds

    pyds.register(spark)
    path = str(tmp_path / "py")
    df = spark.createDataFrame(
        [(1, "a", 0.5, dt.datetime(2024, 1, 1), dt.date(2024, 1, 2), ["x"])],
        "id bigint not null, s string, d double, ts timestamp, day date, tags array<string>",
    )
    for mode in ("overwrite", "append"):
        df.write.format("oer_mergetable").option("path", path).mode(mode).save()
        _assert_schema_recorded(spark, path)
    w = pyds._MergeTableStreamWriter({"path": path})
    w.commit([w.write(iter(df.toArrow().to_batches()))], 0)
    _assert_schema_recorded(spark, path)
    assert ParquetMergeTable(spark, path, key="id").read().count() == 3


def test_snapshot_without_recorded_schema_still_reads(spark, tmp_path):
    """A manifest written before schemas were recorded has no ``schema``
    entry; its snapshot is read by inference."""
    import os

    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="id", partition_by=("grp",))
    t.create(spark.range(10).select(
        "id", (F.col("id") % 2).alias("grp"),
        F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
    ))
    snap = os.path.realpath(t.path)
    save_manifest(snap, read_manifest(snap)["files"])
    assert recorded_schema(snap) is None
    assert t.read().schema == spark.read.parquet(snap).schema
    assert sorted(r.id for r in t.scan([("grp", "=", 1)]).collect()) == [1, 3, 5, 7, 9]
    assert t.merge_upsert(t.read().filter("id = 0").withColumn(
        "record_fingerprint", F.lit("x"))) == 1
    _assert_schema_recorded(spark, t.path)


def _assert_changes_schema_recorded(spark, path):
    """The head commit recorded its change log's read schema, exactly
    what ``spark.read.parquet`` infers for its ``_changes/`` dir."""
    import os

    from tlcn_oer_lakehouse_spark.sinks.merge import changes_dir

    snap = os.path.realpath(path)
    recorded = recorded_schema(snap, "changes_schema")
    assert recorded is not None
    assert recorded == spark.read.parquet(changes_dir(snap)).schema


def test_change_log_schema_recorded_by_every_writer(spark, tmp_path):
    """Each writer that logs changes records the log's read schema:
    ``ParquetMergeTable`` create, merge with a delete clause, a
    schema-evolving merge, merge-on-read delete and rollback; an SCD2
    stream commit; the Python DataSource append and stream writers."""
    import datetime as dt

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from tlcn_oer_lakehouse_spark.sources import pyds
    from tlcn_oer_lakehouse_spark.streaming.ingest import scd2_ingest

    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="id", partition_by=("part",))
    df = spark.range(40).select(
        "id",
        F.when(F.col("id") % 2 == 0, F.lit("2024-01-01")).otherwise(F.lit("p")).alias("part"),
        F.array(F.col("id"), F.lit(None).cast("long")).alias("arr"),
        F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
    )
    for commit in (
        lambda: t.create(df),
        lambda: t.merge(df.filter("id < 5").withColumn("record_fingerprint", F.lit("x")),
                        current_keys=df.filter("id < 30").select("id")),
        lambda: t.merge_upsert(df.filter("id >= 35").withColumn("extra", F.col("id") * 2.5)),
        lambda: t.delete_where_mor([("id", "<", 3)]),
        lambda: t.rollback(t.versions()[0]),
    ):
        commit()
        _assert_changes_schema_recorded(spark, t.path)

    schema = StructType([StructField("id", LongType()), StructField("seg", StringType()),
                         StructField("ts", TimestampType())])
    landing, dim = str(tmp_path / "landing"), ParquetMergeTable(
        spark, str(tmp_path / "dim"), key="id")
    for i in range(2):
        ts = dt.datetime(2024, 1, 1 + i)
        spark.createDataFrame([(1, f"s{i}", ts), (10 + i, "new", ts)], schema).coalesce(
            1).write.parquet(f"{landing}/b{i}")
        q = scd2_ingest(spark.readStream.schema(schema).parquet(f"{landing}/*"), dim,
                        key="id", tracked_cols=["seg"], ts_col="ts",
                        checkpoint_dir=str(tmp_path / "ckpt"))
        assert q.awaitTermination(120)
        _assert_changes_schema_recorded(spark, dim.path)

    pyds.register(spark)
    path = str(tmp_path / "py")
    rows = spark.createDataFrame(
        [(1, "a", 0.5, dt.datetime(2024, 1, 1), dt.date(2024, 1, 2), ["x"])],
        "id bigint not null, s string, d double, ts timestamp, day date, tags array<string>",
    )
    rows.write.format("oer_mergetable").option("path", path).mode("append").save()
    _assert_changes_schema_recorded(spark, path)
    w = pyds._MergeTableStreamWriter({"path": path}, rows.schema)
    w.commit([w.write(iter(rows.toArrow().to_batches()))], 0)
    _assert_changes_schema_recorded(spark, path)


def test_read_changes_plans_without_a_job(spark, tmp_path):
    """Planning ``read_changes`` over 4 versions starts no Spark job: each
    log is read with its recorded schema, and a log of more files than
    Spark lists serially in one read (``parallelPartitionDiscovery
    .threshold``, 32) is read in groups that stay under it.  A log whose
    commit recorded no schema is still read, by inference."""
    from tlcn_oer_lakehouse_spark.sinks.manifest import data_files
    from tlcn_oer_lakehouse_spark.sinks.merge import changes_dir, version_dir

    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="id")
    base = spark.range(20).select("id", F.md5(F.col("id").cast("string"))
                                  .alias("record_fingerprint"))
    t.create(base)
    for i in range(3):
        t.merge_upsert(base.filter(f"id = {i}").withColumn("record_fingerprint", F.lit("x")))
    wide = {"spark.sql.shuffle.partitions": "40",
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    saved = {k: spark.conf.get(k) for k in wide}
    try:
        for k, v in wide.items():
            spark.conf.set(k, v)
        t.merge_upsert(spark.range(100, 500).select(
            "id", F.md5(F.col("id").cast("string")).alias("record_fingerprint")))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert len(data_files(changes_dir(version_dir(t.path, 4)))) > 32

    sc = spark.sparkContext
    sc.setJobGroup("plan-changes", "plan read_changes")
    try:
        feed = t.read_changes(0)
        feed.schema  # noqa: B018 — planning only
        jobs = sc.statusTracker().getJobIdsForGroup("plan-changes")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    want = sorted([(i + 1, i, c) for i in range(3)
                   for c in ("update_postimage", "update_preimage")]
                  + [(4, i, "insert") for i in range(100, 500)])
    got = sorted((r._commit_version, r.id, r._change_type) for r in feed.collect())
    assert got == want
    snap = version_dir(t.path, 2)
    manifest = read_manifest(snap)
    save_manifest(snap, manifest["files"], schema=manifest["schema"])
    assert recorded_schema(snap, "changes_schema") is None
    assert sorted((r._commit_version, r.id, r._change_type)
                  for r in t.read_changes(0).collect()) == want
