"""ParquetMergeTable sink: K1 upsert, K2 delete, K6 schema evolution,
and the idempotence property the reference's incremental silver layer
guarantees by construction (SURVEY §5: run-twice must be a no-op)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.sinks.merge import ParquetMergeTable


def _mk(spark, rows, cols=("id", "val", "record_fingerprint")):
    return spark.createDataFrame(rows, list(cols))


def _fp(df):
    return df.withColumn("record_fingerprint", F.md5(F.col("val")))


def table(spark, tmp_path):
    return ParquetMergeTable(spark, str(tmp_path / "t"), key="id")


def test_create_and_read(spark, tmp_path):
    t = table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])))
    assert sorted((r.id, r.val) for r in t.read().collect()) == [(1, "a"), (2, "b")]


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    t = table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])))
    n = t.merge_upsert(_fp(spark.createDataFrame([(2, "B"), (3, "c")], ["id", "val"])))
    assert n == 2
    assert sorted((r.id, r.val) for r in t.read().collect()) == [
        (1, "a"), (2, "B"), (3, "c"),
    ]


def test_merge_upsert_idempotent(spark, tmp_path):
    t = table(spark, tmp_path)
    batch = _fp(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"]))
    t.create(batch)
    # identical re-send: change detection must find nothing, write nothing
    assert t.merge_upsert(batch) == 0
    assert sorted((r.id, r.val) for r in t.read().collect()) == [(1, "a"), (2, "b")]


def test_merge_upsert_latest_wins_within_batch(spark, tmp_path):
    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="id", ts_col="ts")
    batch = spark.createDataFrame(
        [(1, "old", 1, "f1"), (1, "new", 2, "f2")],
        ["id", "val", "ts", "record_fingerprint"],
    )
    t.merge_upsert(batch)
    assert [(r.id, r.val) for r in t.read().collect()] == [(1, "new")]


def test_schema_evolution_adds_column(spark, tmp_path):
    t = table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a")], ["id", "val"])))
    evolved = _fp(
        spark.createDataFrame([(2, "b", "extra")], ["id", "val", "new_col"])
    )
    t.merge_upsert(evolved)
    rows = {r.id: r for r in t.read().collect()}
    assert rows[1].new_col is None and rows[2].new_col == "extra"


def test_merge_delete(spark, tmp_path):
    t = table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "val"])))
    n = t.merge_delete(spark.createDataFrame([(1,), (3,)], ["id"]))
    assert n == 1
    assert sorted(r.id for r in t.read().collect()) == [1, 3]


def test_partitioned_write_prunes(spark, tmp_path):
    t = ParquetMergeTable(
        spark, str(tmp_path / "t"), key="id", partition_by=("part",)
    )
    df = spark.createDataFrame(
        [(1, "a", "p1", "f1"), (2, "b", "p2", "f2")],
        ["id", "val", "part", "record_fingerprint"],
    )
    t.create(df)
    # partition pruning visible in the physical plan of a filtered read
    plan = t.read().filter(F.col("part") == "p1")._jdf.queryExecution().executedPlan().toString()
    assert "p1" in plan or t.read().filter(F.col("part") == "p1").count() == 1


def test_compact_reduces_files(spark, tmp_path):
    t = table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(i, f"v{i}") for i in range(100)], ["id", "val"])))
    # several merges accrete files
    for batch_start in (100, 200, 300):
        t.merge_upsert(
            _fp(
                spark.createDataFrame(
                    [(batch_start + i, f"n{i}") for i in range(50)], ["id", "val"]
                )
            )
        )
    import glob

    before = len(glob.glob(f"{t.path}/**/*.parquet", recursive=True))
    n_after = t.compact(target_files_per_partition=1)
    assert n_after <= before
    assert n_after == 1
    assert t.read().count() == 250


def test_time_travel_versions_and_read(spark, tmp_path):
    """Every head swap retains the displaced snapshot; read_version
    reproduces historical contents exactly (VERSION AS OF analog)."""
    t = table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])))
    assert t.versions() == []  # first write displaced nothing
    t.merge_upsert(_fp(spark.createDataFrame([(2, "B")], ["id", "val"])))
    t.merge_upsert(_fp(spark.createDataFrame([(3, "c")], ["id", "val"])))
    assert t.versions() == [0, 1]
    assert sorted((r.id, r.val) for r in t.read_version(0).collect()) == [
        (1, "a"), (2, "b"),
    ]
    assert sorted((r.id, r.val) for r in t.read_version(1).collect()) == [
        (1, "a"), (2, "B"),
    ]
    hist = t.history()
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert [h["is_current"] for h in hist] == [False, False, True]


def test_rollback_restores_and_is_undoable(spark, tmp_path):
    t = table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a")], ["id", "val"])))
    t.merge_upsert(_fp(spark.createDataFrame([(1, "A2")], ["id", "val"])))
    t.rollback(0)
    assert [(r.id, r.val) for r in t.read().collect()] == [(1, "a")]
    # the displaced "A2" head was itself retained
    assert sorted((r.id, r.val) for r in t.read_version(1).collect()) == [(1, "A2")]


def test_vacuum_prunes_old_versions(spark, tmp_path):
    t = table(spark, tmp_path)
    t.create(_fp(spark.createDataFrame([(1, "a")], ["id", "val"])))
    for v in ("b", "c", "d", "e"):
        t.merge_upsert(_fp(spark.createDataFrame([(1, v)], ["id", "val"])))
    assert t.versions() == [0, 1, 2, 3]
    removed = t.vacuum(keep_last=2)
    assert removed == 2
    assert t.versions() == [2, 3]
    try:
        t.read_version(0)
        raise AssertionError("vacuumed version should not be readable")
    except ValueError:
        pass


def test_reader_survives_head_swap(spark, tmp_path):
    """Snapshot isolation claim (merge.py module docstring): a reader
    holding a DataFrame over the table is unaffected by a concurrent
    merge — the head symlink swap retains the displaced version dir, so
    the old plan keeps resolving until vacuum removes that version."""
    from pyspark.sql import functions as F

    from tlcn_oer_lakehouse_spark.sinks.merge import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "t"), key="k", fingerprint_col="v")
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))

    # reader opens the table BEFORE the merge...
    old_reader = t.read()
    # ...writer swaps in a new snapshot meanwhile
    t.merge_upsert(spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"))

    # the pre-swap reader still sees the pre-swap data, post-swap readers
    # see the merged table; the head path never stopped resolving
    assert sorted((r.k, r.v) for r in old_reader.collect()) == [(1, "a"), (2, "b")]
    assert sorted((r.k, r.v) for r in t.read().collect()) == [
        (1, "a"), (2, "B"), (3, "c")
    ]
    # the displaced snapshot is a retained version until vacuumed
    assert t.versions()
    t.vacuum(keep_last=0)
    assert not t.versions()


def test_describe_detail(spark, tmp_path):
    from pyspark.sql import functions as F

    t = ParquetMergeTable(
        spark, str(tmp_path / "d"), key="id",
        cluster_by=("id",), cluster_files=4,
    )
    t.create(
        spark.range(400).select(
            F.col("id"),
            F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
        )
    )
    t.merge_upsert(
        spark.range(400, 410).select(
            F.col("id"),
            F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
        )
    )
    d = t.detail()
    assert d["n_rows"] == 410
    assert d["n_data_files"] == 4 and d["total_bytes"] > 0
    assert d["head_version"] == 1 and d["retained_versions"] == 1
    assert d["cluster_by"] == ["id"] and not d["zorder"]
    assert d["n_tombstone_files"] == 0 and d["has_change_feed"]
    t.delete_where_mor([("id", "<", 10)])
    assert t.detail()["n_tombstone_files"] >= 1
