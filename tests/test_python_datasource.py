"""The Spark 4 Python DataSource surface over ParquetMergeTable
(`sources/pyds.py`): native `spark.read.format(...)` with time travel,
manifest-fed file pruning, MOR tombstones, hive partitions — and
`spark.readStream` over the change feed."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.sinks.merge import ParquetMergeTable, all_version_nums, head_version
from tlcn_oer_lakehouse_spark.sources import pyds


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    pyds.register(spark)


def _df(spark, n=1000):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 3).cast("double").alias("val"),
        F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
    )


def _table(spark, tmp_path, name="t", **kw):
    t = ParquetMergeTable(spark, str(tmp_path / name), key="id", **kw)
    t.create(_df(spark))
    return t


def _read(spark, t, **options):
    r = spark.read.format("oer_mergetable").option("path", t.path)
    for k, v in options.items():
        r = r.option(k, str(v))
    return r.load()


def test_batch_read_matches_table_read(spark, tmp_path):
    t = _table(spark, tmp_path)
    got = {r.id: r for r in _read(spark, t).collect()}
    want = {r.id: r for r in t.read().collect()}
    assert len(got) == len(want) == 1000
    assert got[7].val == want[7].val and got[7].grp == want[7].grp


def test_hive_partition_columns_reconstructed(spark, tmp_path):
    t = ParquetMergeTable(
        spark, str(tmp_path / "p"), key="id", partition_by=("grp",)
    )
    t.create(_df(spark))
    df = _read(spark, t)
    assert dict(df.dtypes)["grp"] == "int"  # hive-inferred, not string
    got = df.groupBy("grp").count().collect()
    assert {r.grp: r["count"] for r in got} == {
        g: (143 if g < 6 else 142) for g in range(7)
    }


def test_time_travel_option(spark, tmp_path):
    t = _table(spark, tmp_path)
    head_before = int(
        _read(spark, t).count()
    )
    batch = spark.range(5000, 5010).select(
        F.col("id"), (F.col("id") % 7).alias("grp"),
        (F.col("id") * 3).cast("double").alias("val"),
        F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
    )
    t.merge_upsert(batch)
    assert _read(spark, t).count() == head_before + 10
    v0 = t.versions()[0]
    assert _read(spark, t, version=v0).count() == head_before


def test_filter_pushdown_prunes_files_but_stays_correct(spark, tmp_path):
    t = ParquetMergeTable(
        spark, str(tmp_path / "c"), key="id",
        cluster_by=("id",), cluster_files=8,
    )
    t.create(_df(spark))
    df = _read(spark, t).filter(F.col("id") == 137)
    rows = df.collect()
    assert len(rows) == 1 and rows[0].val == 411.0
    # planning-level check: the reader's partitions() under the same
    # pushed predicate keeps only the manifest-selected file(s)
    reader = pyds._MergeTableReader({"path": t.path})
    reader._predicates = [("id", "=", 137)]
    pruned = reader.partitions()
    reader2 = pyds._MergeTableReader({"path": t.path})
    assert len(pruned) == 1 and len(reader2.partitions()) == 8


def test_mor_tombstones_respected(spark, tmp_path):
    t = _table(spark, tmp_path, name="m")
    t.delete_where_mor([("id", "<", 100)])
    with pytest.raises(Exception, match="tombstones"):
        _read(spark, t).collect()
    df = _read(spark, t, key="id")
    assert df.count() == 900
    assert df.agg(F.min("id")).collect()[0][0] == 100


def test_changes_stream_matches_batch_feed(spark, tmp_path):
    t = _table(spark, tmp_path, name="s")
    batch = spark.range(0, 5).select(
        F.col("id"), (F.col("id") % 7).alias("grp"),
        (F.col("id") * 1000).cast("double").alias("val"),
        F.md5((F.col("id") * 9 + 1).cast("string")).alias("record_fingerprint"),
    )
    t.merge_upsert(batch)  # 5 updates (pre+post images)
    t.merge_upsert(
        spark.range(2000, 2003).select(
            F.col("id"), (F.col("id") % 7).alias("grp"),
            (F.col("id") * 3).cast("double").alias("val"),
            F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
        )
    )  # 3 inserts
    t.merge_upsert(
        spark.range(3000, 3002).select(
            F.col("id"), (F.col("id") % 7).alias("grp"),
            (F.col("id") * 3).cast("double").alias("val"),
            F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
            F.lit("new").alias("extra"),
        )
    )  # 2 inserts that add a column (schema evolution)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("oer_mergetable_changes")
        .option("path", t.path)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    head = max(v for v in all_version_nums(t.path))
    # default start is -1 (exclusive): the feed includes commit v0 —
    # the CREATE's 1000 insert rows — like the batch feed opened at -1
    want = t.read_changes(-1, None)
    assert got.count() == want.count()
    by_type = {r["_change_type"]: r["n"] for r in
               got.groupBy("_change_type").agg(F.count("*").alias("n")).collect()}
    assert by_type["insert"] == 1005  # create's 1000 + the upserts' 3 + 2
    assert by_type["update_preimage"] == by_type["update_postimage"] == 5
    assert got.agg(F.min("_commit_version")).collect()[0][0] == 0
    assert got.agg(F.max("_commit_version")).collect()[0][0] == head
    # the stream keeps the evolved column and null-fills older commits,
    # row for row like the batch feed
    cols = sorted(want.columns)
    assert sorted(got.columns) == cols
    assert Counter(map(tuple, got.select(*cols).collect())) == Counter(
        map(tuple, want.select(*cols).collect())
    )


def test_changes_stream_restart_delivers_only_new_commits(spark, tmp_path):
    t = _table(spark, tmp_path, name="r")
    out = str(tmp_path / "rsink")
    ckpt = str(tmp_path / "rckpt")

    def drain():
        q = (
            spark.readStream.format("oer_mergetable_changes")
            .option("path", t.path)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    n1 = spark.read.parquet(out).count()
    t.merge_upsert(
        spark.range(9000, 9004).select(
            F.col("id"), (F.col("id") % 7).alias("grp"),
            (F.col("id") * 3).cast("double").alias("val"),
            F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
        )
    )
    drain()
    delta = spark.read.parquet(out).count() - n1
    assert delta == 4  # exactly the new commit's insert rows, no replay


def _write(df, path, mode):
    df.write.format("oer_mergetable").option("path", path).mode(mode).save()


def test_writer_creates_table_readable_both_ways(spark, tmp_path):
    path = str(tmp_path / "w")
    _write(_df(spark, 500), path, "append")
    assert spark.read.format("oer_mergetable").option("path", path).load().count() == 500
    t = ParquetMergeTable(spark, path, key="id")
    assert t.read().count() == 500


def test_writer_append_adds_rows_and_logs_cdf_inserts(spark, tmp_path):
    path = str(tmp_path / "wa")
    _write(_df(spark, 500), path, "append")
    extra = spark.range(10_000, 10_020).select(
        F.col("id"), (F.col("id") % 7).alias("grp"),
        (F.col("id") * 3).cast("double").alias("val"),
        F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
    )
    _write(extra, path, "append")
    t = ParquetMergeTable(spark, path, key="id")
    assert t.read().count() == 520
    # the append commit's change log carries exactly the new rows
    head = all_version_nums(t.path)[-1]
    feed = t.read_changes(head - 1, head)
    assert feed.count() == 20
    assert {r["_change_type"] for r in feed.select("_change_type").distinct().collect()} == {"insert"}
    # and the streaming CDF source sees them too
    out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
    q = (spark.readStream.format("oer_mergetable_changes")
         .option("path", path).option("since_version", head - 1).load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 20


def test_writer_overwrite_keeps_time_travel(spark, tmp_path):
    path = str(tmp_path / "wo")
    _write(_df(spark, 300), path, "append")
    _write(_df(spark, 50), path, "overwrite")
    t = ParquetMergeTable(spark, path, key="id")
    assert t.read().count() == 50
    assert t.read_version(t.versions()[0]).count() == 300


def _fold(rows, cols):
    """Fold change rows into the table state they describe, commit by
    commit: a commit's deletes and preimages remove the rows they carry
    (which must be present, value for value) before its inserts and
    postimages add theirs (whose keys must be absent)."""
    state: dict = {}
    for v in sorted({r["_commit_version"] for r in rows}):
        commit = [r for r in rows if r["_commit_version"] == v]
        for r in commit:
            if r["_change_type"] in ("delete", "update_preimage"):
                assert state.pop(r["id"]) == tuple(r[c] for c in cols), r
        for r in commit:
            if r["_change_type"] in ("insert", "update_postimage"):
                assert r["id"] not in state, r
                state[r["id"]] = tuple(r[c] for c in cols)
    return state


def _assert_feeds_fold_to_head(spark, tmp_path, t):
    """``read_changes`` from before the first commit and the
    ``oer_mergetable_changes`` stream both fold to the head's rows."""
    cols = ["id", "grp", "val", "record_fingerprint"]
    head = {r["id"]: tuple(r[c] for c in cols) for r in t.read().collect()}
    assert _fold(t.read_changes(-1).collect(), cols) == head
    seen: list = []
    q = (spark.readStream.format("oer_mergetable_changes").option("path", t.path)
         .load().writeStream.foreachBatch(lambda df, _: seen.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert _fold(seen, cols) == head


def test_writer_overwrite_logs_replaced_rows_and_new_rows(spark, tmp_path):
    """An overwrite logs the rows it replaces as ``delete`` and its own
    rows as ``insert`` — also for keys it rewrites with new values — so
    every fold over the change feed reaches the head."""
    path = str(tmp_path / "wf")
    _write(_df(spark, 5), path, "append")
    # ids 3 and 4 rewritten with new values, 100-102 new
    new = spark.createDataFrame([(i,) for i in (3, 4, 100, 101, 102)], "id bigint").select(
        "id", (F.col("id") % 7).alias("grp"),
        (F.col("id") * 5).cast("double").alias("val"),
        F.md5(F.col("id").cast("string")).alias("record_fingerprint"),
    )
    _write(new, path, "overwrite")
    t = ParquetMergeTable(spark, path, key="id")
    assert sorted(r.id for r in t.read().collect()) == [3, 4, 100, 101, 102]
    head = head_version(t.path)
    feed = Counter(r["_change_type"] for r in t.read_changes(head - 1).collect())
    assert feed == {"delete": 5, "insert": 5}
    _assert_feeds_fold_to_head(spark, tmp_path, t)


def test_writer_overwrite_of_partitioned_mor_table_logs_visible_rows(spark, tmp_path):
    """Overwriting a hive-partitioned table with merge-on-read tombstones
    logs only its visible rows as deletes, with the partition column
    read from the directories; without the ``key`` option the commit
    refuses (the tombstones cannot be applied) and the table stays."""
    t = ParquetMergeTable(spark, str(tmp_path / "wp"), key="id", partition_by=("grp",))
    t.create(_df(spark, 40))
    t.delete_where_mor([("id", "<", 6)])
    with pytest.raises(Exception, match="tombstones"):
        _write(_df(spark, 3), t.path, "overwrite")
    assert t.read().count() == 34
    _df(spark, 3).write.format("oer_mergetable").option("path", t.path).option(
        "key", "id").mode("overwrite").save()
    head = head_version(t.path)
    deleted = t.read_changes(head - 1).filter("_change_type = 'delete'")
    assert sorted(r.id for r in deleted.collect()) == list(range(6, 40))
    _assert_feeds_fold_to_head(spark, tmp_path, t)


def test_changes_stream_schema_spans_an_overwrite_that_changes_columns(spark, tmp_path):
    """An overwrite with other columns logs the replaced rows at the old
    schema and its own at the new one; the change stream's schema holds
    both, as the batch feed's does."""
    path = str(tmp_path / "wc")
    _write(spark.range(3).select("id", F.lit("a").alias("old")), path, "append")
    _write(spark.range(3).select("id", F.lit(1.5).alias("new")), path, "overwrite")
    want = {"id", "old", "new", "_change_type", "_commit_version"}
    t = ParquetMergeTable(spark, path, key="id")
    assert set(t.read_changes(-1).columns) == want
    stream = spark.readStream.format("oer_mergetable_changes").option("path", path).load()
    assert set(stream.columns) == want


def test_writer_append_schema_mismatch_raises(spark, tmp_path):
    path = str(tmp_path / "wm")
    _write(_df(spark, 100), path, "append")
    bad = spark.range(5).select(F.col("id"), F.lit("x").alias("surprise"))
    with pytest.raises(Exception, match="does not match"):
        _write(bad, path, "append")
    # failed commit must not have advanced the table
    t = ParquetMergeTable(spark, path, key="id")
    assert t.read().count() == 100


def test_writer_append_rejects_hive_partitioned_tables(spark, tmp_path):
    t = ParquetMergeTable(spark, str(tmp_path / "wp"), key="id",
                          partition_by=("grp",))
    t.create(_df(spark, 100))
    with pytest.raises(Exception, match="hive-partitioned"):
        _write(_df(spark, 10), t.path, "append")


def test_stream_writer_appends_with_exactly_once_epochs(spark, tmp_path):
    """df.writeStream.format('oer_mergetable'): micro-batches append
    through the snapshot protocol with CDF insert logs; a second run over
    the same landing data (fresh checkpoint, same epoch content) is the
    replay the epoch markers must swallow when checkpoints survive."""
    landing = str(tmp_path / "landing")
    path = str(tmp_path / "st")
    ckpt = str(tmp_path / "ck")
    _df(spark, 100).coalesce(1).write.parquet(f"{landing}/b1")

    def run(checkpoint):
        q = (
            spark.readStream.schema(_df(spark, 1).schema)
            .parquet(f"{landing}/*")
            .writeStream.format("oer_mergetable")
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(ckpt)
    t = ParquetMergeTable(spark, path, key="id")
    assert t.read().count() == 100
    # second batch through the SAME checkpoint: appends once
    _df(spark, 1000).filter(F.col("id") >= 990).coalesce(1).write.parquet(
        f"{landing}/b2"
    )
    run(ckpt)
    assert t.read().count() == 110
    # restart on the same checkpoint with no new data: no-op
    run(ckpt)
    assert t.read().count() == 110
    # CDF: every commit logged its inserts
    head = all_version_nums(t.path)[-1]
    # the first stream commit IS version 0, so open the feed before it
    feed = t.read_changes(-1, head)
    assert feed.count() == 110
    assert feed.filter(F.col("_change_type") != "insert").count() == 0
    # batch reader over the stream-written table agrees
    assert (
        spark.read.format("oer_mergetable").option("path", path).load().count()
        == 110
    )


def test_stream_writer_epoch_marker_blocks_double_commit(spark, tmp_path):
    """Direct replay simulation: committing the same epoch twice through
    the writer API must append once."""
    import pyarrow as pa

    from tlcn_oer_lakehouse_spark.sources.pyds import _MergeTableStreamWriter

    path = str(tmp_path / "m")

    def commit_epoch(writer, epoch):
        batch = pa.record_batch({"id": pa.array([1, 2], type=pa.int64())})
        msg = writer.write(iter([batch]))
        writer.commit([msg], epoch)

    w1 = _MergeTableStreamWriter({"path": path})
    commit_epoch(w1, 0)
    w2 = _MergeTableStreamWriter({"path": path})  # restarted query
    commit_epoch(w2, 0)  # replayed epoch
    commit_epoch(w2, 1)  # genuinely new epoch
    t = ParquetMergeTable(spark, path, key="id")
    assert t.read().count() == 4  # epochs 0 and 1 once each, no triple


def test_changes_stream_default_start_includes_version_zero(spark, tmp_path):
    """A py-written table logs its first CDF inserts at commit version 0;
    the change-feed default (since_version=-1, exclusive) must deliver
    them without the caller knowing the versioning convention."""
    path = str(tmp_path / "v0")
    _write(_df(spark, 25), path, "append")  # creates the table at v0
    out, ckpt = str(tmp_path / "v0o"), str(tmp_path / "v0c")
    q = (spark.readStream.format("oer_mergetable_changes")
         .option("path", path).load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 25
    assert got.agg(F.min("_commit_version")).collect()[0][0] == 0


def test_writer_append_same_names_different_type_raises(spark, tmp_path):
    """The append guard compares (name, type) pairs from the parquet
    footers — a same-named column at a different physical type must not
    publish a mixed-schema snapshot."""
    path = str(tmp_path / "wt")
    _write(_df(spark, 50), path, "append")
    bad = _df(spark, 5).withColumn("val", F.col("val").cast("int"))
    with pytest.raises(Exception, match="does not match"):
        _write(bad, path, "append")
    t = ParquetMergeTable(spark, path, key="id")
    assert t.read().count() == 50  # failed commit did not advance the head


def test_stream_epoch_replay_after_vacuum_does_not_double_append(spark, tmp_path):
    """Epoch markers ride forward into every newer snapshot, so dropping
    old version dirs with vacuum() cannot erase the exactly-once ledger
    a replayed epoch is checked against."""
    import pyarrow as pa

    from tlcn_oer_lakehouse_spark.sources.pyds import _MergeTableStreamWriter

    path = str(tmp_path / "vac")

    def commit_epoch(writer, epoch, lo):
        batch = pa.record_batch({"id": pa.array([lo, lo + 1], type=pa.int64())})
        msg = writer.write(iter([batch]))
        writer.commit([msg], epoch)

    w1 = _MergeTableStreamWriter({"path": path})
    commit_epoch(w1, 0, 10)
    commit_epoch(w1, 1, 20)
    commit_epoch(w1, 2, 30)
    t = ParquetMergeTable(spark, path, key="id")
    # keep_last counts retained NON-head versions: drop both, so the
    # only surviving ledger copy is the head's forwarded markers
    assert t.vacuum(keep_last=0) == 2  # epoch-0/1 version dirs are gone
    w2 = _MergeTableStreamWriter({"path": path})  # restarted query
    commit_epoch(w2, 0, 10)  # replay of a vacuumed epoch
    commit_epoch(w2, 1, 20)
    assert t.read().count() == 6  # three epochs, once each


def test_batch_overwrite_carries_stream_epoch_ledger_forward(spark, tmp_path):
    """The _epoch_* ledger records epoch DELIVERY, independent of the
    data being replaced: a batch overwrite of a stream-written table
    must carry the head's markers forward so a restarted stream cannot
    re-deliver an already-committed epoch after the overwrite."""
    import pyarrow as pa

    from tlcn_oer_lakehouse_spark.sources.pyds import _MergeTableStreamWriter

    path = str(tmp_path / "ow")

    def commit_epoch(writer, epoch, lo):
        batch = pa.record_batch({"id": pa.array([lo, lo + 1], type=pa.int64())})
        msg = writer.write(iter([batch]))
        writer.commit([msg], epoch)

    w1 = _MergeTableStreamWriter({"path": path})
    commit_epoch(w1, 0, 10)
    commit_epoch(w1, 1, 20)
    # batch overwrite replaces the DATA but must not reset the ledger
    ow = spark.range(5).select(F.col("id"))
    _write(ow, path, "overwrite")
    t = ParquetMergeTable(spark, path, key="id")
    assert t.read().count() == 5
    w2 = _MergeTableStreamWriter({"path": path})  # restarted query
    commit_epoch(w2, 0, 10)  # replay of a pre-overwrite epoch
    commit_epoch(w2, 2, 30)  # genuinely new epoch
    ids = {r.id for r in t.read().collect()}
    assert ids == {0, 1, 2, 3, 4, 30, 31}  # replay discarded, epoch 2 landed


def test_changes_stream_raises_on_vacuumed_versions(spark, tmp_path):
    """A stream over vacuumed versions fails like ``read_changes`` does,
    instead of delivering the retained tail as if the gone versions were
    commits without a change log; a retained commit without one
    (compact) still reads as an empty batch."""
    t = _table(spark, tmp_path, name="gap")
    for lo in (3000, 4000, 5000):
        t.merge_upsert(_df(spark, lo + 2).filter(F.col("id") >= lo))
    assert t.vacuum(keep_last=0) == 3  # only v3 is left
    with pytest.raises(ValueError, match="not retained"):
        t.read_changes(-1)

    def drain(since, name):
        out = str(tmp_path / name)
        q = (spark.readStream.format("oer_mergetable_changes")
             .option("path", t.path).option("since_version", since).load()
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", out + "_ck")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.read.parquet(out)

    with pytest.raises(Exception, match="not retained"):
        drain(-1, "all")
    t.compact()  # v4 logs no changes
    tail = drain(2, "tail")
    assert sorted(r.id for r in tail.collect()) == [5000, 5001]


def _commit_epoch(writer, epoch, lo):
    import pyarrow as pa

    batch = pa.record_batch({
        "id": pa.array([lo, lo + 1], type=pa.int64()),
        "val": pa.array(["a", "b"]),
        "record_fingerprint": pa.array([f"f{lo}", f"f{lo + 1}"]),
    })
    writer.commit([writer.write(iter([batch]))], epoch)


def _upsert_20(spark, t):
    t.merge_upsert(spark.createDataFrame(
        [(20, "z", "fz")], "id long, val string, record_fingerprint string"
    ))


# each commit kind, and the ids left once a replay of epoch 0 is discarded
_LEDGER_COMMITS = {
    "compact": (lambda spark, t: t.compact(), [10, 11, 20, 21]),
    "merge_upsert": (_upsert_20, [10, 11, 20, 21]),
    "merge_delete": (
        lambda spark, t: t.merge_delete(
            spark.createDataFrame([(10,), (11,), (20,)], "id long")
        ),
        [10, 11, 20],
    ),
    "rollback": (lambda spark, t: t.rollback(t.versions()[0]), [10, 11]),
    "delete_where_mor": (
        lambda spark, t: t.delete_where_mor([("id", "=", 21)]), [10, 11, 20]
    ),
}


@pytest.mark.parametrize("commit", list(_LEDGER_COMMITS))
def test_every_commit_carries_the_epoch_ledger(spark, tmp_path, commit):
    """The exactly-once ledger survives any commit after the stream's
    epochs: once vacuum has dropped every older version, a replayed epoch
    is still recognised and discarded."""
    from tlcn_oer_lakehouse_spark.sources.pyds import _MergeTableStreamWriter

    path = str(tmp_path / "ledger")
    w1 = _MergeTableStreamWriter({"path": path})
    _commit_epoch(w1, 0, 10)
    _commit_epoch(w1, 1, 20)
    t = ParquetMergeTable(spark, path, key="id")
    run, want = _LEDGER_COMMITS[commit]
    run(spark, t)
    t.vacuum(keep_last=0)
    _commit_epoch(_MergeTableStreamWriter({"path": path}), 0, 10)  # replay
    assert sorted(r.id for r in t.read().collect()) == want
