"""Streaming ingest: landing-directory file stream → foreachBatch MERGE.

This is the Auto-Loader-style pattern SURVEY §7.6 calls for: new files
appearing under a landing prefix are discovered incrementally (file-source
checkpointing tracks what's been read), each micro-batch is upserted into
the same :class:`ParquetMergeTable` the batch pipeline writes, so batch
and streaming share one sink, one change-detection predicate, and one
idempotence guarantee.  Late data is bounded with an event-time watermark
before any stateful aggregation.

Every foreachBatch sink here is a per-batch body started by one runner,
:func:`_foreach_batch`, which skips empty micro-batches and always
triggers ``availableNow``: drain what has landed, then stop, with the
checkpoint carrying progress to the next drain.  That is the reference's
operating model — Airflow-scheduled batch runs over the landing prefix —
so it is the only trigger the sinks offer.

Scale notes: file discovery is O(new files) per trigger
(``maxFilesPerTrigger`` bounds batch size); foreachBatch MERGE keeps
write amplification proportional to changed rows; watermark state is
per-key bounded and spills via RocksDB state store on a real cluster.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from tlcn_oer_lakehouse_spark.sinks.merge import ParquetMergeTable


def landing_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory (S1's streaming twin)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(landing_dir)


def _foreach_batch(
    stream_df: DataFrame,
    checkpoint_dir: str,
    process: Callable[[DataFrame, int], object],
) -> StreamingQuery:
    """Start ``stream_df`` as an ``availableNow`` drain that calls
    ``process(batch_df, batch_id)`` on every non-empty micro-batch.  A
    zero-row landed file reaches foreachBatch as an empty micro-batch;
    no sink has work to do on one, and a sink whose table does not exist
    yet would create it from nothing (SCD2 stamped with a ``None`` event
    time)."""

    def _run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            process(batch_df, batch_id)

    return (
        stream_df.writeStream.foreachBatch(_run)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def merge_ingest(
    stream_df: DataFrame,
    table: ParquetMergeTable,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Upsert every micro-batch into ``table`` (K1 as a streaming sink).

    foreachBatch is at-least-once: a batch may be re-delivered after a
    crash.  The sink's change detection makes that replay a no-op — it
    re-merges, detects zero changes and commits nothing."""
    return _foreach_batch(
        stream_df, checkpoint_dir, lambda batch_df, _: table.merge_upsert(batch_df)
    )


def silver_ingest(
    stream_df: DataFrame,
    warehouse_root: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """The medallion SILVER lifecycle as a streaming ingest: every
    micro-batch of bronze scrape records runs the full batch silver pass
    (U1 normalize → W1 latest-wins → J1/P3 change detection → K1 MERGE
    resources → O6 asset explode → one documents MERGE whose K1 upsert
    and J4/K2 stale-asset delete are a single commit) via
    :func:`pipelines.medallion.run_silver` —
    the streaming twin of the composed ``medallion_e2e`` plan, closing
    the set (corpus-prep, near-dup, silver) of headline flows with a
    stream-equals-batch proof.

    Semantics note (pinned in tests/test_streaming.py): the final
    silver CONTENT is batch-identical.  A fingerprint-equal re-send
    with a strictly newer scraped_at IS admitted as a bookkeeping
    update (the resources table's ts_col predicate — reference
    semantics), so stream and one-shot batch converge on timestamps
    too when re-sends arrive ts-ascending; a re-send at an older/equal
    ts is skipped by both.  Replaying already-processed landing files
    from a fresh checkpoint is a complete no-op — zero commits,
    byte-identical tables (``test_silver_ingest_replay_is_idempotent``)."""
    from tlcn_oer_lakehouse_spark.pipelines.medallion import run_silver

    return _foreach_batch(
        stream_df,
        checkpoint_dir,
        lambda batch_df, _: run_silver(batch_df.sparkSession, batch_df, warehouse_root),
    )


def scd2_ingest(
    stream_df: DataFrame,
    table: ParquetMergeTable,
    key: str,
    tracked_cols: list[str],
    ts_col: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming type-2 dimension maintenance: each micro-batch is
    latest-wins-deduped, then SCD2-merged into ``table`` (history rows
    close out, new versions open at the batch's max event time).  The
    same :mod:`~tlcn_oer_lakehouse_spark.operators.scd2` algebra runs in
    batch and streaming — foreachBatch replay after a crash re-detects
    zero changes, so the version chain never double-opens, and a batch
    whose change log is empty commits nothing."""
    from tlcn_oer_lakehouse_spark.operators.incremental import latest_wins
    from tlcn_oer_lakehouse_spark.operators.scd2 import (
        scd2_changes,
        scd2_init,
        scd2_merge,
    )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        batch = latest_wins(batch_df, key, [ts_col])
        ts = batch.agg(F.max(ts_col)).first()[0]
        rows = batch.drop(ts_col)
        if not table.exists():
            table.create(scd2_init(rows, ts))
            return
        dim = table.read()
        # full refresh: SCD2 rewrites are row-level state transitions,
        # not appends, and their change log is staged with the snapshot
        # like any commit's.  ``dim`` reads an immutable version dir, so
        # the rewrite needs no lineage cut; both frames are released
        # when the trigger ends.
        merged = scd2_merge(dim, rows, key, tracked_cols, ts).persist()
        changes = scd2_changes(dim, merged, ts).persist()
        try:
            if not changes.isEmpty():
                table._write_snapshot(merged, changes=changes)
        finally:
            changes.unpersist()
            merged.unpersist()

    return _foreach_batch(stream_df, checkpoint_dir, _merge)


def enrich_stream(
    stream_df: DataFrame,
    dim_df: DataFrame,
    key: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment (J5/J6's streaming twin): the
    static side re-reads per micro-batch, so dimension updates are picked
    up between triggers without restarting the query.  Broadcast keeps it
    shuffle-free — the stream side never repartitions."""
    return stream_df.join(F.broadcast(dim_df), key, how)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "10 minutes",
    max_gap: str = "5 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: right events within
    ``(left_ts, left_ts + max_gap]`` of a matching-key left event — the
    click-after-impression attribution shape.  Both sides carry
    watermarks so join state is bounded and evicted once the watermark
    passes the interval (the late-data contract SURVEY §2.9 requires).

    Column names must be disjoint except for ``key``; the caller aliases
    beforehand.  State scales with key cardinality × max_gap — the knob
    to size the RocksDB store at 100 TB/day stream rates."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] > lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_gap}"))
    )
    return lw.join(rw, cond, "inner").drop(rw[key])


def windowed_counts_stream(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming form of
    queries/windows.py:tumbling_event_counts (same grouping keys, same
    measures), usable with append output mode once the watermark passes."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def _pairs_ingest(
    stream_df: DataFrame,
    corpus_table: ParquetMergeTable,
    pairs_dir: str,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    threshold: float,
    pairs_op: Callable[..., DataFrame],
) -> StreamingQuery:
    """The dedup-at-ingest body :func:`near_dup_ingest` and
    :func:`exact_dedup_ingest` share: each micro-batch's pairs against
    the already-ingested corpus AND itself, from the incremental
    ``pairs_op``, are appended to ``pairs_dir`` tagged with the batch
    id, then the batch is admitted to ``corpus_table`` via MERGE."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(id_col, text_col).persist()
        spark = batch.sparkSession
        if corpus_table.exists():
            existing = corpus_table.read().select(id_col, text_col)
        else:
            existing = spark.createDataFrame([], batch.schema)
        # Per-trigger cache hygiene: the operators' internal
        # persists include frames derived from the GROWING corpus (the
        # prefix filter's sh_e / ordered_e are corpus-sized); a
        # long-running stream that lets them default-persist accumulates
        # one corpus copy per trigger.  Track and drop them per batch.
        held: list[DataFrame] = []

        def _track(_key: str, frame: DataFrame) -> DataFrame:
            held.append(frame.persist())
            return frame

        pairs = pairs_op(
            existing, batch, id_col, text_col, threshold=threshold, persist=_track
        ).withColumn("batch_id", F.lit(batch_id))
        pairs.write.mode("append").parquet(pairs_dir)
        corpus_table.merge_upsert(batch)
        batch.unpersist()
        for frame in held:
            frame.unpersist()

    return _foreach_batch(stream_df, checkpoint_dir, _process)


def near_dup_ingest(
    stream_df: DataFrame,
    corpus_table: ParquetMergeTable,
    pairs_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> StreamingQuery:
    """Streaming near-duplicate detection at ingest: each micro-batch is
    (1) checked against the already-ingested corpus AND itself with the
    batch-scaled incremental MinHash operator, (2) appended to the
    corpus table via MERGE, and (3) its near-dup pairs appended to
    ``pairs_dir`` — so the pair log and the corpus stay causally
    consistent (a doc's pairs are recorded in the same micro-batch that
    admits it).

    Composition of tested pieces: landing stream → foreachBatch →
    operators/dedup.py:minhash_incremental_pairs →
    ParquetMergeTable.merge_upsert.  Pairs are written BEFORE corpus
    admission, so a crash between the two replays into duplicate pair
    rows (bit-identical, batch_id-tagged) rather than lost ones;
    :func:`read_pairs` collapses them.  Per-trigger work scales with the
    batch and its collision set, not the corpus (the band probe is an
    equi-join against the existing band table; on a deployment that
    table is a persisted, bucketed output of previous batches)."""
    from tlcn_oer_lakehouse_spark.operators.dedup import minhash_incremental_pairs

    return _pairs_ingest(
        stream_df, corpus_table, pairs_dir, checkpoint_dir,
        id_col, text_col, threshold, minhash_incremental_pairs,
    )


def exact_dedup_ingest(
    stream_df: DataFrame,
    corpus_table: ParquetMergeTable,
    pairs_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> StreamingQuery:
    """Streaming EXACT set-similarity dedup at ingest — the prefix-filter
    twin of :func:`near_dup_ingest`: each micro-batch is (1) joined
    against the already-ingested corpus AND itself with
    ``prefix_filter_incremental_pairs`` (every Jaccard ≥ τ pair touching
    the batch, guaranteed — no LSH recall loss), (2) appended to the
    corpus table via MERGE, and (3) its pairs appended to ``pairs_dir``
    before admission (crash-replay yields duplicate bit-identical pair
    rows, never lost ones; :func:`read_pairs` collapses them).

    The standing index's global token order is frozen per trigger at
    the CURRENT corpus's df (operator docstring: exactness holds under
    any fixed total order, freshness only tunes pruning); a deployment
    persists the ordered-array/prefix tables and refreshes them at
    compaction, exactly like the banded MinHash index."""
    from tlcn_oer_lakehouse_spark.operators.dedup import (
        prefix_filter_incremental_pairs,
    )

    return _pairs_ingest(
        stream_df, corpus_table, pairs_dir, checkpoint_dir,
        id_col, text_col, threshold, prefix_filter_incremental_pairs,
    )


def corpus_prep_ingest(
    stream_df: DataFrame,
    corpus_table: ParquetMergeTable,
    chunks_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.55,
    window: int = 50,
    stride: int = 40,
) -> StreamingQuery:
    """Streaming twin of queries/traindata.py:td_pipeline_e2e — the whole
    corpus-prep flow applied incrementally at ingest: each micro-batch is
    (1) scored (quality + langid) and gated, (2) exact-deduped against
    BOTH itself (min id wins) and the already-admitted corpus (fingerprint
    anti-join — per-trigger cost ∝ batch × matching fingerprints, an
    equi-join, never a corpus rescan of text), (3) admitted to the corpus
    table via MERGE, and (4) sliding-window chunked with the SAME chunker
    the batch pipeline uses, chunks appended under ``chunks_dir``.

    Replay safety: foreachBatch may re-deliver a batch after a crash; the
    corpus anti-join drops already-admitted fingerprints, so re-admission
    is a no-op and chunks are re-appended only for rows that survive it.

    Composition of tested pieces: landing stream → functions/text.py
    scoring → operators/chunking.py:token_window_chunks →
    ParquetMergeTable.merge_upsert."""
    from tlcn_oer_lakehouse_spark.functions.text import (
        fingerprint,
        lang_id,
        quality_score,
    )
    from tlcn_oer_lakehouse_spark.operators.chunking import token_window_chunks

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        scored = batch_df.select(
            id_col,
            text_col,
            F.round(quality_score(F.col(text_col)), 9).alias("quality"),
            lang_id(F.col(text_col)).alias("lang_pred"),
            fingerprint(F.col(text_col)).alias("record_fingerprint"),
        ).filter(F.col("quality") >= min_quality)
        w = Window.partitionBy("record_fingerprint").orderBy(id_col)
        batch_canon = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        if corpus_table.exists():
            seen = corpus_table.read().select("record_fingerprint")
            batch_canon = batch_canon.join(
                seen, "record_fingerprint", "left_anti"
            )
        admitted = batch_canon.persist()
        if not admitted.isEmpty():
            # Chunks BEFORE corpus admission: a crash between the two
            # writes replays the batch with the docs still un-admitted,
            # so chunks re-append (duplicates) rather than vanish (loss —
            # the failure mode of the reverse order, where replay finds
            # the docs already in the corpus and skips their chunks).
            # Chunk ids are content-addressed, so duplicates are
            # bit-identical rows; read_chunks collapses them.
            (
                token_window_chunks(admitted, id_col, text_col, window, stride)
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(chunks_dir)
            )
            corpus_table.merge_upsert(admitted)
        admitted.unpersist()

    return _foreach_batch(stream_df, checkpoint_dir, _process)


def cms_ingest(
    stream_df: DataFrame,
    sketch_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
) -> StreamingQuery:
    """Streaming count-min sketch accumulation: each micro-batch's term
    stream collapses to its own ≤ depth×width partial sketch (a tiny
    fixed-size aggregate regardless of batch size) appended under
    ``sketch_dir``; the live sketch is the cell-wise SUM of all partials
    — CMS is additive, so merge == append + groupBy, no read-modify-write
    of prior state and no state store.  Point estimates read the merged
    table with ``cms_estimate``.

    Same hash family as queries/traindata.py:countmin_heavy_hitters, so
    a streaming-accumulated sketch is bit-identical to the batch sketch
    over the union of the batches (pinned by test)."""
    from tlcn_oer_lakehouse_spark.functions.text import tokens
    from tlcn_oer_lakehouse_spark.queries.traindata import _bucket

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        terms = batch_df.select(F.explode(tokens(F.col(text_col))).alias("term"))
        cells = terms.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("row"),
                        _bucket(
                            F.concat_ws("|", F.lit(str(i)), F.col("term")), width
                        ).alias("col"),
                    )
                    for i in range(depth)
                ])
            ).alias("cell")
        )
        (
            cells.groupBy("cell.row", "cell.col")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sketch_dir)
        )

    return _foreach_batch(stream_df, checkpoint_dir, _process)


def cms_merged(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """The live sketch: cell-wise sum of every appended partial.

    Replay-safe: foreachBatch is at-least-once, so a crash-replayed
    batch appends its (bit-identical, deterministic) partial twice —
    the ``(batch_id, row, col)`` dropDuplicates collapses replays
    before the sum, making the merged sketch exactly-once."""
    return (
        spark.read.parquet(sketch_dir)
        .dropDuplicates(["batch_id", "row", "col"])
        .groupBy("row", "col")
        .agg(F.sum("c").alias("c"))
    )


def cms_estimate(
    spark: SparkSession,
    sketch_dir: str,
    terms: DataFrame,
    term_col: str = "term",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate term counts against the merged sketch: min over
    the depth probe cells (the CMS read path)."""
    from tlcn_oer_lakehouse_spark.queries.traindata import _bucket

    probes = terms.select(
        F.col(term_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("row"),
                    _bucket(
                        F.concat_ws("|", F.lit(str(i)), F.col(term_col)), width
                    ).alias("col"),
                )
                for i in range(depth)
            ])
        ).alias("cell"),
    ).select(term_col, "cell.row", "cell.col")
    merged = cms_merged(spark, sketch_dir)
    return (
        probes.join(F.broadcast(merged), ["row", "col"], "left")
        .groupBy(term_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_estimate"))
    )


def read_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """Exactly-once view of the streamed near-dup pair log: replayed
    batches re-emit bit-identical rows, so a full-row dropDuplicates
    collapses them."""
    df = spark.read.parquet(pairs_dir)
    return df.dropDuplicates(df.columns)


def read_chunks(spark: SparkSession, chunks_dir: str) -> DataFrame:
    """Exactly-once view of the streamed chunk log: chunk_id is
    content-addressed (md5 of doc, order, text prefix), so replay
    duplicates are bit-identical rows — one dropDuplicates collapses
    them."""
    return spark.read.parquet(chunks_dir).dropDuplicates(["chunk_id"])


def hll_ingest(
    stream_df: DataFrame,
    registers_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
) -> StreamingQuery:
    """Streaming HyperLogLog accumulation: each micro-batch's term
    stream collapses to its register maxima (≤ HLL_M rows) appended
    under ``registers_dir``; the live sketch is the register-wise MAX of
    all partials.  max is idempotent, so crash-replayed batches are
    absorbed with NO dedupe step — the merge is exactly-once by algebra,
    not bookkeeping (contrast cms_ingest, whose additive merge needs the
    batch_id dedupe).  Same geometry as queries/traindata.py's
    a_hll_sketch, so streaming-accumulated registers are bit-identical
    to the batch sketch (pinned by test)."""
    from tlcn_oer_lakehouse_spark.functions.text import tokens
    from tlcn_oer_lakehouse_spark.queries.traindata import hll_register_cols

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        terms = batch_df.select(F.explode(tokens(F.col(text_col))).alias("term"))
        idx, rank = hll_register_cols(F.col("term"))
        (
            terms.select(idx.alias("idx"), rank.alias("rank"))
            .groupBy("idx")
            .agg(F.max("rank").alias("r"))
            .write.mode("append")
            .parquet(registers_dir)
        )

    return _foreach_batch(stream_df, checkpoint_dir, _process)


def hll_merged_registers(spark: SparkSession, registers_dir: str) -> DataFrame:
    """The live HLL sketch: register-wise max over every partial."""
    return (
        spark.read.parquet(registers_dir)
        .groupBy("idx")
        .agg(F.max("r").alias("r"))
    )


def changes_stream(table: ParquetMergeTable) -> DataFrame:
    """Streaming tail of a merge table's change data feed — the Delta
    "table as a streaming source" analog.  This is the
    ``oer_mergetable_changes`` source (sources/pyds.py, registered here):
    commit versions are the stream offsets, so a consumer runs the same
    fold it would run on ``read_changes`` batches, continuously, with
    checkpointed progress, and rows carry ``_commit_version`` like the
    batch feed.

    Retention: a micro-batch whose versions were vacuumed raises, as
    ``read_changes`` does, instead of silently skipping them — run
    ``vacuum`` slower than the consumer's lag (the trade Delta documents
    for VACUUM vs streaming reads)."""
    from tlcn_oer_lakehouse_spark.sources import pyds

    pyds.register(table.spark)
    return (
        table.spark.readStream.format("oer_mergetable_changes")
        .option("path", table.path)
        .load()
    )


def expectations_ingest(
    stream_df: DataFrame,
    rules: list,
    clean_table: ParquetMergeTable,
    quarantine_dir: str,
    metrics_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming twin of the declarative expectations operator
    (`operators/expectations.py`, registered batch query
    `dq_expectations`): every micro-batch is split by the SAME
    warn/drop/quarantine rule evaluation, then

    - clean rows MERGE into ``clean_table`` (replay-safe: the sink's
      fingerprint change detection makes re-delivered batches no-ops),
    - quarantined rows append under ``quarantine_dir`` with the violated
      rule names and the batch id (append of a deterministic batch split
      — a replay re-appends the same rows, deduped downstream on
      ``_batch_id`` like the CMS sketch partials),
    - per-rule metrics append one micro-batch's counter rows under
      ``metrics_dir`` keyed by batch id, so the DQ dashboard is
      ``groupBy(rule).sum(n)`` over the directory and replays collapse
      via ``dropDuplicates(["rule", "_batch_id"])``.

    This is the DLT pattern end-to-end: declarative rules, quarantine
    table, continuously accumulating quality metrics — per-trigger cost
    is one map-only pass over the batch plus the tiny counter agg."""
    from tlcn_oer_lakehouse_spark.operators.expectations import expect

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        res = expect(batch_df, rules)
        clean_table.merge_upsert(res.clean)
        res.quarantined.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(quarantine_dir)
        res.metrics.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(metrics_dir)

    return _foreach_batch(stream_df, checkpoint_dir, _process)


def dq_metrics_rollup(spark: SparkSession, metrics_dir: str) -> DataFrame:
    """Accumulated per-rule violation counts across all micro-batches,
    replay-deduped on (rule, _batch_id) before summing."""
    return (
        spark.read.parquet(metrics_dir)
        .dropDuplicates(["rule", "_batch_id"])
        .groupBy("rule", "policy")
        .agg(F.sum("n").alias("n_total"))
    )
