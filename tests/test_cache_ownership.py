"""Every cached frame lives in Spark's plan-keyed cache.  Concurrent
serve tails return the serial reply for their terms, the serve tail's
relevance gate stays all-or-nothing, a rebuilt query reuses its cached
frames instead of adding more, and a serve request leaves nothing
cached."""

from __future__ import annotations

import threading

import pytest
from pyspark import InheritableThread
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.queries import REGISTRY, retrieval
from tlcn_oer_lakehouse_spark.queries.base import load
from tlcn_oer_lakehouse_spark.queries.retrieval import fused_scores
from tlcn_oer_lakehouse_spark.queries.serve import _pack_context

# distinct term sets; ("zzzqx",) matches no document
TERM_SETS = [
    ("spark",), ("merge", "vector"), ("batch", "stream", "window"),
    ("zzzqx",), ("hash", "join"), ("customer", "order", "line"),
    ("sort",), ("dup", "row"),
]

REBUILT = [
    "dedup_semdedup", "q15_top_supplier", "dq_benford_digits", "ml_ks_drift",
    "medallion_e2e", "rag_serve_e2e", "q_tiered_search", "dedup_minhash_lsh",
    "q5_context_mmr",
]


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _reply(spark, sf, terms) -> list[tuple]:
    packed = _pack_context(spark, sf, fused_scores(spark, sf, terms))
    return [tuple(r) for r in packed.collect()]


def test_concurrent_serve_tails_match_serial(spark, sf_correct):
    serial = {terms: _reply(spark, sf_correct, terms) for terms in TERM_SETS}
    assert serial[("zzzqx",)], "the vector-only ranking still packs a context"
    results, errors = [], []
    lock = threading.Lock()

    def client(k: int) -> None:
        try:
            for terms in 2 * (TERM_SETS[k:] + TERM_SETS[:k]):
                got = _reply(spark, sf_correct, terms)
                with lock:
                    results.append((terms, got))
        except Exception as exc:  # noqa: BLE001 — reported below
            with lock:
                errors.append(repr(exc))

    threads = [InheritableThread(target=client, args=(k,)) for k in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads), "a client did not finish"
    assert not errors, errors
    assert len(results) == 8 * len(TERM_SETS)
    wrong = [terms for terms, got in results if got != serial[terms]]
    assert not wrong, f"{len(wrong)} of {len(results)} replies differ: {wrong}"


@pytest.mark.parametrize("hi, n_rows", [(0.5, 0), (0.7, 10)])
def test_relevance_gate_is_all_or_nothing(spark, sf_correct, hi, n_rows):
    """Top-10 = one doc at ``hi`` and nine at 0.1: the mean is 0.14
    (below the 0.15 gate, nothing packs) or 0.16 (all ten pack, the 0.1
    rows included)."""
    docs = load(spark, sf_correct, "documents").filter(
        (F.col("n_chars") >= 60) & ~F.col("text").rlike("[{};=<>]")
    )
    first = docs.agg(F.min("doc_id")).first()[0]
    fused = docs.select(
        "doc_id",
        F.when(F.col("doc_id") == first, hi).otherwise(0.1).alias("fused_raw"),
    )
    got = _pack_context(spark, sf_correct, fused).collect()
    assert len(got) == n_rows
    assert {r["serve_score"] for r in got} == ({hi, 0.1} if n_rows else set())


@pytest.mark.parametrize("name", REBUILT)
def test_rebuild_reuses_cached_frames(spark, sf_correct, name):
    spark.catalog.clearCache()
    counts = []
    for _ in range(3):
        REGISTRY[name].builder(spark, sf_correct).collect()
        counts.append(len(_persisted_ids(spark)))
    assert counts[2] <= counts[0], counts


def test_serve_tail_caches_nothing(spark, sf_correct, monkeypatch):
    """The corpus index lives in driver memory, so neither its build nor
    a request persists an RDD."""
    monkeypatch.setattr(retrieval, "_INDEXES", {})  # the first reply builds
    spark.catalog.clearCache()
    before = _persisted_ids(spark)
    for terms in TERM_SETS[:5]:
        _reply(spark, sf_correct, terms)
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    new = [rdds[i].name() for i in _persisted_ids(spark) - before]
    assert not new, new


def test_landing_ingest_releases_its_parse(spark, tmp_path):
    """``split_corrupt`` caches the parsed landing batch; once
    ``run_silver_from_landing`` returns, nothing it persisted is left,
    on the first (create) batch and on a later (merge) batch alike."""
    import json

    from tlcn_oer_lakehouse_spark.pipelines.medallion import (
        run_silver_from_landing,
    )

    wh = str(tmp_path / "wh")
    for i in range(2):
        landing = tmp_path / f"landing{i}.json"
        record = {"id": f"osx-{i}", "title": f"Book {i}",
                  "url": f"https://openstax.org/books/{i}",
                  "scraped_at": "2024-01-02T00:00:00",
                  "pdf_paths": [f"bronze/osx/{i}.pdf"]}
        landing.write_text(json.dumps(record) + f"\n{{broken json {i}\n")
        before = _persisted_ids(spark)
        stats = run_silver_from_landing(spark, str(landing), wh)
        assert stats["resources_upserted"] == 1
        assert stats["rows_quarantined"] == 1
        assert not _persisted_ids(spark) - before


def test_scd2_ingest_releases_its_frames(spark, tmp_path):
    """``scd2_ingest`` persists each trigger's merged dimension and change
    log and releases both when the trigger ends: after every drain of a
    stream into one dimension, nothing the sink persisted is left."""
    import datetime as dt

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from tlcn_oer_lakehouse_spark.sinks.merge import ParquetMergeTable, head_version
    from tlcn_oer_lakehouse_spark.streaming.ingest import scd2_ingest

    schema = StructType([StructField("id", LongType()), StructField("seg", StringType()),
                         StructField("ts", TimestampType())])
    landing = str(tmp_path / "landing")
    table = ParquetMergeTable(spark, str(tmp_path / "dim"), key="id")
    before = _persisted_ids(spark)
    for i in range(4):
        ts = dt.datetime(2024, 1, 1 + i)
        spark.createDataFrame([(1, f"s{i}", ts), (10 + i, "new", ts)], schema).coalesce(
            1).write.parquet(f"{landing}/b{i}")
        q = scd2_ingest(spark.readStream.schema(schema).parquet(f"{landing}/*"), table,
                        key="id", tracked_cols=["seg"], ts_col="ts",
                        checkpoint_dir=str(tmp_path / "ckpt"))
        assert q.awaitTermination(120)
        assert head_version(table.path) == i
        assert not _persisted_ids(spark) - before, f"drain {i}"
