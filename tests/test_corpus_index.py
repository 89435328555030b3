"""The serving index behind ``retrieval.fused_scores``: every reply equals
an independent numpy BM25 + cosine fusion, across corpus rewrites,
``clearCache``, back-to-back rebuilds and concurrent requests; a warm
request reads only the cached index and runs at most two Spark jobs."""

from __future__ import annotations

import math
import re
import threading

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import InheritableThread, StorageLevel
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.plans import audit
from tlcn_oer_lakehouse_spark.queries import retrieval

K1, B = 1.2, 0.75
TOL = 1e-9
TOP_K = 10
VOCAB = ("spark", "merge", "vector", "lake", "table", "index", "query",
         "batch", "stream", "column", "delta", "graph")
N_DOCS, N_EMBEDDED, DIM = 60, 45, 8


def _write_documents(sf, seed: int) -> None:
    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(VOCAB, size=int(rng.integers(3, 15))))
             for _ in range(N_DOCS)]
    # "orphan" occurs only in documents without an embedding
    texts[-1] += "  orphan\tOrphan"
    pq.write_table(pa.table({"doc_id": pa.array(range(N_DOCS), pa.int64()),
                             "text": texts}), f"{sf}/documents.parquet")


def _write_corpus(sf, seed: int) -> None:
    _write_documents(sf, seed)
    rng = np.random.default_rng(1000 + seed)
    emb = rng.standard_normal((N_EMBEDDED, DIM)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(N_EMBEDDED), pa.int64()),
        "embedding": pa.array(emb.tolist(), pa.list_(pa.float32())),
    }), f"{sf}/embeddings.parquet")


def _reference(sf, terms) -> list[tuple[int, float]]:
    """Okapi BM25 over every document and (cosine + 1) against vec_id 0,
    each max-normalised over the embedded documents, fused 0.5/0.5; a
    lexical max of 0 makes the lexical branch 0."""
    docs = pq.read_table(f"{sf}/documents.parquet").to_pydict()
    toks = [re.sub(r"[ \t\n\x0b\f\r]+", " ", t.lower()).strip(" ").split(" ")
            for t in docs["text"]]
    dl = np.array([len(t) for t in toks], dtype=np.float64)
    n = float(len(toks))
    score = np.zeros(len(toks))
    for term in terms:
        tf = np.array([t.count(term) for t in toks], dtype=np.float64)
        df = float((tf > 0).sum())
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        score = score + idf * (tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / dl.mean())))
    emb = pq.read_table(f"{sf}/embeddings.parquet").to_pydict()
    ids = np.array(emb["vec_id"])
    e = np.array(emb["embedding"], dtype=np.float64)
    q = e[ids == 0][0]
    cos = e @ q / (np.linalg.norm(e, axis=1) * np.linalg.norm(q)) + 1.0
    vec = dict(zip(ids.tolist(), cos.tolist()))
    joined = [(d, s, vec[d]) for d, s in zip(docs["doc_id"], score.tolist()) if d in vec]
    max_lex = max(s for _, s, _ in joined)
    max_vec = max(v for _, _, v in joined)
    fused = [(d, 0.5 * (s / max_lex if max_lex > 0 else 0.0) + 0.5 * (v / max_vec))
             for d, s, v in joined]
    return sorted(fused, key=lambda x: (-x[1], x[0]))[:TOP_K]


def _serve(spark, sf, terms) -> list[tuple[int, float]]:
    rows = (retrieval.fused_scores(spark, sf, terms)
            .orderBy(F.col("fused_raw").desc(), F.col("doc_id").asc())
            .limit(TOP_K).collect())
    return [(r["doc_id"], r["fused_raw"]) for r in rows]


def _assert_matches(got, want) -> None:
    assert [d for d, _ in got] == [d for d, _ in want], (got, want)
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) <= TOL, (got, want)


def _check(spark, sf, terms) -> None:
    _assert_matches(_serve(spark, sf, terms), _reference(sf, terms))


def _cached(sf) -> bool:
    return retrieval._INDEXES[str(sf)].frame.storageLevel != StorageLevel.NONE


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    sf = tmp_path_factory.mktemp("corpus_index")
    _write_corpus(sf, seed=1)
    return str(sf)


@pytest.mark.parametrize("terms", [("spark",), ("merge", "vector"),
                                   ("lake", "table", "query", "lake")])
def test_fused_scores_match_reference(spark, corpus, terms):
    _check(spark, corpus, terms)


@pytest.mark.parametrize("terms", [("zzz",), (), ("orphan",)],
                         ids=["unknown-term", "no-terms", "only-unembedded-docs"])
def test_query_matching_nothing_ranks_by_vector(spark, corpus, terms):
    """max_lex = 0 must not divide by zero: the lexical branch adds 0
    and the ranking is the vector ranking."""
    got = _serve(spark, corpus, terms)
    _assert_matches(got, _reference(corpus, terms))
    _assert_matches(got, _reference(corpus, ()))


def test_rewritten_corpus_is_served_fresh(spark, tmp_path):
    sf = str(tmp_path)
    _write_corpus(sf, seed=2)
    _check(spark, sf, ("spark", "lake"))
    old = _reference(sf, ("spark", "lake"))
    _write_documents(sf, seed=3)
    assert _reference(sf, ("spark", "lake")) != old
    _check(spark, sf, ("spark", "lake"))


def test_clear_cache_recaches_the_index(spark, tmp_path):
    sf = str(tmp_path)
    _write_corpus(sf, seed=4)
    _check(spark, sf, ("merge",))
    spark.catalog.clearCache()
    assert not _cached(sf)
    _check(spark, sf, ("merge", "delta"))
    assert _cached(sf)


def test_back_to_back_rebuilds_keep_their_cache(spark, tmp_path):
    """The stale frame's plan equals the new one's, so unpersisting it
    after the rebuild would drop the new cache entry as well."""
    sf = str(tmp_path)
    _write_corpus(sf, seed=5)
    _check(spark, sf, ("graph",))
    for seed in (6, 7):
        _write_documents(sf, seed)
        idx = retrieval.corpus_index(spark, sf)
        assert idx.frame.storageLevel != StorageLevel.NONE
        _check(spark, sf, ("graph", "column"))
        assert retrieval.corpus_index(spark, sf) is idx


def _without_cached_subtrees(plan: str) -> str:
    """The plan lines a request executes: InMemoryRelation subtrees (the
    cached index's own build plan) are dropped."""
    out, cut = [], None
    for line in plan.splitlines():
        depth = re.match(r"[\s:+\-]*", line).end()
        if cut is not None and depth > cut:
            continue
        cut = depth if "InMemoryRelation" in line else None
        out.append(line)
    return "\n".join(out)


def test_warm_request_reads_only_the_index(spark, corpus):
    _serve(spark, corpus, ("batch",))
    sc = spark.sparkContext
    group = "corpus-index-warm-request"
    sc.setJobGroup(group, group)
    try:
        fused = retrieval.fused_scores(spark, corpus, ("stream", "index"))
        top = fused.orderBy(F.col("fused_raw").desc(), F.col("doc_id").asc()).limit(TOP_K)
        top.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = audit.simple_plan(top)
    assert "InMemoryTableScan" in plan
    request = _without_cached_subtrees(plan)
    assert "InMemoryRelation" in request
    for banned in ("documents.parquet", "FileScan", "split(", "regexp_replace("):
        assert banned not in request, request
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_concurrent_requests_match_reference(spark, corpus):
    queries = [(w,) for w in VOCAB] + [(a, b) for a, b in zip(VOCAB, VOCAB[3:])]
    results, errors = [], []
    lock = threading.Lock()

    def client(mine):
        try:
            for terms in mine:
                got = _serve(spark, corpus, terms)
                with lock:
                    results.append((terms, got))
        except Exception as exc:  # noqa: BLE001 — reported below
            with lock:
                errors.append(repr(exc))

    threads = [InheritableThread(target=client, args=(queries[i::4],)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(results) == len(queries)
    for terms, got in results:
        _assert_matches(got, _reference(corpus, terms))
