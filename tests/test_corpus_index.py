"""The serving index behind ``retrieval.fused_scores``: every reply equals
an independent numpy BM25 + cosine fusion, across corpus rewrites,
``clearCache``, back-to-back rebuilds and concurrent requests; a warm
request reads only a local relation of the scores and runs at most one
Spark job; the index's BM25 agrees with the registry's Spark BM25; a
rebuild locks only its own corpus."""

from __future__ import annotations

import math
import re
import sys
import threading
import time
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import InheritableThread
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


def test_clear_cache_keeps_the_index(spark, tmp_path):
    """The index holds no Spark object, so ``clearCache`` leaves it
    whole: the next request is served from it, not rebuilt."""
    sf = str(tmp_path)
    _write_corpus(sf, seed=4)
    _check(spark, sf, ("merge",))
    idx = retrieval.corpus_index(spark, sf)
    spark.catalog.clearCache()
    _check(spark, sf, ("merge", "delta"))
    assert retrieval.corpus_index(spark, sf) is idx


def test_back_to_back_rewrites_rebuild_the_index(spark, tmp_path):
    """Each rewrite of the corpus builds a new index, and the reply after
    it is computed from the new corpus."""
    sf = str(tmp_path)
    _write_corpus(sf, seed=5)
    _check(spark, sf, ("graph",))
    seen = [retrieval.corpus_index(spark, sf)]
    for seed in (6, 7):
        _write_documents(sf, seed)
        _check(spark, sf, ("graph", "column"))
        idx = retrieval.corpus_index(spark, sf)
        assert all(idx is not old for old in seen)
        seen.append(idx)


def test_warm_request_reads_only_the_index(spark, corpus):
    """The scores reach Spark as a local relation: the request plan reads
    no file and no cached frame and tokenizes nothing."""
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
    assert re.search(r"LocalTableScan \[doc_id#\d+L, fused_raw#\d+\]", plan), plan
    for banned in ("FileScan", "InMemoryRelation", "split(", "regexp_replace("):
        assert banned not in plan, plan
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1


@pytest.mark.parametrize("terms", [retrieval.QUERY_TERMS,
                                   ("hash", "join", "table", "dup"),
                                   ("zzzqx",)],
                         ids=["query-terms", "four-terms", "unknown-term"])
def test_lexical_scores_match_spark_bm25(spark, sf_correct, terms):
    """The serve path scores BM25 in numpy (``lexical_scores``) and the
    registry in Spark (``bm25_scores``); the k1/b/idf conventions and
    the operation order must not drift apart."""
    idx = retrieval.corpus_index(spark, sf_correct)
    got = dict(zip(idx.doc_id.tolist(), retrieval.lexical_scores(idx, terms).tolist()))
    want = {r["doc_id"]: r["bm25_raw"]
            for r in retrieval.bm25_scores(spark, sf_correct, terms).collect()
            if r["doc_id"] in got}
    assert want.keys() == got.keys()
    assert max(abs(got[d] - want[d]) for d in got) <= 1e-12
    assert sorted(got, key=lambda d: (-got[d], d)) == sorted(want, key=lambda d: (-want[d], d))


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



def _fake_index(monkeypatch, build) -> None:
    """Serve ``corpus_index`` from empty index and lock tables, with
    ``build`` in place of ``_build_index`` and a corpus's name as its
    version."""
    monkeypatch.setattr(retrieval, "_INDEXES", {})
    monkeypatch.setattr(retrieval, "_INDEX_LOCKS", {})
    monkeypatch.setattr(retrieval, "_corpus_version", lambda sf: (sf,))
    monkeypatch.setattr(retrieval, "_build_index", build)


def test_rebuild_blocks_only_its_own_corpus(monkeypatch):
    """While corpus A's index is being built, a request for an already
    built corpus B is served at once: the build lock is per corpus."""
    building, release = threading.Event(), threading.Event()

    def build(spark, sf, version):
        if sf == "A":
            building.set()
            release.wait(30)
        return SimpleNamespace(version=version)

    _fake_index(monkeypatch, build)
    b = retrieval.corpus_index(None, "B")
    rebuild = threading.Thread(target=retrieval.corpus_index, args=(None, "A"))
    rebuild.start()
    try:
        assert building.wait(10)
        served = []
        request = threading.Thread(
            target=lambda: served.append(retrieval.corpus_index(None, "B")))
        request.start()
        request.join(5)
        assert served == [b]
    finally:
        release.set()
        rebuild.join(30)
    assert not rebuild.is_alive()
    assert retrieval._INDEXES["A"].version == ("A",)


def test_first_requests_for_a_corpus_build_it_once(monkeypatch):
    """More concurrent first requests for one corpus than cores, with a
    short switch interval: they share one lock, so the index is built
    once."""
    builds = []

    def build(spark, sf, version):
        builds.append(sf)
        time.sleep(0.01)
        return SimpleNamespace(version=version)

    _fake_index(monkeypatch, build)
    start = threading.Barrier(16)

    def request():
        start.wait(10)
        retrieval.corpus_index(None, "C")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        clients = [threading.Thread(target=request) for _ in range(16)]
        for c in clients:
            c.start()
        for c in clients:
            c.join(30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(c.is_alive() for c in clients)
    assert builds == ["C"]
