"""Retrieval queries: BM25 lexical scoring, kNN is in vectorops, and
hybrid lexical+vector score fusion — the Spark-native re-expression of
the reference's Elasticsearch serving path (SURVEY §2.10).

Reference parity:
- Q1 BM25 lexical search   — chatbot_api.py:202-217 (ES ``match`` query);
  re-expressed as exact Okapi BM25 (k1=1.2, b=0.75) computed with pure
  column expressions.
- Q3 hybrid score fusion   — chatbot_api.py:37-40, 244-274 (per-branch
  max-normalization then weighted sum, 0.5/0.5 for EN).

Scale design (100 TB): the hybrid search serves from a :class:`CorpusIndex`
built once per corpus version, the way the reference serves from an
Elasticsearch index built ahead of time.  The version key is the (path,
size, mtime_ns) of ``documents.parquet`` and ``embeddings.parquet``.
Building it tokenizes the corpus in Spark with no shuffle (each
document's sorted tokens become its term → tf map in one row-local
pass) and collects the maps in one Arrow transfer.  The index is held in
driver memory as numpy arrays: per embedded document its doc_id, doc
length and query-independent cosine score, per term the postings (row,
tf) over the embedded documents, plus O(vocabulary) scalars
(N, sum of doc lengths, per-term df, max cosine score).  A request
scores its 1-4 terms from their postings in numpy and hands Spark the
fused scores as a local relation: one Spark job, no corpus scan, no
tokenizing, no cached frame.  Rebuild rule: when a file's key changes,
the next request rebuilds the index; ``clearCache`` does not touch it.
Two limits bound this design: the postings must fit in driver memory,
and each request ships N_embedded rows to Spark as a local relation.
A corpus larger than that would instead keep the index as a cached,
partitioned (doc_id, dl, tf, vec_raw) frame, score each request as a
column expression over it and fold the lexical max back as a 1-row
broadcast.  The one-shot registry queries score through one Spark BM25
core, :func:`bm25_score_frame` (per-term tf as a JVM-side array
expression over each row's tokens, corpus stats as a 1-row aggregate
broadcast back), one vector branch (:func:`_vec_scores`) and one
max-norm fusion (:func:`_max_norm_fusion`); the numpy
:func:`lexical_scores` is the serve path's copy of the core, held to it
by a drift test.  No batched scorer is kept: a workload of many queries
at once would explode the query set, join its terms to the postings and
aggregate scores by (query_id, doc_id), and nothing here runs one.
"""

from __future__ import annotations

import math
import os
import threading
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.functions.text import tokens
from tlcn_oer_lakehouse_spark.functions.vectors import cosine
from tlcn_oer_lakehouse_spark.queries.base import QuerySpec, load

QUERY_TERMS = ("spark", "merge", "vector")
K1 = 1.2
B = 0.75


def _tf(toks, term: str):
    """Occurrences of ``term`` in the token array.  (A ``term=term``
    lambda default would make PySpark treat it as a two-arg
    (value, index) higher-order lambda — hence the factory.)"""
    return F.size(F.filter(toks, lambda t: t == F.lit(term)))


def bm25_score_frame(
    frame: DataFrame,
    id_cols: tuple[str, ...],
    text_col: str,
    terms: tuple[str, ...] = QUERY_TERMS,
) -> DataFrame:
    """Okapi BM25 of ``terms`` against ANY (ids..., text) frame — the
    single scoring core behind both the document search
    (:func:`bm25_scores`) and the tiered chunk search
    (``serve.tiered_search_from_chunks``), so the k1/b/idf conventions
    cannot drift between corpora.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))           [Robertson-Sparck-Jones]
    score  = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    Stats (N, avgdl, df_t) are a 1-row aggregate broadcast back — the
    plan is scan → scalar agg (tiny) → broadcast nested loop join →
    per-row math. avgdl is computed as exact-int SUM(dl)/COUNT so both
    engines divide the same two integers.  Returns id_cols + dl + tf_i
    (one per term, in ``terms`` order) + bm25_raw.

    The tokenized frame (ids + dl + per-term tf — a handful of ints per
    row) is PERSISTED: the stats aggregate and the scoring join both
    consume it, and uncached the expensive tokenize pass over the full
    corpus text runs once per consumer (guide §1.2/§2.4 — the r11 bench
    measured the double scan as ~2× the query).  The plan is fixed by
    the frame and ``terms``, so a rebuild reuses the cached entry, but
    every distinct term set caches one more frame: per-request callers
    use :func:`fused_scores`, which scores from the driver-local corpus
    index with the same conventions (:func:`lexical_scores`).  The
    frame's ``dl`` and ``tf_i`` columns are kept in the output, so a
    caller that needs them (:func:`hard_negatives`) reads the cached
    frame instead of tokenizing the corpus again.
    """
    toks = tokens(F.col(text_col))
    scored = frame.select(
        *id_cols,
        F.size(toks).alias("dl"),
        *[_tf(toks, term).alias(f"tf_{i}") for i, term in enumerate(terms)],
    ).persist()
    stats = scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    j = scored.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        df = F.col(f"df_{i}").cast("double")
        idf = F.log(F.lit(1.0) + (F.col("n_docs") - df + 0.5) / (df + 0.5))
        norm = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * F.col("dl") / avgdl))
        score = score + idf * norm
    return j.select(*scored.columns, score.alias("bm25_raw"))


def bm25_scores(
    spark: SparkSession, sf: str, terms: tuple[str, ...] = QUERY_TERMS
) -> DataFrame:
    """BM25 of the fixed query against every document (the shared
    scoring core, bound to the documents table)."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    return bm25_score_frame(docs, ("doc_id",), "text", terms)


def bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    s = bm25_scores(spark, sf)
    return (
        s.select("doc_id", F.round(F.col("bm25_raw"), 9).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(10)
    )


def _tf_sql(term: str) -> str:
    return f"len(list_filter(tk, t -> t = '{term}'))"


def _bm25_score_expr_sql(n_terms: int = len(QUERY_TERMS)) -> str:
    """The DuckDB BM25 score expression over tf_i/df_i/dl/stats columns
    — ONE copy for the document oracle (:func:`_bm25_sql_core`) and the
    chunk-corpus oracle (``serve._chunk_bm25_score_sql``), mirroring
    the shared Spark core's association order term-for-term."""
    return " + ".join(
        f"(ln(1.0 + (n_docs - CAST(df_{i} AS DOUBLE) + 0.5) / (CAST(df_{i} AS DOUBLE) + 0.5))"
        f" * (CAST(tf_{i} AS DOUBLE) * {K1 + 1.0}"
        f" / (CAST(tf_{i} AS DOUBLE) + {K1} * (1.0 - {B} + {B} * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))))"
        for i in range(n_terms)
    )


def _bm25_sql_core() -> str:
    """Shared DuckDB CTEs computing bm25_raw per doc_id, mirroring the
    Spark expression tree term-for-term (same association order)."""
    tf_cols = ",\n         ".join(f"{_tf_sql(t)} AS tf_{i}" for i, t in enumerate(QUERY_TERMS))
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(QUERY_TERMS))
    )
    score = _bm25_score_expr_sql()
    return f"""
scored AS (
  SELECT doc_id, len(tk) AS dl,
         {tf_cols}
  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
        FROM documents)
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, {df_cols} FROM scored
),
bm25 AS (
  SELECT doc_id, (0.0 + {score}) AS bm25_raw
  FROM scored, stats
)
"""


BM25_SQL = f"""
WITH {_bm25_sql_core().strip()}
SELECT doc_id, round(bm25_raw, 9) AS bm25
FROM bm25
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
"""


def hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training — the
    DPR/RocketQA data-prep step: per training query, the best negatives
    are the top BM25-RANKED documents that are NOT relevant (lexically
    close, semantically wrong), not random draws.  Relevance proxy here
    is deterministic DEEP coverage: a positive mentions every query
    term at least twice (a document actually about all three aspects);
    a top-BM25 document with shallower coverage is the classic hard
    negative — lexically hot, topically lopsided.  Output follows the
    DPR recipe exactly: the top-5 POSITIVES by BM25 plus the top-15
    MINED NEGATIVES by BM25 (ranked within label) — the (query,
    positive, negatives) triple-building input, with the per-doc
    deep-term count exposing why each row got its label.

    Plan shape inherits bm25_scores: scan → 1-row stats broadcast →
    per-row math → one per-label rank window over the labeled score
    table; the deep-term count reads the tf columns of the same cached
    frame, so the corpus is tokenized once and nothing joins back.  At
    100 TB with a real query SET the window partitions by (query_id,
    label) — same algebra, keyed by query."""
    from pyspark.sql import Window

    n_deep_terms = sum(
        F.when(F.col(f"tf_{i}") >= 2, 1).otherwise(0)
        for i in range(len(QUERY_TERMS))
    ).cast("int")
    labeled = bm25_scores(spark, sf).select(
        "doc_id",
        F.round(F.col("bm25_raw"), 9).alias("bm25"),
        n_deep_terms.alias("n_deep_terms"),
        F.when(n_deep_terms == len(QUERY_TERMS), "positive")
        .otherwise("hard_negative")
        .alias("label"),
    )
    w = Window.partitionBy("label").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    keep = F.when(F.col("label") == "positive", 5).otherwise(15)
    return (
        labeled.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= keep)
        .select("label", "rank", "doc_id", "bm25", "n_deep_terms")
        .orderBy("label", "rank")
    )


HARD_NEGATIVES_SQL = f"""
WITH {_bm25_sql_core().strip()},
presence AS (
  SELECT doc_id,
         CAST({" + ".join(f"CASE WHEN {_tf_sql(t)} >= 2 THEN 1 ELSE 0 END" for t in QUERY_TERMS)} AS INT)
           AS n_deep_terms
  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
        FROM documents)
),
labeled AS (
  SELECT b.doc_id, round(b.bm25_raw, 9) AS bm25, p.n_deep_terms,
         CASE WHEN p.n_deep_terms = {len(QUERY_TERMS)} THEN 'positive'
              ELSE 'hard_negative' END AS label
  FROM bm25 b JOIN presence p ON b.doc_id = p.doc_id
),
ranked AS (
  SELECT label, row_number() OVER (PARTITION BY label ORDER BY bm25 DESC, doc_id ASC) AS rank,
         doc_id, bm25, n_deep_terms
  FROM labeled
)
SELECT label, rank, doc_id, bm25, n_deep_terms
FROM ranked
WHERE rank <= CASE WHEN label = 'positive' THEN 5 ELSE 15 END
ORDER BY label, rank
"""


def _query_embedding(emb: DataFrame) -> DataFrame:
    """The request embedding: ``emb``'s vec_id 0 row as a 1-row
    (q_emb) frame."""
    return emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))


def _vec_scores(emb: DataFrame, cand: DataFrame | None = None) -> DataFrame:
    """The vector branch, (doc_id, vec_raw): vec_raw = cosine vs the
    request embedding + 1 (ES ``cosineSimilarity(...)+1``,
    chatbot_api.py:233), for every embedding or, given ``cand``, only
    for the vec_ids among its doc_ids (a broadcast semi-join ahead of the
    cosine).  documents.doc_id and embeddings.vec_id share one id
    space."""
    rows = emb if cand is None else emb.join(
        F.broadcast(cand), emb["vec_id"] == cand["doc_id"], "leftsemi"
    )
    return rows.crossJoin(F.broadcast(_query_embedding(emb))).select(
        F.col("vec_id").alias("doc_id"),
        (cosine(F.col("embedding"), F.col("q_emb")) + F.lit(1.0)).alias("vec_raw"),
    )


def _max_norm_fusion(joined: DataFrame, w_lex: Column) -> DataFrame:
    """Q3 fusion in Spark (chatbot_api.py:244-274): ``joined`` (doc_id,
    bm25_raw, vec_raw, ...) plus fused_raw = w_lex·bm25/max_lex +
    (1 − w_lex)·vec/max_vec, each branch max-normalized over ``joined``
    through a 1-row broadcast of the two maxima."""
    maxes = joined.agg(
        F.max("bm25_raw").alias("max_lex"), F.max("vec_raw").alias("max_vec")
    )
    fused = w_lex * (F.col("bm25_raw") / F.col("max_lex")) + (
        F.lit(1.0) - w_lex
    ) * (F.col("vec_raw") / F.col("max_vec"))
    return joined.crossJoin(F.broadcast(maxes)).select(
        *joined.columns, fused.alias("fused_raw")
    )


def hybrid_search(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid fusion (chatbot_api.py:244-274): lexical branch = BM25 over
    documents; vector branch = (cosine+1) of each embedding vs the
    vec_id=0 query vector (ES ``cosineSimilarity(...)+1`` convention,
    chatbot_api.py:233). Each branch max-normalized, then fused 0.5/0.5;
    top-10.  Served from the driver-local corpus index (:func:`fused_scores`).

    documents.doc_id and embeddings.vec_id share the 0..N id space — the
    join runs once, in the index build.
    """
    return (
        fused_scores(spark, sf)
        .select("doc_id", F.round(F.col("fused_raw"), 9).alias("hybrid_score"))
        .orderBy(F.col("hybrid_score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@dataclass(frozen=True)
class CorpusIndex:
    """The serving index of one corpus version (see the module docstring),
    held in driver memory as numpy arrays; no Spark object.

    One row per embedded document, at the same position in each array:
    ``doc_id``, doc length ``dl`` and ``vec_raw`` = (cosine vs the vec_id
    0 embedding) + 1.  ``postings`` maps a term to the (rows, tf) of the
    embedded documents it occurs in.  The scalars are over the whole corpus
    (``n_docs``, ``sum_dl``, ``df``) or over the embedded documents
    (``max_vec``).  Bound: the postings must fit in driver memory."""

    version: tuple
    doc_id: np.ndarray
    dl: np.ndarray
    vec_raw: np.ndarray
    postings: dict[str, tuple[np.ndarray, np.ndarray]]
    n_docs: int
    sum_dl: int
    df: dict[str, int]
    max_vec: float


_NO_POSTINGS = (np.zeros(0, np.int64), np.zeros(0))
_INDEX_LOCKS: dict[str, threading.Lock] = {}  # one per corpus directory
_INDEXES: dict[str, CorpusIndex] = {}  # one per corpus directory


def _corpus_version(sf: str) -> tuple:
    """(path, size, mtime_ns) of every file of the two tables the index
    reads — one file each, or each part file of a table directory."""
    out = []
    for name in ("documents", "embeddings"):
        path = f"{sf}/{name}.parquet"
        files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
                 if os.path.isdir(path) else [path])
        for f in files:
            st = os.stat(f)
            out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(out)


def _term_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, dl, tf) with ``tf`` the term →
    occurrences map, row-local in O(n log n) per document: after a sort,
    a run of equal terms starts where a token differs from its
    predecessor, and a run's length is the next start minus its own."""
    toks, starts = F.col("toks"), F.col("starts")
    ends = F.concat(F.slice(starts, 2, F.size(toks)), F.array(F.size(toks)))
    return (
        docs.select("doc_id", F.sort_array(tokens(F.col("text"))).alias("toks"))
        .select("doc_id", "toks", F.filter(
            F.transform(toks, lambda t, i: F.when(i == 0, i).when(t != toks[i - 1], i)),
            lambda i: i.isNotNull(),
        ).alias("starts"))
        .select(
            "doc_id",
            F.size(toks).alias("dl"),
            F.map_from_arrays(
                F.transform(starts, lambda i: toks[i]),
                F.zip_with(ends, starts, lambda e, s: e - s),
            ).alias("tf"),
        )
    )


def _build_index(spark: SparkSession, sf: str, version: tuple) -> CorpusIndex:
    """Tokenize the corpus once into per-doc term counts in Spark (no
    shuffle), collect them with each document's ``vec_raw`` (null when
    it has no embedding) in one Arrow transfer, and invert them into
    postings on the driver."""
    vec = _vec_scores(load(spark, sf, "embeddings"))
    t = _term_counts(load(spark, sf, "documents")).join(vec, "doc_id", "left").toArrow()
    tf = t.column("tf").combine_chunks()
    embedded = pc.is_valid(t.column("vec_raw")).to_numpy()
    # one entry per (document, distinct term): a term's entries count its df
    terms = pc.dictionary_encode(tf.keys)
    vocab = terms.dictionary.to_pylist()
    codes = terms.indices.to_numpy()
    doc_row = np.repeat(np.arange(len(t)), np.diff(tf.offsets.to_numpy()))
    # the embedded documents' entries, renumbered to their index row and
    # grouped by term
    keep = embedded[doc_row]
    row = (np.cumsum(embedded) - 1)[doc_row[keep]]
    counts = tf.items.to_numpy()[keep].astype(np.float64)
    kept = codes[keep]
    order = np.argsort(kept, kind="stable")
    bounds = np.searchsorted(kept[order], np.arange(len(vocab) + 1))
    dl = t.column("dl").to_numpy()
    vec_raw = t.column("vec_raw").to_numpy()[embedded]
    return CorpusIndex(
        version,
        doc_id=t.column("doc_id").to_numpy()[embedded],
        dl=dl[embedded].astype(np.float64),
        vec_raw=vec_raw,
        postings={
            term: (row[order[a:b]], counts[order[a:b]])
            for term, a, b in zip(vocab, bounds[:-1], bounds[1:]) if b > a
        },
        n_docs=len(t),
        sum_dl=int(dl.sum()),
        df=dict(zip(vocab, np.bincount(codes, minlength=len(vocab)).tolist())),
        max_vec=float(vec_raw.max(initial=0.0)),
    )


def corpus_index(spark: SparkSession, sf: str) -> CorpusIndex:
    """The index of the corpus under ``sf`` as it is on disk now.  Builds
    are serialized per corpus: a rebuild holds only its own corpus's lock,
    so requests for other corpora are served meanwhile."""
    version = _corpus_version(sf)
    # setdefault is atomic: concurrent first calls for ``sf`` share a lock
    with _INDEX_LOCKS.setdefault(sf, threading.Lock()):
        idx = _INDEXES.get(sf)
        if idx is None or idx.version != version:
            idx = _INDEXES[sf] = _build_index(spark, sf, version)
        return idx


def lexical_scores(idx: CorpusIndex, terms: tuple[str, ...]) -> np.ndarray:
    """BM25 of ``terms`` for each embedded document of ``idx``, with the
    k1/b/idf conventions and the operation order of
    :func:`bm25_score_frame`.  A document without the term adds
    idf · 0.0 there, so only its postings are touched here."""
    avgdl = idx.sum_dl / idx.n_docs
    score = np.zeros(len(idx.doc_id))
    for term in terms:
        rows, tf = idx.postings.get(term, _NO_POSTINGS)
        df = float(idx.df.get(term, 0))
        idf = math.log(1.0 + (idx.n_docs - df + 0.5) / (df + 0.5))
        norm = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * idx.dl[rows] / avgdl))
        score[rows] = score[rows] + idf * norm
    return score


def fused_scores(
    spark: SparkSession, sf: str, terms: tuple[str, ...] = QUERY_TERMS
) -> DataFrame:
    """The shared hybrid-fusion core (one copy for q3_hybrid_fusion,
    q3_hybrid_recency, serve.rag_serve and the serve request):
    (doc_id, fused_raw) with fused_raw = 0.5·bm25/max_lex +
    0.5·(cos+1)/max_vec over the embedded documents, UNROUNDED so
    downstream folds (recency decay, serve gating) compose before the
    single presentation round.  ``terms`` parameterizes the lexical
    branch (the serve path feeds it from Q4 query preprocessing).

    Reads the :class:`CorpusIndex` of ``sf``: built on the first call and
    rebuilt when the (path, size, mtime_ns) of ``documents.parquet`` or
    ``embeddings.parquet`` changes, so a stale index is never served.
    The scores are computed on the driver in numpy
    (:func:`lexical_scores`) and handed to Spark as a local relation of
    one row per embedded document, so a top-k over the result is one
    Spark job with no scan.  Bounds: the postings must fit in driver
    memory, and each request ships N_embedded rows.  A query matching no
    term of the embedded documents has max_lex = 0: its lexical branch
    contributes 0 and the ranking is vector-only, as Elasticsearch
    returns only the kNN hits when BM25 matches nothing."""
    idx = corpus_index(spark, sf)
    bm25 = lexical_scores(idx, terms)
    max_lex = bm25.max(initial=0.0)
    lex = bm25 / max_lex if max_lex > 0 else np.zeros(len(bm25))
    fused = 0.5 * lex + 0.5 * (idx.vec_raw / idx.max_vec)
    return spark.createDataFrame(pa.table({"doc_id": idx.doc_id, "fused_raw": fused}))


_COS_DOT = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(embedding[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE)))"
)
_COS_NORM_A = "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
_COS_NORM_Q = "sqrt(list_sum(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

def _fused_sql_core() -> str:
    """Shared SQL replica of :func:`fused_scores` — ends in a ``fused``
    CTE exposing (doc_id, fused_raw); one copy for the three hybrid
    oracles, mirroring the Python-side dedup."""
    return f"""{_bm25_sql_core().strip()},
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
vec AS (
  SELECT vec_id AS doc_id,
         ({_COS_DOT} / ({_COS_NORM_A} * {_COS_NORM_Q})) + 1.0 AS vec_raw
  FROM embeddings, q
),
joined AS (
  SELECT b.doc_id, b.bm25_raw, v.vec_raw
  FROM bm25 b JOIN vec v ON b.doc_id = v.doc_id
),
maxes AS (SELECT MAX(bm25_raw) AS max_lex, MAX(vec_raw) AS max_vec FROM joined),
fused AS (
  SELECT doc_id,
         0.5 * (bm25_raw / max_lex) + 0.5 * (vec_raw / max_vec) AS fused_raw
  FROM joined, maxes
)"""


HYBRID_SQL = f"""
WITH {_fused_sql_core()}
SELECT doc_id, round(fused_raw, 9) AS hybrid_score
FROM fused
ORDER BY hybrid_score DESC, doc_id ASC
LIMIT 10
"""


# Gaussian recency decay (reference README.md:35 "Gaussian Decay
# Scoring: Ưu tiên tài liệu mới hơn" — an Elasticsearch function_score
# `gauss` clause on the accession date).  ES semantics with origin=now,
# offset=0, decay=0.5 at `scale`: multiplier = 0.5 ^ ((age/scale)^2)
# = exp(-(age/scale)^2 · ln 2).  The documents table carries no date
# column, so age_days is a DETERMINISTIC doc_id-derived stand-in for
# `dc.date.accessioned` (identical expression on both engines); the
# operator under test is the decay fold itself, one multiplicative
# column expression on the fused score — zero extra shuffles.
_RECENCY_SCALE_DAYS = 365.0
_RECENCY_AGE_MOD = 1461  # ~4 years of synthetic ages


def hybrid_recency(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid fusion × Gaussian recency decay: the ES function_score
    shape (query score multiplied by the decay function's value)."""
    age_days = (F.col("doc_id") * F.lit(37) % F.lit(_RECENCY_AGE_MOD)).cast("double")
    gauss = F.exp(
        -F.pow(age_days / F.lit(_RECENCY_SCALE_DAYS), F.lit(2.0))
        * F.lit(0.6931471805599453)  # ln 2 → decay=0.5 at scale
    )
    return (
        fused_scores(spark, sf)
        .select(
            "doc_id",
            F.round(F.col("fused_raw") * gauss, 9).alias("recency_score"),
        )
        .orderBy(F.col("recency_score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


HYBRID_RECENCY_SQL = f"""
WITH {_fused_sql_core()}
SELECT doc_id,
       round(fused_raw
             * exp(-pow(CAST(doc_id * 37 % {_RECENCY_AGE_MOD} AS DOUBLE)
                        / {_RECENCY_SCALE_DAYS}, 2.0)
                   * 0.6931471805599453), 9) AS recency_score
FROM fused
ORDER BY recency_score DESC, doc_id ASC
LIMIT 10
"""


def inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """The Spark-native BM25 index: one posting row per term — document
    frequency, total tf, sorted posting list.  This is the build side of
    replacing the reference's Elasticsearch index with engine tables
    (elasticsearch_sync.py:277-335); at scale it writes bucketed by term
    so query-time term lookups are partition-pruned point reads."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    posting = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    # postings serialized to CSV: raw array columns crash the driver
    # canonicalizer's sort_values (unhashable ndarray).
    return (
        posting.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("total_tf"),
            F.concat_ws(",", F.sort_array(F.collect_set("doc_id"))).alias(
                "postings_csv"
            ),
        )
        .orderBy("term")
    )


INVERTED_INDEX_SQL = """
WITH posting AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
)
SELECT term,
       COUNT(DISTINCT doc_id) AS doc_freq,
       COUNT(*) AS total_tf,
       array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings_csv
FROM posting
GROUP BY term
ORDER BY term
"""


_PHRASE = ("fast", "table")


def phrase_search(spark: SparkSession, sf: str) -> DataFrame:
    """Positional-index phrase query (the Lucene/ES ``match_phrase``
    primitive ``q1_inverted_index`` lacks — that index is doc-level):
    exact adjacent-term match via POSITIONAL postings (doc, pos, term)
    and a chain of equi-joins pos_{k} = pos_0 + k, one join per extra
    phrase term.

    Scale shape: the posting stream filters to the phrase's terms
    BEFORE any join (the selective index-lookup step — at deployment
    the postings store is partitioned by term, so this is a pruned
    point read per term), and every join is an equi-join on (doc,
    pos+k); no windows, no arrays carried past the explode.  The
    oracle replays the naive positional scan over the raw text, so the
    green certifies the index decomposition, not two copies of one
    method."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    postings = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "term")
    )
    first = postings.filter(F.col("term") == _PHRASE[0]).select(
        "doc_id", F.col("pos").alias("pos0")
    )
    matched = first
    for k, term in enumerate(_PHRASE[1:], start=1):
        nxt = postings.filter(F.col("term") == term).select(
            "doc_id", (F.col("pos") - k).alias("pos0")
        )
        matched = matched.join(nxt, ["doc_id", "pos0"])
    return (
        matched.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            (F.min("pos0") + 1).cast("long").alias("first_pos"),  # 1-based like the oracle
        )
        .orderBy("doc_id")
    )


PHRASE_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
)
SELECT doc_id, COUNT(*) AS n_matches, MIN(i) AS first_pos
FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {len(_PHRASE) - 1})) AS i
      FROM toks)
WHERE {" AND ".join(f"t[i+{k}] = '{w}'" for k, w in enumerate(_PHRASE))}
GROUP BY doc_id
ORDER BY doc_id
"""


# Rabin-style rolling hash over 4-token windows; anchors where the hash
# ≡ 0 (mod 8) give content-defined chunk boundaries (the rolling-hash
# fingerprinting a CDC dedup pipeline uses).
_CDC_B = 1_000_003
_CDC_P = 2_147_483_647
_CDC_W = 4
_CDC_DIV = 8


def cdc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    from tlcn_oer_lakehouse_spark.operators.dedup import _base_hash

    docs = load(spark, sf, "documents").select("doc_id", "text")
    bh = F.transform(tokens(F.col("text")), _base_hash)
    staged = docs.select("doc_id", bh.alias("bh"))
    n = F.size("bh")

    def _rh(i):
        acc = F.lit(0).cast("long")
        for j in range(_CDC_W):
            acc = (acc * _CDC_B + F.element_at(F.col("bh"), i + j)) % _CDC_P
        return acc

    rolled = staged.select(
        "doc_id",
        F.transform(F.sequence(F.lit(1), F.greatest(F.lit(1), n - (_CDC_W - 1))), _rh).alias(
            "rh"
        ),
    )
    anchors = F.filter(F.col("rh"), lambda h: h % _CDC_DIV == 0)
    return rolled.select(
        "doc_id",
        F.size(anchors).alias("n_anchors"),
        F.md5(
            F.concat_ws(",", F.transform(anchors, lambda h: h.cast("string")))
        ).alias("cdc_fp"),
    )


def _cdc_sql() -> str:
    acc = "0"
    for j in range(_CDC_W):
        acc = f"(({acc}) * {_CDC_B} + bh[i + {j}]) % {_CDC_P}"
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_transform(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                        t -> CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT)) AS bh
  FROM documents
),
rolled AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(1, len(bh) - {_CDC_W - 1})),
                        i -> {acc}) AS rh
  FROM toks
),
anch AS (
  SELECT doc_id, list_filter(rh, h -> h % {_CDC_DIV} = 0) AS anchors FROM rolled
)
SELECT doc_id,
       len(anchors) AS n_anchors,
       md5(coalesce(array_to_string(list_transform(anchors, h -> CAST(h AS VARCHAR)), ','), '')) AS cdc_fp
FROM anch
"""


def hybrid_lang_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Q3 with the reference's language-dependent fusion weights
    (chatbot_api.py:37-40): EN docs fuse 0.5 lexical / 0.5 vector, every
    other language 0.2 / 0.8 (the reference's VI weighting, generalized:
    BM25 is least trustworthy off-English)."""
    docs = load(spark, sf, "documents").select("doc_id", "lang")
    joined = (
        bm25_scores(spark, sf)
        .join(_vec_scores(load(spark, sf, "embeddings")), "doc_id")
        .join(docs, "doc_id")
    )
    w_lex = F.when(F.col("lang") == "en", 0.5).otherwise(0.2)
    fused = _max_norm_fusion(joined, w_lex).select(
        "doc_id", "lang", F.round(F.col("fused_raw"), 9).alias("hybrid_score")
    )
    return fused.orderBy(F.col("hybrid_score").desc(), F.col("doc_id").asc()).limit(10)


HYBRID_LANG_SQL = f"""
WITH {_bm25_sql_core().strip()},
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
vec AS (
  SELECT vec_id AS doc_id,
         ({_COS_DOT} / ({_COS_NORM_A} * {_COS_NORM_Q})) + 1.0 AS vec_raw
  FROM embeddings, q
),
joined AS (
  SELECT b.doc_id, b.bm25_raw, v.vec_raw, d.lang
  FROM bm25 b JOIN vec v ON b.doc_id = v.doc_id
  JOIN documents d ON b.doc_id = d.doc_id
),
maxes AS (SELECT MAX(bm25_raw) AS max_lex, MAX(vec_raw) AS max_vec FROM joined)
SELECT doc_id, lang,
       round((CASE WHEN lang = 'en' THEN 0.5 ELSE 0.2 END) * (bm25_raw / max_lex)
             + (1.0 - (CASE WHEN lang = 'en' THEN 0.5 ELSE 0.2 END)) * (vec_raw / max_vec), 9)
         AS hybrid_score
FROM joined, maxes
ORDER BY hybrid_score DESC, doc_id ASC
LIMIT 10
"""


_RRF_K = 60      # the Cormack et al. / ES `rank_constant` default
_RRF_DEPTH = 60  # per-branch retrieval depth (`rank_window_size`)


def hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009; the ES/OpenSearch
    ``rrf`` retriever): fuse the lexical and vector branches by RANK,
    not score — rrf(d) = Σ_branches 1/(k + rank_b(d)) with k=60 over
    each branch's top-60 list, docs absent from a branch contributing
    0.  Rank fusion is scale-free: branches with incomparable score
    distributions fuse without the per-branch max-normalization
    broadcast ``q3_hybrid_fusion`` needs, which is why serving stacks
    default to RRF for BM25+kNN hybrids.

    Scale shape: each branch ends in TakeOrderedAndProject(60) — no
    global corpus sort; the row_number windows run on LIMIT-bounded
    ≤60-row frames (never corpus-sized), and the full-outer fusion
    join unions two 60-row lists.  Determinism: branch order keys are
    the 9-dp-rounded scores with doc_id tiebreak; the RRF sum adds two
    doubles in a fixed expression order, identical in both engines.

    Ref: chatbot_api.py:244-274 (the reference's hybrid fusion point)
    re-based on rank fusion — the modern default its ES stack exposes
    as the `rrf` retriever."""
    from pyspark.sql import Window

    lex_top = (
        bm25_scores(spark, sf)
        .select("doc_id", F.round("bm25_raw", 9).alias("s"))
        .orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(_RRF_DEPTH)
    )
    vec_top = (
        _vec_scores(load(spark, sf, "embeddings"))
        .select("doc_id", F.round(F.col("vec_raw"), 9).alias("s"))
        .orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(_RRF_DEPTH)
    )
    # LIMIT-bounded frames: these global windows sort 60 rows, not the corpus
    w = Window.orderBy(F.col("s").desc(), F.col("doc_id").asc())
    lex_r = lex_top.select(
        "doc_id", F.row_number().over(w).cast("long").alias("lex_rank")
    )
    vec_r = vec_top.select(
        "doc_id", F.row_number().over(w).cast("long").alias("vec_rank")
    )
    fused = lex_r.join(vec_r, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("vec_rank")), F.lit(0.0)
            ),
            9,
        ).alias("rrf_score"),
    )
    return fused.orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    ).limit(10)


HYBRID_RRF_SQL = f"""
WITH {_bm25_sql_core().strip()},
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
vec AS (
  SELECT vec_id AS doc_id,
         round(({_COS_DOT} / ({_COS_NORM_A} * {_COS_NORM_Q})) + 1.0, 9) AS s
  FROM embeddings, q
),
lex_top AS (
  SELECT doc_id, round(bm25_raw, 9) AS s FROM bm25
  ORDER BY s DESC, doc_id ASC LIMIT {_RRF_DEPTH}
),
vec_top AS (
  SELECT doc_id, s FROM vec ORDER BY s DESC, doc_id ASC LIMIT {_RRF_DEPTH}
),
lex_r AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC) AS BIGINT) AS lex_rank
  FROM lex_top
),
vec_r AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC) AS BIGINT) AS vec_rank
  FROM vec_top
),
fused AS (
  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.lex_rank, v.vec_rank,
         round(COALESCE(1.0e0 / ({_RRF_K} + l.lex_rank), 0.0e0)
               + COALESCE(1.0e0 / ({_RRF_K} + v.vec_rank), 0.0e0), 9) AS rrf_score
  FROM lex_r l FULL OUTER JOIN vec_r v ON l.doc_id = v.doc_id
)
SELECT doc_id, lex_rank, vec_rank, rrf_score
FROM fused
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 10
"""


def keyword_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Q4 query preprocessing (chatbot_api.py:69-119): stopword-filtered
    keyword extraction.  The reference skips short queries (≤5 words) and
    strips a stopword list before building the ES match query; here the
    same pipeline runs corpus-side, keeping each document's top-3
    keywords by term frequency.

    Scale: explode → two-level agg keyed by (doc_id, term); the window
    ranks inside each doc's partition — partial aggregation does the
    heavy lifting map-side and the rank never sees more than one doc's
    terms at once."""
    from pyspark.sql import Window

    from tlcn_oer_lakehouse_spark.functions.text import EN_STOPWORDS

    docs = load(spark, sf, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    eligible = docs.filter(F.size(toks) > 5)
    posting = eligible.select(
        "doc_id",
        F.explode(F.filter(toks, lambda t: ~t.isin(*EN_STOPWORDS))).alias("term"),
    )
    counted = posting.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("term").asc()
    )
    return (
        counted.withColumn("kw_rank", F.row_number().over(w))
        .filter(F.col("kw_rank") <= 3)
        .select("doc_id", "kw_rank", "term", "tf")
        .orderBy("doc_id", "kw_rank")
    )


_STOP_SQL = "('the','a','and','of','to','in','is','it','for','on')"

KEYWORD_SQL = f"""
WITH tk AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
),
posting AS (
  SELECT doc_id, unnest(list_filter(toks, t -> t NOT IN {_STOP_SQL})) AS term
  FROM tk WHERE len(toks) > 5
),
counted AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM posting GROUP BY doc_id, term
)
SELECT doc_id, kw_rank, term, tf FROM (
  SELECT doc_id, term, tf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS kw_rank
  FROM counted
) WHERE kw_rank <= 3
ORDER BY doc_id, kw_rank
"""


def context_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Q5 context filter + relevance gate (chatbot_api.py:277-343,
    480-489): drop too-short chunks (<60 chars) and code-heavy chunks
    (≥3 code-indicator characters), then an all-or-nothing gate — results
    are returned only when the mean top-10 BM25 score clears 0.15.

    Both the top-10 and the gate are tiny 1-row broadcasts; the base scan
    is the same single-shuffle BM25 plan as q1_bm25_topk."""
    scored = bm25_scores(spark, sf)
    docs = load(spark, sf, "documents").select("doc_id", "text", "n_chars")
    code_hits = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[{};=<>]"), 0))
    kept = (
        scored.join(docs, "doc_id")
        .filter((F.col("n_chars") >= 60) & (code_hits < 3))
        .select("doc_id", F.round(F.col("bm25_raw"), 9).alias("score"))
    )
    top = kept.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(10)
    gate = top.agg(F.avg("score").alias("avg_score"))
    return (
        top.crossJoin(F.broadcast(gate))
        .filter(F.col("avg_score") >= 0.15)
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(5)
    )


MMR_LAMBDA = 0.7   # relevance weight; diversity weight is the 0.3 literal
MMR_POOL = 20      # candidate pool (BM25 top-k among embedded docs)
MMR_K = 5          # greedy selection depth


def context_mmr(spark: SparkSession, sf: str) -> DataFrame:
    """Q5 diversity rerank — Maximal Marginal Relevance (Carbonell &
    Goldstein 1998): greedily pick ``MMR_K`` of the top-``MMR_POOL``
    BM25 candidates, each step maximizing
    ``0.7·rel − 0.3·max_cosine_to_already_selected`` (round-9, doc-id
    tie-break; ``rel`` is the max-normalized round-9 BM25 score).  The
    first pick is the pure-relevance argmax (empty selected set →
    similarity term 0, mmr = round(0.7·rel, 9)).

    Scale shape: corpus-sized work is exactly the shared BM25 scan plus
    one embeddings equi-join; the candidate pool is then a constant
    O(MMR_POOL)-row frame, collected when the query is built and
    re-planted as a local relation from its Arrow table (as
    ``kmeans_fit`` does with its centroids): the greedy unroll
    references the pool ~2 times per step, and without this every
    reference replays the corpus scan.  Building therefore runs one
    Spark job over the corpus (like the corpus index); in exchange the
    pool's rows plan equal on every rebuild, so a rebuild reuses the
    BM25 frame's cache entry (a checkpoint would persist a fresh RDD
    per build).  Selection depth is a constant, so the unrolled plan
    size is fixed and data-independent; every step joins ≤MMR_POOL rows
    against a broadcast ≤MMR_K-row selected set."""
    emb = load(spark, sf, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vec"),
    )
    pool = (
        bm25_scores(spark, sf)
        .join(emb, "doc_id")
        .select("doc_id", F.round(F.col("bm25_raw"), 9).alias("raw"), "vec")
        .orderBy(F.col("raw").desc(), F.col("doc_id").asc())
        .limit(MMR_POOL)
    )
    mx = pool.agg(F.max("raw").alias("mx"))
    cands = pool.crossJoin(F.broadcast(mx)).select(
        "doc_id",
        F.round(F.col("raw") / F.col("mx"), 9).alias("rel"),
        "vec",
    )
    cands = spark.createDataFrame(cands.toArrow().sort_by("doc_id"), cands.schema)

    sel = (
        cands.orderBy(F.col("rel").desc(), F.col("doc_id").asc())
        .limit(1)
        .select(
            "doc_id", "rel",
            F.round(F.lit(MMR_LAMBDA) * F.col("rel"), 9).alias("mmr"),
            F.lit(1).alias("mmr_rank"),
        )
    )
    for i in range(2, MMR_K + 1):
        sel_vecs = sel.select(F.col("doc_id").alias("sid")).join(
            cands.select(F.col("doc_id").alias("sid"), F.col("vec").alias("svec")),
            "sid",
        )
        rem = cands.join(sel, "doc_id", "left_anti")
        sims = rem.crossJoin(F.broadcast(sel_vecs)).select(
            "doc_id", "rel",
            F.round(cosine(F.col("vec"), F.col("svec")), 9).alias("sim"),
        )
        nxt = (
            sims.groupBy("doc_id")
            .agg(F.max("rel").alias("rel"), F.max("sim").alias("maxsim"))
            .select(
                "doc_id", "rel",
                F.round(
                    F.lit(MMR_LAMBDA) * F.col("rel")
                    - F.lit(0.3) * F.col("maxsim"), 9
                ).alias("mmr"),
            )
            .orderBy(F.col("mmr").desc(), F.col("doc_id").asc())
            .limit(1)
            .withColumn("mmr_rank", F.lit(i))
        )
        sel = sel.unionByName(nxt)
    return sel.orderBy("mmr_rank")


_MMR_COS = (
    "list_sum(list_transform(generate_series(1, 64), i -> r.vec[i] * cv.vec[i]))"
    " / (sqrt(list_sum(list_transform(r.vec, x -> x * x)))"
    " * sqrt(list_sum(list_transform(cv.vec, x -> x * x))))"
)


def _mmr_oracle() -> str:
    """Unrolled SQL replay of context_mmr — one (sc, pick, sel) CTE
    block per greedy step, MATERIALIZED multi-referenced CTEs."""
    parts = [
        "pool AS MATERIALIZED (\n"
        "  SELECT b.doc_id, round(b.bm25_raw, 9) AS raw,\n"
        "         list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS vec\n"
        "  FROM bm25 b JOIN embeddings e ON e.vec_id = b.doc_id\n"
        f"  ORDER BY raw DESC, b.doc_id ASC LIMIT {MMR_POOL}\n"
        ")",
        "cands AS MATERIALIZED (\n"
        "  SELECT doc_id, round(raw / (SELECT MAX(raw) FROM pool), 9) AS rel, vec\n"
        "  FROM pool\n"
        ")",
        f"sel1 AS (SELECT doc_id, rel, round({MMR_LAMBDA} * rel, 9) AS mmr, "
        "1 AS mmr_rank FROM cands ORDER BY rel DESC, doc_id ASC LIMIT 1)",
    ]
    for i in range(2, MMR_K + 1):
        p = i - 1
        parts.append(
            f"sc{i} AS (\n"
            f"  SELECT r.doc_id, r.rel,\n"
            f"         round({MMR_LAMBDA} * r.rel - 0.3 * MAX(round({_MMR_COS}, 9)), 9) AS mmr\n"
            f"  FROM cands r\n"
            f"  CROSS JOIN sel{p} s JOIN cands cv ON cv.doc_id = s.doc_id\n"
            f"  WHERE r.doc_id NOT IN (SELECT doc_id FROM sel{p})\n"
            f"  GROUP BY r.doc_id, r.rel\n"
            f")"
        )
        parts.append(
            f"pick{i} AS (SELECT doc_id, rel, mmr, {i} AS mmr_rank "
            f"FROM sc{i} ORDER BY mmr DESC, doc_id ASC LIMIT 1)"
        )
        parts.append(f"sel{i} AS (SELECT * FROM sel{p} UNION ALL SELECT * FROM pick{i})")
    return (
        f"WITH {_bm25_sql_core().strip()},\n"
        + ",\n".join(parts)
        + f"\nSELECT doc_id, rel, mmr, mmr_rank FROM sel{MMR_K} ORDER BY mmr_rank\n"
    )


CONTEXT_BUDGET_TOKENS = 600


def context_pack(spark: SparkSession, sf: str) -> DataFrame:
    """RAG context assembly: the step between retrieval and the LLM
    call (the call itself is out of engine scope, SURVEY §2.10 Q6) —
    the top-20 BM25 candidates are packed into a
    ``CONTEXT_BUDGET_TOKENS`` context window greedily by score: a doc
    is included while the running token total stays within budget.
    Integer token counts + an ordered running-sum window over a 20-row
    frame — deterministic and O(1)-sized regardless of corpus scale
    (the only corpus-sized work is the BM25 scan feeding it)."""
    from pyspark.sql import Window

    from tlcn_oer_lakehouse_spark.functions.text import token_count

    docs = load(spark, sf, "documents").select("doc_id", "text")
    top = (
        bm25_scores(spark, sf)
        .join(docs, "doc_id")
        .select(
            "doc_id",
            F.round(F.col("bm25_raw"), 9).alias("score"),
            token_count(F.col("text")).alias("n_tokens"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum("n_tokens").over(w)
    return top.select(
        "doc_id",
        "score",
        "n_tokens",
        cum.alias("cum_tokens"),
        (cum <= CONTEXT_BUDGET_TOKENS).alias("packed"),
    ).orderBy(F.col("score").desc(), F.col("doc_id").asc())


CONTEXT_PACK_SQL = f"""
WITH {{core}},
top AS (
  SELECT b.doc_id, round(b.bm25_raw, 9) AS score,
         len(regexp_extract_all(d.text, '\\w+')) AS n_tokens
  FROM bm25 b JOIN documents d ON b.doc_id = d.doc_id
  ORDER BY score DESC, b.doc_id ASC LIMIT 20
)
SELECT doc_id, score, n_tokens,
       CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens,
       SUM(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         <= {CONTEXT_BUDGET_TOKENS} AS packed
FROM top
ORDER BY score DESC, doc_id ASC
"""


CONTEXT_RERANK_SQL = f"""
WITH {_bm25_sql_core().strip()},
kept AS (
  SELECT b.doc_id, round(b.bm25_raw, 9) AS score
  FROM bm25 b JOIN documents d ON b.doc_id = d.doc_id
  WHERE d.n_chars >= 60
    AND len(regexp_extract_all(d.text, '[{{}};=<>]')) < 3
),
top AS (
  SELECT doc_id, score FROM kept ORDER BY score DESC, doc_id ASC LIMIT 10
),
gate AS (SELECT AVG(score) AS avg_score FROM top)
SELECT doc_id, score
FROM top, gate
WHERE avg_score >= 0.15
ORDER BY score DESC, doc_id ASC
LIMIT 5
"""


def index_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Q7 incremental index diff (elasticsearch_sync.py:343-395): the
    reference scans every ``_id`` already in Elasticsearch and skips
    those chunks.  Engine-native: the index state is a table, the skip is
    a left-anti join (J4), and each new row carries its content
    fingerprint (the id scheme of oer_chunks, transformer.py:861).

    Index state here: every doc except multiples of 5 is already
    indexed, so the diff emits exactly the doc_id % 5 == 0 rows."""
    from tlcn_oer_lakehouse_spark.functions.text import fingerprint

    docs = load(spark, sf, "documents")
    indexed = docs.filter(F.col("doc_id") % 5 != 0).select(
        F.col("doc_id").alias("indexed_id")
    )
    return (
        docs.join(indexed, docs.doc_id == indexed.indexed_id, "left_anti")
        .select("doc_id", fingerprint(F.col("text")).alias("fp"), "n_chars")
        .orderBy("doc_id")
    )


INDEX_DIFF_SQL = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       n_chars
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0)
ORDER BY doc_id
"""


SPECS = [
    QuerySpec("q4_keyword_extract", keyword_extract, KEYWORD_SQL,
              ref="chatbot_api.py:69-119 (stopword keyword extraction)",
              doc="top-3 stopword-filtered keywords per document", tags=("retrieval",)),
    QuerySpec("q5_context_rerank", context_rerank, CONTEXT_RERANK_SQL,
              ref="chatbot_api.py:277-343, 480-489 (context filter + relevance gate)",
              doc="length/code filters + avg-score gated top-5", tags=("retrieval",)),
    QuerySpec("q5_context_mmr", context_mmr, _mmr_oracle(),
              ref="serve op beyond the reference: MMR diversity rerank "
                  "(Carbonell & Goldstein 1998) — constant-depth greedy "
                  "unroll over an O(pool) checkpointed frame",
              doc="maximal-marginal-relevance top-5 from the BM25 top-20",
              tags=("retrieval",)),
    QuerySpec("q6_context_pack", context_pack,
              CONTEXT_PACK_SQL.format(core=_bm25_sql_core().strip()),
              ref="chatbot_api.py context assembly ahead of the LLM call "
                  "(the call itself is out of engine scope, SURVEY §2.10 Q6)",
              doc="greedy token-budget packing of top-k retrieval results",
              tags=("retrieval",)),
    QuerySpec("q7_index_diff", index_diff, INDEX_DIFF_SQL,
              ref="elasticsearch_sync.py:343-395 (incremental index skip-scan)",
              doc="left-anti diff of docs vs index state, with fingerprints",
              tags=("retrieval",)),
    QuerySpec("q3_hybrid_lang_weighted", hybrid_lang_weighted, HYBRID_LANG_SQL,
              ref="chatbot_api.py:37-40 (language-dependent fusion weights)",
              doc="hybrid fusion, EN .5/.5 vs other .2/.8", tags=("retrieval",)),
    QuerySpec("q_phrase_search", phrase_search, PHRASE_SQL,
              ref="scale op: positional phrase match (Lucene "
                  "match_phrase) — term-filtered postings, equi-join "
                  "chain on (doc, pos+k); oracle replays the naive "
                  "positional text scan",
              doc=f"docs containing the phrase {' '.join(_PHRASE)!r} "
                  "with match count + first position",
              tags=("retrieval",)),
    QuerySpec("q1_inverted_index", inverted_index, INVERTED_INDEX_SQL,
              ref="elasticsearch_sync.py:277-335 (index build) → engine-native posting lists",
              doc="term → (df, tf, sorted postings) index table", tags=("retrieval",)),
    QuerySpec("text_cdc_fingerprint", cdc_fingerprint, _cdc_sql(),
              ref="scale op: Rabin rolling-hash content-defined chunk anchors",
              doc="4-token rolling hash, mod-8 anchors, anchor-set fingerprint",
              tags=("text",)),
    QuerySpec("q1_bm25_topk", bm25_topk, BM25_SQL,
              ref="chatbot_api.py:202-217 (Q1 BM25 match) → SURVEY §2.10",
              doc="Okapi BM25 top-10, pure column exprs + 1-row stats broadcast",
              tags=("retrieval", "bench")),
    QuerySpec("td_hard_negatives", hard_negatives, HARD_NEGATIVES_SQL,
              ref="scale op: DPR/RocketQA hard-negative mining — top-BM25 "
                  "non-relevant docs labeled against a deterministic "
                  "term-coverage relevance proxy",
              doc="top-20 BM25 ranks labeled positive/hard_negative with "
                  "term coverage",
              tags=("traindata", "retrieval")),
    QuerySpec("q3_hybrid_fusion", hybrid_search, HYBRID_SQL,
              ref="chatbot_api.py:37-40, 244-274 (Q3 max-norm weighted fusion)",
              doc="hybrid BM25+cosine fusion top-10", tags=("retrieval",)),
    QuerySpec("q3_hybrid_recency", hybrid_recency, HYBRID_RECENCY_SQL,
              ref="README.md:35 (Gaussian Decay Scoring) — ES function_score "
                  "gauss clause folded into the fusion as one column expr",
              doc="hybrid fusion × exp(-(age/τ)²·ln2) recency decay top-10",
              tags=("retrieval",)),
    QuerySpec("q3_hybrid_rrf", hybrid_rrf, HYBRID_RRF_SQL,
              ref="chatbot_api.py:244-274 re-based on rank fusion — the ES "
                  "`rrf` retriever (Cormack et al. 2009), scale-free "
                  "BM25+kNN hybrid without score normalization",
              doc="reciprocal-rank fusion of top-60 lexical and vector "
                  "lists, k=60, top-10",
              tags=("retrieval",)),
]
