"""The composed SERVE path — the reference's two headline request flows
registered as single Spark plans with DuckDB oracles.

1. ``q_tiered_search`` — two-stage hierarchical retrieval
   (HIERARCHICAL_CHUNKING_DESIGN.md:783-807, 975-1001;
   elasticsearch_sync.py:474-484 integer_range fields): BM25 search runs
   over tier-1/2 SUMMARY chunks only, the top chapters are selected, and
   tier-3 detail chunks are loaded by ``parent_chunk_id`` — the design's
   "search 22% of the index, drill into the rest on demand" claim.

2. ``rag_serve_e2e`` — the chatbot request pipeline
   (chatbot_api.py:460-502): Q4 query preprocessing → Q1 BM25 ∥ Q2 kNN →
   Q3 max-norm weighted fusion → Q5 context filter + relevance gate →
   Q6 token-budget context packing, composed as ONE lazy plan (the
   retrieval analog of ``td_pipeline_e2e``).

Scale design (100 TB):

- Tier routing is a *partition-pruning* story: chunks write partitioned
  by ``chunk_tier`` (tests/test_plans.py pins that a tier-1/2 search
  over such a store never opens tier-3 files), and the scoring corpus is
  the ~20-30% summary tier.  The drill-down join broadcasts the O(k)
  selected chapters against the tier-3 partition — an equi-join on
  ``parent_chunk_id``, never a scan-side sort.
- The e2e plan inherits each stage's shape: the fused scores come from
  the driver-local corpus index (``retrieval.fused_scores``, built once
  per corpus version) as a local relation of one row per embedded
  document; the gate and pack are 1-row or O(k)-row stages.  Zero
  Python UDFs.  The index's postings must fit in driver memory and each
  request ships N_embedded rows; a larger corpus would serve from a
  partitioned frame instead (``retrieval`` module docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.functions.text import EN_STOPWORDS, token_count
from tlcn_oer_lakehouse_spark.operators.chunking import hierarchical_chunks
from tlcn_oer_lakehouse_spark.queries.base import QuerySpec, load
from tlcn_oer_lakehouse_spark.queries.chunking import HIER_CHUNKS_SQL_CORE
from tlcn_oer_lakehouse_spark.queries.retrieval import (
    CONTEXT_BUDGET_TOKENS,
    QUERY_TERMS,
    _bm25_score_expr_sql,
    _fused_sql_core,
    _max_norm_fusion,
    _query_embedding,
    _vec_scores,
    bm25_score_frame,
    bm25_scores,
    fused_scores,
)

# ---------------------------------------------------------------------------
# Q4 query preprocessing, applied to the SERVE-TIME QUERY STRING — the
# reference preprocesses each request on the API node (chatbot_api.py:69-119)
# before building the search body; the query is a plan-build-time constant,
# so the stopword strip runs here (O(query length), not data-sized) and the
# resulting terms parameterize the plan.
RAW_QUERY = "the spark merge of a vector"


def preprocess_query(raw: str) -> tuple[str, ...]:
    """Normalize + stopword-strip the request string (Q4 semantics)."""
    toks = raw.lower().split()
    return tuple(t for t in toks if t and t not in EN_STOPWORDS)


# The preprocessed request must be exactly the fleet's fixed query-term
# set so the shared _bm25_sql_core() oracle stays honest.  An explicit
# raise, not an assert: `python -O` strips asserts and would silently
# void the invariant.
if preprocess_query(RAW_QUERY) != QUERY_TERMS:
    raise RuntimeError(
        f"serve-path query drifted from the fleet term set: "
        f"{preprocess_query(RAW_QUERY)!r} != {QUERY_TERMS!r}"
    )


# ---------------------------------------------------------------------------
# two-stage hierarchical (tiered) search

TOP_CHAPTERS = 3


def tiered_search_from_chunks(chunks: DataFrame) -> DataFrame:
    """Tier-routed search over an (already built or stored) 3-tier chunk
    set: BM25 over tier≤2 summaries → top-``TOP_CHAPTERS`` tier-2
    chapters → tier-3 drill-down on ``parent_chunk_id``.

    Split out from the registered builder so the SAME plan can run over
    a ``chunk_tier``-partitioned parquet store — where the tier≤2 filter
    becomes a partition filter and tier-3 files are never opened for the
    scoring stage (the design's index-reduction claim, plan-pinned in
    tests/test_plans.py)."""
    # stage 1: score ONLY the summary tiers — the tier filter sits below
    # every scoring expression so tier-3 rows never reach the stats agg;
    # the scoring itself is the SHARED BM25 core (retrieval.
    # bm25_score_frame), bound here to the chunk corpus
    t12 = chunks.filter(F.col("chunk_tier") <= 2)
    j = bm25_score_frame(t12, ("chunk_id", "chunk_tier"), "chunk_text")

    # stage 2: top chapters among the tier-2 hits (tier-1 doc summaries
    # participate in the corpus stats, chapters are what expand)
    chap = j.filter(F.col("chunk_tier") == 2).select(
        F.col("chunk_id").alias("chapter_chunk_id"),
        F.col("bm25_raw").alias("chap_score"),
    )
    top_chap = chap.orderBy(
        F.col("chap_score").desc(), F.col("chapter_chunk_id").asc()
    ).limit(TOP_CHAPTERS)
    w = Window.orderBy(F.col("chap_score").desc(), F.col("chapter_chunk_id").asc())
    ranked = top_chap.withColumn("chapter_rank", F.row_number().over(w))

    # stage 3: drill-down — tier-3 sections of the selected chapters only,
    # an equi-join against an O(k)-row broadcast (design doc :990-1001)
    t3 = chunks.filter(F.col("chunk_tier") == 3)
    return (
        t3.join(
            F.broadcast(ranked),
            t3.parent_chunk_id == ranked.chapter_chunk_id,
        )
        .select(
            "chapter_rank",
            F.round(F.col("chap_score"), 9).alias("chapter_score"),
            "chapter_chunk_id",
            "doc_id",
            "chapter_number",
            "chunk_order",
            "chunk_id",
            "chunk_text",
        )
        .orderBy("chapter_rank", "chunk_order", "chunk_id")
    )


def tiered_search(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return tiered_search_from_chunks(
        hierarchical_chunks(docs, "doc_id", "text")
    )


def _chunk_bm25_score_sql() -> str:
    """DuckDB replica of the per-chunk BM25 expression — the shared
    score expression from retrieval, same term order and association
    as the shared Spark core."""
    return _bm25_score_expr_sql()


def _tiered_sql() -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter(ctk, t -> t = '{t}')) AS tf_{i}"
        for i, t in enumerate(QUERY_TERMS)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(QUERY_TERMS))
    )
    return f"""
WITH {HIER_CHUNKS_SQL_CORE.strip()},
sc AS (
  SELECT chunk_id, chunk_tier, len(ctk) AS dl,
         {tf_cols}
  FROM (SELECT chunk_id, chunk_tier,
               string_split(trim(regexp_replace(lower(chunk_text), '\\s+', ' ', 'g')), ' ') AS ctk
        FROM chunks WHERE chunk_tier <= 2)
),
st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, {df_cols} FROM sc),
chap AS (
  SELECT chunk_id AS chapter_chunk_id, (0.0 + {_chunk_bm25_score_sql()}) AS chap_score
  FROM sc, st
  WHERE chunk_tier = 2
),
top_chap AS (
  SELECT chapter_chunk_id, chap_score,
         ROW_NUMBER() OVER (ORDER BY chap_score DESC, chapter_chunk_id ASC) AS chapter_rank
  FROM (SELECT * FROM chap ORDER BY chap_score DESC, chapter_chunk_id ASC LIMIT {TOP_CHAPTERS})
)
SELECT tc.chapter_rank, round(tc.chap_score, 9) AS chapter_score,
       tc.chapter_chunk_id, c.doc_id, c.chapter_number, c.chunk_order,
       c.chunk_id, c.chunk_text
FROM chunks c JOIN top_chap tc ON c.parent_chunk_id = tc.chapter_chunk_id
WHERE c.chunk_tier = 3
ORDER BY tc.chapter_rank, c.chunk_order, c.chunk_id
"""


# ---------------------------------------------------------------------------
# end-to-end RAG serve plan


def _pack_context(spark: SparkSession, sf: str, fused: DataFrame) -> DataFrame:
    """The shared Q5 → Q6 serve tail: context filters (length ≥60 chars,
    <3 code-indicator chars), all-or-nothing relevance gate (mean top-10
    fused score ≥ 0.15), greedy token-budget pack.  One copy for the
    dense (``rag_serve``) and ANN (``rag_serve_ann``) front halves."""
    docs = load(spark, sf, "documents").select("doc_id", "text", "n_chars")
    code_hits = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[{};=<>]"), 0))
    kept = (  # Q5 context filters
        fused.join(docs, "doc_id")
        .filter((F.col("n_chars") >= 60) & (code_hits < 3))
        .select(
            "doc_id",
            "fused_raw",
            token_count(F.col("text")).alias("n_tokens"),
        )
    )
    # nothing is cached: `top` is 10 rows read by ONE plan, so the gate
    # (mean top-10 fused score, the whole-frame window) and the pack's
    # running token sum are both windows over it — a per-request cache
    # would only pile up one frame per distinct request
    top = kept.orderBy(F.col("fused_raw").desc(), F.col("doc_id").asc()).limit(10)
    gate = F.avg("fused_raw").over(Window.partitionBy())  # Q5 relevance gate
    w = Window.orderBy(F.col("fused_raw").desc(), F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum("n_tokens").over(w)
    return (  # Q6 token-budget pack
        top.select(
            "doc_id",
            F.round(F.col("fused_raw"), 9).alias("serve_score"),
            "n_tokens",
            cum.alias("cum_tokens"),
            (cum <= CONTEXT_BUDGET_TOKENS).alias("packed"),
            gate.alias("avg_score"),
        )
        .filter(F.col("avg_score") >= 0.15)
        .drop("avg_score")
        .orderBy(F.col("serve_score").desc(), F.col("doc_id").asc())
    )


def rag_serve(spark: SparkSession, sf: str) -> DataFrame:
    """Q4 → (Q1 ∥ Q2) → Q3 → Q5 → Q6 in one plan (chatbot_api.py:460-502).

    Preprocess the request string, score the corpus lexically (BM25) and
    semantically (cosine vs the request embedding, vec_id=0) in two
    branches, max-normalize and fuse 0.5/0.5, then the shared Q5/Q6
    tail (:func:`_pack_context`)."""
    terms = preprocess_query(RAW_QUERY)  # Q4
    fused = fused_scores(spark, sf, terms)  # Q1 ∥ Q2 → Q3 (shared core)
    return _pack_context(spark, sf, fused)


# ---------------------------------------------------------------------------
# ANN-backed serve: candidate generation → exact re-rank → shared tail.
#
# At 100 TB the dense plan's vector branch (exact cosine over EVERY
# embedding) is the one scan that cannot stay: this variant replaces it
# with the production retrieve-then-rerank shape — candidates = BM25
# top-K ∪ IVF-probed vector top-K, then BOTH branch scores computed
# exactly on the O(K) union only.  The IVF probe touches n_probe/8 of
# a cluster-partitioned store (ann_ivf_topk's pruning story); the union
# re-rank is a semi-join against an O(K) broadcast.
#
# Measured at sf0.1 (2000 vectors, noise-dominated synthetic
# embeddings — query's true neighbours share no cluster): serve-level
# recall = 0.9 overlap@10 vs the dense rag_serve top-10 (target ≥0.8);
# the vector branch alone recalls 0.56@100 with candidates = 52% of
# the corpus at n_probe=4/8 — the union + exact re-rank is what lifts
# the end-to-end number, because the lexical branch (unchanged) anchors
# the fused ranking.
ANN_CAND_K = 100
ANN_NPROBE = 4


def rag_serve_ann(spark: SparkSession, sf: str) -> DataFrame:
    """ANN-backed RAG serve: Q4 → (Q1 top-K ∥ IVF-ANN top-K) → exact
    union re-rank → Q3 fuse → shared Q5/Q6 tail."""
    from tlcn_oer_lakehouse_spark.operators.similarity import ivf_topk

    terms = preprocess_query(RAW_QUERY)  # Q4
    lex = bm25_scores(spark, sf, terms)
    emb = load(spark, sf, "embeddings")
    centroids = emb.filter(F.col("vec_id").between(100, 107)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    lex_k = (
        lex.orderBy(F.col("bm25_raw").desc(), F.col("doc_id").asc())
        .limit(ANN_CAND_K)
        .select("doc_id")
    )
    vec_k = ivf_topk(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding",
        centroids, _query_embedding(emb), k=ANN_CAND_K, n_probe=ANN_NPROBE,
    ).select(F.col("vec_id").alias("doc_id"))
    cand = lex_k.unionByName(vec_k).distinct()

    # exact re-rank on the O(K) union: both branches scored exactly
    fused = _max_norm_fusion(lex.join(_vec_scores(emb, cand), "doc_id"), F.lit(0.5))
    return _pack_context(spark, sf, fused)


RAG_SERVE_SQL = f"""
WITH {_fused_sql_core()},
kept AS (
  SELECT f.doc_id, f.fused_raw,
         len(regexp_extract_all(d.text, '\\w+')) AS n_tokens
  FROM fused f JOIN documents d ON f.doc_id = d.doc_id
  WHERE d.n_chars >= 60
    AND len(regexp_extract_all(d.text, '[{{}};=<>]')) < 3
),
top AS (
  SELECT doc_id, fused_raw, n_tokens
  FROM kept ORDER BY fused_raw DESC, doc_id ASC LIMIT 10
),
gate AS (SELECT AVG(fused_raw) AS avg_score FROM top)
SELECT doc_id, round(fused_raw, 9) AS serve_score, n_tokens,
       CAST(SUM(n_tokens) OVER (ORDER BY fused_raw DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens,
       SUM(n_tokens) OVER (ORDER BY fused_raw DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         <= {CONTEXT_BUDGET_TOKENS} AS packed
FROM top, gate
WHERE avg_score >= 0.15
ORDER BY serve_score DESC, doc_id ASC
"""


def _rag_serve_ann_sql() -> str:
    """DuckDB replica of the ANN serve plan: bm25 core → IVF candidate
    generation (the SHARED ``_ivf_sql_core`` — the same
    assignment/probe SQL text ann_ivf_topk runs, by construction) →
    exact union re-rank → the RAG_SERVE tail."""
    from tlcn_oer_lakehouse_spark.queries.retrieval import (
        _bm25_sql_core,
        _COS_DOT,
        _COS_NORM_A,
        _COS_NORM_Q,
    )
    from tlcn_oer_lakehouse_spark.queries.vectorops import (
        _cos_sql,
        _ivf_sql_core,
    )

    cos_q = f"({_COS_DOT} / ({_COS_NORM_A} * {_COS_NORM_Q}))"
    return f"""
WITH {_bm25_sql_core().strip()},
{_ivf_sql_core(ANN_NPROBE)},
lex_k AS (
  SELECT doc_id FROM bm25 ORDER BY bm25_raw DESC, doc_id ASC LIMIT {ANN_CAND_K}
),
vec_k AS (
  SELECT vec_id AS doc_id
  FROM (
    SELECT a.vec_id, round({_cos_sql('a.embedding', 'q_emb')}, 9) AS cos_sim
    FROM assigned a JOIN probe p ON a.cluster_id = p.cluster_id, q
  ) ORDER BY cos_sim DESC, vec_id ASC
  LIMIT {ANN_CAND_K}
),
cand AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id FROM lex_k UNION ALL SELECT doc_id FROM vec_k)
),
vecs AS (
  SELECT vec_id AS doc_id, {cos_q} + 1.0 AS vec_raw
  FROM embeddings JOIN cand ON vec_id = cand.doc_id, q
),
joined AS (
  SELECT b.doc_id, b.bm25_raw, v.vec_raw
  FROM bm25 b JOIN vecs v ON b.doc_id = v.doc_id
),
maxes AS (SELECT MAX(bm25_raw) AS max_lex, MAX(vec_raw) AS max_vec FROM joined),
fused AS (
  SELECT doc_id,
         0.5 * (bm25_raw / max_lex) + 0.5 * (vec_raw / max_vec) AS fused_raw
  FROM joined, maxes
),
kept AS (
  SELECT f.doc_id, f.fused_raw,
         len(regexp_extract_all(d.text, '\\w+')) AS n_tokens
  FROM fused f JOIN documents d ON f.doc_id = d.doc_id
  WHERE d.n_chars >= 60
    AND len(regexp_extract_all(d.text, '[{{}};=<>]')) < 3
),
top AS (
  SELECT doc_id, fused_raw, n_tokens
  FROM kept ORDER BY fused_raw DESC, doc_id ASC LIMIT 10
),
gate AS (SELECT AVG(fused_raw) AS avg_score FROM top)
SELECT doc_id, round(fused_raw, 9) AS serve_score, n_tokens,
       CAST(SUM(n_tokens) OVER (ORDER BY fused_raw DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens,
       SUM(n_tokens) OVER (ORDER BY fused_raw DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         <= {CONTEXT_BUDGET_TOKENS} AS packed
FROM top, gate
WHERE avg_score >= 0.15
ORDER BY serve_score DESC, doc_id ASC
"""


SPECS = [
    QuerySpec("q_tiered_search", tiered_search, _tiered_sql(),
              ref="HIERARCHICAL_CHUNKING_DESIGN.md:783-807, 975-1001 "
                  "(tier-1/2 search → expand-to-tier-3 on parent_chunk_id); "
                  "elasticsearch_sync.py:474-484",
              doc="BM25 over summary tiers, top-3 chapters, tier-3 drill-down",
              tags=("serve", "retrieval")),
    QuerySpec("rag_serve_e2e", rag_serve, RAG_SERVE_SQL,
              ref="chatbot_api.py:460-502 (preprocess → BM25 ∥ kNN → fusion "
                  "→ filter/gate → context pack) as ONE plan",
              doc="the chatbot request pipeline end-to-end",
              tags=("serve", "retrieval", "bench")),
    QuerySpec("rag_serve_ann", rag_serve_ann, _rag_serve_ann_sql(),
              ref="chatbot_api.py:460-502 with the vector branch as "
                  "production retrieve-then-rerank: BM25 top-K ∪ IVF-ANN "
                  "top-K candidates, exact re-rank on the O(K) union; "
                  "measured 0.9 overlap@10 vs the dense plan at sf0.1",
              doc="ANN-backed RAG serve (candidates → exact union re-rank)",
              tags=("serve", "retrieval")),
]
