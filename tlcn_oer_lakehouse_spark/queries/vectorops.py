"""Vector similarity queries over the ``embeddings`` table: brute-force
kNN (the correctness baseline), sign-bucket ANN (the pruned scale path),
and embedding-cosine near-dup detection.

Reproduces SURVEY §2.10 Q2's rebuild mapping (kNN vector search →
fold-based cosine + orderBy/limit) without Elasticsearch.  All math is a
sequential double-precision fold (functions/vectors.py) that matches
DuckDB's ``list_sum(list_transform(...))`` bit-for-bit.

The raw embeddings are near-random (max pairwise cosine ≈ 0.51), so the
near-dup query augments the corpus deterministically with exact copies
(vec_id+10000000) and first-component-jittered copies (vec_id+20000000,
x0 += 0.2 → cosine ≈ 0.98 to the original) — giving real positives at a
0.95 threshold while every cross pair stays far below.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.functions.vectors import (
    cosine,
    dot,
    l2_norm,
    sign_bucket,
)
from tlcn_oer_lakehouse_spark.queries.base import QuerySpec, load
from tlcn_oer_lakehouse_spark.queries.retrieval import _query_embedding
from tlcn_oer_lakehouse_spark.queries.textops import COPY_OFFSET, NEAR_OFFSET

DOT_SQL = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
NORM_SQL = "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


def _cos_sql(a: str, b: str) -> str:
    return (
        DOT_SQL.format(a=a, b=b)
        + " / ("
        + NORM_SQL.format(a=a)
        + " * "
        + NORM_SQL.format(a=b)
        + ")"
    )


def knn_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    """Exact top-10 nearest neighbours (cosine) of vec_id=0's embedding.
    Query vector arrives via a 1-row broadcast cross join — no literal
    vectors, no driver collect. Ranking on round(cos, 9) with id
    tie-break keeps top-k membership engine-stable."""
    emb = load(spark, sf, "embeddings")
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(_query_embedding(emb)))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 9).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc()).limit(10)


KNN_SQL = f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
SELECT vec_id, round({_cos_sql('embedding', 'q_emb')}, 9) AS cos_sim
FROM embeddings, q
WHERE vec_id != 0
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
"""


def ann_sign_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """Sign-bucket ANN: candidates = rows whose first-4-component sign
    pattern equals the query's; exact cosine only inside the bucket.
    At scale the bucket is a partition/cluster key → scan pruning."""
    emb = load(spark, sf, "embeddings")
    q = _query_embedding(emb).withColumn("q_bucket", sign_bucket(F.col("q_emb"), 4))
    cands = (
        emb.filter(F.col("vec_id") != 0)
        .withColumn("bucket", sign_bucket(F.col("embedding"), 4))
        .join(F.broadcast(q), F.col("bucket") == F.col("q_bucket"))
    )
    scored = cands.select(
        "vec_id",
        "bucket",
        F.round(cosine(F.col("embedding"), F.col("q_emb")), 9).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc()).limit(10)


BUCKET_EXPR = (
    "(CASE WHEN {e}[1] >= 0 THEN 1 ELSE 0 END) + (CASE WHEN {e}[2] >= 0 THEN 2 ELSE 0 END)"
    " + (CASE WHEN {e}[3] >= 0 THEN 4 ELSE 0 END) + (CASE WHEN {e}[4] >= 0 THEN 8 ELSE 0 END)"
)

ANN_SQL = f"""
WITH q AS (
  SELECT embedding AS q_emb, {BUCKET_EXPR.format(e='embedding')} AS q_bucket
  FROM embeddings WHERE vec_id = 0
)
SELECT vec_id, {BUCKET_EXPR.format(e='embedding')} AS bucket,
       round({_cos_sql('embedding', 'q_emb')}, 9) AS cos_sim
FROM embeddings, q
WHERE vec_id != 0 AND {BUCKET_EXPR.format(e='embedding')} = q_bucket
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
"""


def _augmented_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", as_double.alias("vec"))
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + COPY_OFFSET).alias("vec_id"), as_double.alias("vec")
    )
    jitter = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(i == 0, x.cast("double") + 0.2).otherwise(x.cast("double")),
    )
    jittered = emb.filter(F.col("vec_id") % 10 == 5).select(
        (F.col("vec_id") + NEAR_OFFSET).alias("vec_id"), jitter.alias("vec")
    )
    return base.unionByName(copies).unionByName(jittered)


AUG_EMB_SQL = f"""
corpus AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS vec FROM embeddings
  UNION ALL
  SELECT vec_id + {COPY_OFFSET} AS vec_id, [CAST(x AS DOUBLE) for x in embedding] AS vec
  FROM embeddings WHERE vec_id % 10 = 0
  UNION ALL
  SELECT vec_id + {NEAR_OFFSET} AS vec_id,
         [CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.2
               ELSE CAST(embedding[i] AS DOUBLE) END for i in generate_series(1, 64)] AS vec
  FROM embeddings WHERE vec_id % 10 = 5
)
"""


def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup pairs at cosine >= 0.95 over the augmented
    corpus — sign-band LSH blocked plan (8 bands × 8 sign bits, equi-join
    on (band_no, band_val): no cross join anywhere in the plan).

    The oracle replays the SAME banded-blocking semantics in SQL (band
    construction, distinct candidate pairs, exact cosine verify), so the
    green certifies the operator exactly at any corpus.  Blocking recall
    vs all-pairs is a measured property, not an assumed one: it is 1.0
    on copy/jitter duplicate constructions (every true pair shares ≥7
    full bands) and graded explicitly by ``dedup_recall_eval``; the r8
    planted-neighbor sf1.0 corpus showed organic cos≈0.95 pairs CAN
    miss every band (137 of 176,742 pairs), which is the documented
    LSH trade — an all-pairs "oracle" would mislabel that recall gap
    as a correctness bug.  tests/test_plans.py asserts the no-cartesian
    plan; the all-pairs operator stays available as the recall
    baseline."""
    from tlcn_oer_lakehouse_spark.operators.dedup import (
        embedding_near_duplicates_blocked,
    )

    corpus = _augmented_embeddings(spark, sf)
    return embedding_near_duplicates_blocked(
        corpus, "vec_id", "vec", threshold=0.95, nbits=64, bands=8
    ).select("id_a", "id_b", F.round(F.col("cos_sim"), 9).alias("cos_sim"))


DEDUP_EMB_SQL = f"""
WITH {AUG_EMB_SQL.strip().replace("corpus AS (", "corpus AS MATERIALIZED (", 1)},
banded AS MATERIALIZED (
  SELECT vec_id AS bid, band_no,
         CAST(list_sum(list_transform(generate_series(1, 8),
           j -> CASE WHEN vec[band_no * 8 + j] >= 0
                     THEN CAST(1 AS BIGINT) << (j - 1) ELSE 0 END)) AS BIGINT)
           AS band_val
  FROM corpus, generate_series(0, 7) t(band_no)
),
cand AS (
  SELECT DISTINCT a.bid AS id_a, b.bid AS id_b
  FROM banded a JOIN banded b
    ON a.band_no = b.band_no AND a.band_val = b.band_val AND a.bid < b.bid
)
SELECT c.id_a, c.id_b,
       round({_cos_sql('va.vec', 'vb.vec')}, 9) AS cos_sim
FROM cand c
JOIN corpus va ON va.vec_id = c.id_a
JOIN corpus vb ON vb.vec_id = c.id_b
WHERE {_cos_sql('va.vec', 'vb.vec')} >= 0.95
"""


def ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN: 8 centroids (vec_id 100-107), assign every vector to its
    argmax-cosine centroid, probe the query's top-2 clusters, exact
    cosine inside them.  The cluster id is the scale-path partition key."""
    from tlcn_oer_lakehouse_spark.operators.similarity import ivf_topk

    emb = load(spark, sf, "embeddings")
    centroids = emb.filter(F.col("vec_id").between(100, 107)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    corpus = emb.filter(F.col("vec_id") != 0)
    return ivf_topk(
        corpus, "vec_id", "embedding", centroids, _query_embedding(emb), k=10, n_probe=2
    )


def _ivf_sql_core(n_probe: int = 2) -> str:
    """Shared DuckDB CTE chain for IVF — centroids, query vector,
    argmax-cosine assignment, and the ``n_probe`` cluster probe.  ONE
    copy for this module's ``ANN_IVF_SQL`` and the serve-path oracle
    (``queries/serve.py:_rag_serve_ann_sql``), mirroring the
    ``_bm25_sql_core``/``_fused_sql_core`` dedup convention: a
    tie-break or rounding fix lands in both oracles or neither."""
    return f"""centroids AS (
  SELECT vec_id AS centroid_id, embedding AS centroid_vec
  FROM embeddings WHERE vec_id BETWEEN 100 AND 107
),
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
assigned AS (
  SELECT vec_id, embedding, centroid_id AS cluster_id
  FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({_cos_sql('e.embedding', 'c.centroid_vec')}, 9) DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN centroids c
    WHERE e.vec_id != 0
  ) WHERE rn = 1
),
probe AS (
  SELECT centroid_id AS cluster_id
  FROM centroids, q
  ORDER BY round({_cos_sql('centroid_vec', 'q_emb')}, 9) DESC, centroid_id ASC
  LIMIT {n_probe}
)"""


ANN_IVF_SQL = f"""
WITH {_ivf_sql_core(2)}
SELECT a.vec_id, a.cluster_id,
       round({_cos_sql('a.embedding', 'q_emb')}, 9) AS cos_sim
FROM assigned a JOIN probe p ON a.cluster_id = p.cluster_id, q
ORDER BY cos_sim DESC, a.vec_id ASC
LIMIT 10
"""


def ann_kmeans_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Trained-IVF upgrade: k-means (k=4, 2 deterministic Lloyd
    iterations, lowest-id init) over the embeddings table, emitting the
    final cluster assignment — the partition key a trained IVF layout
    clusters the table by.  Fully deterministic (decimal-exact centroid
    means, round-9 distances, id tie-breaks), so the ENTIRE iterative
    run is replayed by the DuckDB oracle."""
    from tlcn_oer_lakehouse_spark.operators.clustering import kmeans_fit_assign

    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    return kmeans_fit_assign(emb, "vec_id", "embedding", k=4, n_iter=2).orderBy(
        "vec_id"
    )


def _kmeans_sql_parts(
    vecs_cte: str,
    cent0_cte: str,
    n_iter: int = 2,
    dim: int = 64,
    train_name: str = "vecs",
) -> tuple[list[str], str]:
    """Shared DuckDB CTE chain replaying operators/clustering.py's
    deterministic Lloyd run — parameterized over the ``vecs``/``cent0``
    source CTEs so ``ann_kmeans_assign``'s oracle (raw embeddings table)
    and the SemDeDup oracle (augmented corpus) share ONE copy of the
    assignment/update SQL, mirroring the ``_ivf_sql_core`` convention:
    a tie-break or rounding fix lands in both oracles or neither.
    The cluster COUNT lives entirely in the caller's ``cent0`` CTE (a
    literal for ann_kmeans_assign, the isqrt(n) scalar subquery for the
    semdedup/ssl oracles) — this helper deliberately takes no ``k``
    (ADVICE r8: a pass-through literal 4 here misled readers into
    concluding those oracles run k=4).  ``train_name`` points the Lloyd
    iterations at a training-sample CTE (the sampled-training quantizer
    path); the default replays over the full ``vecs``.  Returns (CTE
    parts ending at ``cent{n_iter}``, the squared-L2 expression used
    for assignment)."""
    sq = (
        "round(list_sum(list_transform(generate_series(1, {d}), "
        "j -> (e.v[j] - c.centroid_vec[j]) * (e.v[j] - c.centroid_vec[j]))), 9)"
    ).format(d=dim)
    parts = [vecs_cte, cent0_cte]
    for i in range(n_iter):
        parts.append(
            f"assign{i} AS (SELECT vec_id, v, centroid_id AS cluster_id FROM ("
            f"SELECT e.vec_id, e.v, c.centroid_id, "
            f"row_number() OVER (PARTITION BY e.vec_id ORDER BY {sq} ASC, c.centroid_id ASC) AS rn "
            f"FROM {train_name} e CROSS JOIN cent{i} c) WHERE rn = 1)"
        )
        parts.append(
            f"dims{i} AS (SELECT cluster_id, j, "
            f"round(CAST(CAST(SUM(CAST(v[j] AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) / COUNT(*), 12) AS m "
            f"FROM assign{i}, generate_series(1, {dim}) t(j) GROUP BY cluster_id, j)"
        )
        parts.append(
            f"cent{i + 1} AS (SELECT cluster_id AS centroid_id, "
            f"array_agg(m ORDER BY j) AS centroid_vec FROM dims{i} GROUP BY cluster_id)"
        )
    return parts, sq


def _kmeans_oracle(k: int = 4, n_iter: int = 2, dim: int = 64) -> str:
    parts, sq = _kmeans_sql_parts(
        "vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        f"cent0 AS (SELECT vec_id AS centroid_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid_vec FROM embeddings WHERE vec_id < {k})",
        n_iter, dim,
    )
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT vec_id, cluster_id, dist FROM (
  SELECT e.vec_id, c.centroid_id AS cluster_id, {sq} AS dist,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY {sq} ASC, c.centroid_id ASC) AS rn
  FROM vecs e CROSS JOIN cent{n_iter} c
)
WHERE rn = 1
ORDER BY vec_id
"""
    )


def dedup_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    k-means-cluster the embedding corpus, search for duplicates ONLY
    within each cluster (cosine >= 0.95), and from every duplicate pair
    keep the document FARTHER from its cluster centroid — the paper's
    keep-low-centroid-similarity rule, which retains "edge" examples
    for diversity.  Runs on the same augmented corpus as
    ``dedup_embedding_cosine`` (planted exact copies + jitters), so the
    two methods are directly comparable.

    Scale shape (the method's whole point): candidate generation is an
    EQUI-join on cluster_id — pair work is Σ(cluster²), never corpus².
    k follows the BALANCED schedule k = ⌊√n⌋ (FAISS's cell-count
    guidance): assignment costs N·k and the within-cluster pair scan
    costs ~N²/k, so k ∝ √N makes BOTH O(N^1.5) — a fixed cluster size
    (k ∝ N) would push assignment to O(N²), a fixed k would push the
    pair scan there.  k is sized from the parquet FOOTER row count (a
    driver-side metadata read, the Bloom mbits trick — plan
    construction stays lazy) on the Spark side and by the matching
    ``FLOOR(SQRT(COUNT(*)))`` scalar subquery in the oracle, so parity
    holds at every sf (k=22 at sf0.01, 141 at sf1.0).  Clustering is
    the deterministic Lloyd run shared with ``ann_kmeans_assign``
    (broadcast centroids, decimal-exact updates), so the oracle replays
    training, assignment, pairing AND the prune rule.  In production
    the assignment is the stored IVF partition layout — SemDeDup rides
    the same table ANN serving probes.

    Prune rule, made deterministic: x is dropped iff some same-cluster
    y has round-9 cosine >= 0.95 and (dist_y > dist_x, tie -> lower
    id), where dist is the round-9 squared-L2 to the centroid.  On
    clique-shaped duplicate groups (this corpus by construction) the
    pairwise rule equals the paper's group rule.

    Ref: scale op beyond the reference — SURVEY §2.10 dedup family."""
    from tlcn_oer_lakehouse_spark.operators.clustering import (
        kmeans_assign_once,
        kmeans_fit,
    )
    from tlcn_oer_lakehouse_spark.queries.base import parquet_num_rows

    corpus = _augmented_embeddings(spark, sf)
    k = max(4, math.isqrt(parquet_num_rows(sf, "embeddings", required=True)))
    # Train the quantizer on a bounded deterministic SAMPLE (every 4th
    # id + the id-init seeds), then assign the full corpus once — the
    # production IVF recipe (FAISS trains on ~O(256·k) vectors): Lloyd
    # training stops scaling with the corpus while assignment stays one
    # map-side scan.  Engine-neutral rule (plain modulo) so the oracle
    # replays the identical sample.
    train = corpus.filter((F.col("vec_id") < k) | (F.col("vec_id") % 4 == 0))
    cents = kmeans_fit(train, "vec_id", "vec", k=k, n_iter=2)
    work = corpus.select(
        "vec_id",
        F.transform(F.col("vec"), lambda x: x.cast("double")).alias("__v"),
    )
    # NOTE: persisted because it is referenced THREE times below (both
    # pair-scan sides + the final anti-join) — without it each reference
    # replays the full N×k assignment pass (measured 3× the runtime at
    # sf1.0).  In production this frame IS the stored IVF-layout table.
    # The trained centroids are a local relation, so a rebuild plans
    # the same frame and reuses its cache entry (ADVICE r8: one live
    # cached frame per query); sweeping callers clearCache() per query.
    assigned = kmeans_assign_once(work, cents, "vec_id", "__v").persist()

    # Hoist each vector's norm OUT of the pair scan: cosine(a,b) is
    # dot/(|a|·|b|), and computing |·| once per row (2N folds) instead
    # of twice per pair (2·Σcluster² folds) is float-IDENTICAL — same
    # ops, same order — so the oracle's inline-norm _cos_sql still
    # hashes equal while the pair scan does one dot fold per pair.
    a = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("__v").alias("va"),
        "cluster_id", F.col("dist").alias("dist_a"),
        l2_norm(F.col("__v")).alias("na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("__v").alias("vb"),
        "cluster_id", F.col("dist").alias("dist_b"),
        l2_norm(F.col("__v")).alias("nb"),
    )
    dup_pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 9
            )
            >= 0.95
        )
    )
    pruned = dup_pairs.filter(
        (F.col("dist_b") > F.col("dist_a"))
        | ((F.col("dist_b") == F.col("dist_a")) & (F.col("id_b") < F.col("id_a")))
    ).select(F.col("id_a").alias("vec_id")).distinct()

    return (
        assigned.join(pruned, "vec_id", "left_anti")
        .select("vec_id", "cluster_id", "dist")
        .orderBy("vec_id")
    )


def _semdedup_oracle(n_iter: int = 2, dim: int = 64) -> str:
    """Full SQL replay of dedup_semdedup: augmented corpus -> Lloyd
    chain (shared ``_kmeans_sql_parts``) -> final assignment -> within-
    cluster pair scan -> keep-farthest prune.  k mirrors the builder's
    footer-sized ``max(4, isqrt(n_rows))`` balanced schedule via a
    scalar subquery on the base table (FLOOR(SQRT(n)) == isqrt(n) for
    corpus-sized n: double sqrt is correctly rounded below 2^52).
    Multi-referenced CTEs are MATERIALIZED (the r8 minhash-family
    lesson: DuckDB re-inlines each reference otherwise — the Lloyd
    chain would replay per self-join side)."""
    k_sql = (
        "(SELECT GREATEST(4, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))"
        " FROM embeddings)"
    )
    parts, sq = _kmeans_sql_parts(
        "vecs AS MATERIALIZED (SELECT vec_id, vec AS v FROM corpus),\n"
        f"tvecs AS MATERIALIZED (SELECT vec_id, v FROM vecs WHERE vec_id < {k_sql} OR vec_id % 4 = 0)",
        f"cent0 AS (SELECT vec_id AS centroid_id, v AS centroid_vec FROM vecs WHERE vec_id < {k_sql})",
        n_iter, dim, train_name="tvecs",
    )
    cos = _cos_sql("a.v", "b.v")
    corpus = AUG_EMB_SQL.strip().replace("corpus AS (", "corpus AS MATERIALIZED (", 1)
    chain = ",\n".join([corpus, *parts])
    return f"""
WITH {chain},
final AS MATERIALIZED (
  SELECT vec_id, v, cluster_id, dist FROM (
    SELECT e.vec_id, e.v, c.centroid_id AS cluster_id, {sq} AS dist,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {sq} ASC, c.centroid_id ASC) AS rn
    FROM vecs e CROSS JOIN cent{n_iter} c
  ) WHERE rn = 1
),
pruned AS (
  SELECT DISTINCT a.vec_id
  FROM final a JOIN final b ON a.cluster_id = b.cluster_id AND a.vec_id != b.vec_id
  WHERE round({cos}, 9) >= 0.95
    AND (b.dist > a.dist OR (b.dist = a.dist AND b.vec_id < a.vec_id))
)
SELECT f.vec_id, f.cluster_id, f.dist
FROM final f LEFT JOIN pruned p ON f.vec_id = p.vec_id
WHERE p.vec_id IS NULL
ORDER BY f.vec_id
"""


def td_ssl_prototypes(spark: SparkSession, sf: str) -> DataFrame:
    """SSL-prototype data pruning (Sorscher et al. 2022, "Beyond neural
    scaling laws", arXiv:2206.14486): k-means the embedding corpus,
    score every example by its distance to the assigned centroid
    (prototypicality — low distance = easy/redundant), and keep the
    HARDEST 30% of each cluster (highest distance; the paper's
    keep-hard rule for large datasets).  The per-cluster quota
    ``ceil(0.3 * cluster_size)`` keeps the output proportional across
    clusters rather than globally biased toward one diffuse cluster.

    Scale shape: clustering is the shared deterministic Lloyd run
    (broadcast centroids, decimal-exact updates; k footer-sized on the
    balanced ``max(4, isqrt(n))`` schedule exactly as
    ``dedup_semdedup`` — assignment is N·k, so k ∝ √N keeps it
    O(N^1.5) where a fixed cluster size would make it O(N²)).  The
    only post-assignment work is ONE window partitioned by
    cluster_id — partitions are ~√N rows by construction (707 at 500k
    vectors), so this is the bounded-partition window class, not the
    hot-key class the r7 sf10 probe killed.  Determinism: round-9
    distances, id tie-breaks, and an exact-integer quota.

    Ref: scale op beyond the reference — LLM-pipeline data pruning."""
    from tlcn_oer_lakehouse_spark.operators.clustering import (
        kmeans_assign_once,
        kmeans_fit,
    )
    from tlcn_oer_lakehouse_spark.queries.base import parquet_num_rows

    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    k = max(4, math.isqrt(parquet_num_rows(sf, "embeddings", required=True)))
    # sampled-training quantizer, full-corpus assignment — see
    # dedup_semdedup's note; identical engine-neutral sample rule
    train = emb.filter((F.col("vec_id") < k) | (F.col("vec_id") % 4 == 0))
    cents = kmeans_fit(train, "vec_id", "embedding", k=k, n_iter=2)
    work = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("__v"),
    )
    assigned = kmeans_assign_once(work, cents, "vec_id", "__v")

    w = Window.partitionBy("cluster_id").orderBy(
        F.col("dist").desc(), F.col("vec_id").asc()
    )
    wc = Window.partitionBy("cluster_id")
    ranked = assigned.select(
        "vec_id", "cluster_id", "dist",
        F.row_number().over(w).alias("hard_rank"),
        F.count(F.lit(1)).over(wc).alias("__n"),
    )
    return (
        ranked.filter(F.col("hard_rank") <= F.ceil(F.col("__n") * 0.3))
        .select("vec_id", "cluster_id", "dist", "hard_rank")
        .orderBy("vec_id")
    )


def _ssl_prototypes_oracle(n_iter: int = 2, dim: int = 64) -> str:
    """SQL replay of td_ssl_prototypes: shared Lloyd chain over the raw
    embeddings -> final assignment -> per-cluster hardness rank ->
    ceil(0.3·n) quota.  k mirrors the builder's balanced
    ``max(4, isqrt(n))`` (see ``_semdedup_oracle``)."""
    k_sql = (
        "(SELECT GREATEST(4, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))"
        " FROM embeddings)"
    )
    parts, sq = _kmeans_sql_parts(
        "vecs AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),\n"
        f"tvecs AS MATERIALIZED (SELECT vec_id, v FROM vecs WHERE vec_id < {k_sql} OR vec_id % 4 = 0)",
        f"cent0 AS (SELECT vec_id AS centroid_id, v AS centroid_vec FROM vecs WHERE vec_id < {k_sql})",
        n_iter, dim, train_name="tvecs",
    )
    chain = ",\n".join(parts)
    return f"""
WITH {chain},
final AS MATERIALIZED (
  SELECT vec_id, cluster_id, dist FROM (
    SELECT e.vec_id, c.centroid_id AS cluster_id, {sq} AS dist,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {sq} ASC, c.centroid_id ASC) AS rn
    FROM vecs e CROSS JOIN cent{n_iter} c
  ) WHERE rn = 1
),
ranked AS (
  SELECT vec_id, cluster_id, dist,
         row_number() OVER (
           PARTITION BY cluster_id ORDER BY dist DESC, vec_id ASC) AS hard_rank,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n
  FROM final
)
SELECT vec_id, cluster_id, dist, CAST(hard_rank AS INT) AS hard_rank
FROM ranked
WHERE hard_rank <= CEIL(n * 0.3)
ORDER BY vec_id
"""


def ann_pq_adc(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ADC top-10 (operators/clustering.py:pq_adc_topk):
    codebooks trained on the full table (deterministic Lloyd per 16-dim
    subspace), corpus = every vector but the query (vec_id 0), estimate =
    fixed-order sum of the query's distances to assigned sub-centroids.
    The oracle replays training, encoding AND the ADC arithmetic."""
    from tlcn_oer_lakehouse_spark.operators.clustering import pq_adc_topk

    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") != 0)
    query = _query_embedding(emb).withColumnRenamed("q_emb", "embedding")
    return pq_adc_topk(
        corpus, query, "vec_id", "embedding",
        train=emb, m=8, sub_dim=8, k=16, n_iter=1, topk=10,
    )


def _pq_oracle(m: int = 8, sub: int = 8, k: int = 16, n_iter: int = 1) -> str:
    def sq(d: int) -> str:
        return (
            f"round(list_sum(list_transform(generate_series(1, {d}), "
            "j -> (e.v[j] - c.centroid_vec[j]) * (e.v[j] - c.centroid_vec[j]))), 9)"
        )

    parts = [
        "vecsF AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
    ]
    for i in range(m):
        a, b = i * sub + 1, (i + 1) * sub
        parts.append(
            f"vecs_{i} AS (SELECT vec_id, "
            f"list_transform(embedding[{a}:{b}], x -> CAST(x AS DOUBLE)) AS v "
            "FROM embeddings)"
        )
        parts.append(
            f"cent0_{i} AS (SELECT vec_id AS centroid_id, v AS centroid_vec "
            f"FROM vecs_{i} WHERE vec_id < {k})"
        )
        for it in range(n_iter):
            parts.append(
                f"assign{it}_{i} AS (SELECT vec_id, v, centroid_id AS cluster_id FROM ("
                f"SELECT e.vec_id, e.v, c.centroid_id, "
                f"row_number() OVER (PARTITION BY e.vec_id ORDER BY {sq(sub)} ASC, c.centroid_id ASC) AS rn "
                f"FROM vecs_{i} e CROSS JOIN cent{it}_{i} c) WHERE rn = 1)"
            )
            parts.append(
                f"dims{it}_{i} AS (SELECT cluster_id, j, "
                f"round(CAST(CAST(SUM(CAST(v[j] AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) / COUNT(*), 12) AS mn "
                f"FROM assign{it}_{i}, generate_series(1, {sub}) t(j) GROUP BY cluster_id, j)"
            )
            parts.append(
                f"cent{it + 1}_{i} AS (SELECT cluster_id AS centroid_id, "
                f"array_agg(mn ORDER BY j) AS centroid_vec FROM dims{it}_{i} GROUP BY cluster_id)"
            )
        parts.append(
            f"codes_{i} AS (SELECT vec_id, centroid_id AS cluster_id FROM ("
            f"SELECT e.vec_id, c.centroid_id, "
            f"row_number() OVER (PARTITION BY e.vec_id ORDER BY {sq(sub)} ASC, c.centroid_id ASC) AS rn "
            f"FROM vecs_{i} e CROSS JOIN cent{n_iter}_{i} c WHERE e.vec_id != 0) WHERE rn = 1)"
        )
        parts.append(
            f"dtab_{i} AS (SELECT c.centroid_id AS cluster_id, {sq(sub)} AS d{i} "
            f"FROM cent{n_iter}_{i} c CROSS JOIN (SELECT v FROM vecs_{i} WHERE vec_id = 0) e)"
        )
        parts.append(
            f"contrib_{i} AS (SELECT vec_id, d{i} FROM codes_{i} JOIN dtab_{i} USING (cluster_id))"
        )
    joins = " ".join(f"JOIN contrib_{i} USING (vec_id)" for i in range(1, m))
    total = " + ".join(f"d{i}" for i in range(m))
    return (
        "WITH " + ",\n".join(parts) + f""",
est AS (
  SELECT vec_id, round({total}, 9) AS est_dist
  FROM contrib_0 {joins}
),
tru AS (
  SELECT e.vec_id, {sq(64).replace('c.centroid_vec', 'q.v')} AS true_dist
  FROM vecsF e CROSS JOIN (SELECT v FROM vecsF WHERE vec_id = 0) q
  WHERE e.vec_id != 0
)
SELECT est.vec_id, est_dist, true_dist
FROM est JOIN tru ON est.vec_id = tru.vec_id
ORDER BY est_dist ASC, est.vec_id ASC
LIMIT 10
"""
    )


def ann_knn_join(spark: SparkSession, sf: str) -> DataFrame:
    """kNN *self-join*: every vector gets its top-3 neighbours by exact
    cosine among vectors sharing its 4-bit sign bucket — the all-pairs
    similarity-search shape behind embedding dedup and recommendation,
    blocked so it scales: the LSH bucket is the join key, so work is
    Σ(bucket²) instead of n², and at 100 TB the bucket count grows with
    the corpus (more sign bits) to keep buckets O(n/2^bits).  One
    equi-join + one per-vector window; ties break on (round(cos, 9)
    desc, neighbour id) so top-k membership is engine-stable."""
    from pyspark.sql import Window

    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    b = emb.withColumn("bucket", sign_bucket(F.col("embedding"), 4))
    lhs, rhs = b.alias("l"), b.alias("r")
    pairs = (
        lhs.join(
            rhs,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vec_id") != F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("vec_id"),
            F.col("r.vec_id").alias("nbr_id"),
            F.round(
                cosine(F.col("l.embedding"), F.col("r.embedding")), 9
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("nbr_id").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("vec_id", "nbr_id", "cos_sim", "rn")
        .orderBy("vec_id", "rn")
    )


KNN_JOIN_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, {BUCKET_EXPR.format(e='embedding')} AS bucket
  FROM embeddings
),
pairs AS (
  SELECT l.vec_id AS vec_id, r.vec_id AS nbr_id,
         round({_cos_sql('l.embedding', 'r.embedding')}, 9) AS cos_sim
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id != r.vec_id
),
ranked AS (
  SELECT vec_id, nbr_id, cos_sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, nbr_id ASC) AS rn
  FROM pairs
)
SELECT vec_id, nbr_id, cos_sim, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= 3 ORDER BY vec_id, rn
"""


def ann_recall_eval(spark: SparkSession, sf: str) -> DataFrame:
    """ANN quality evaluation as a query: recall@10 of the sign-bucket
    index against exact kNN, for a deterministic sample of query
    vectors (every 100th vec_id) — the eval loop every production ANN
    deployment runs after (re)building an index, here with both sides
    and the recall arithmetic replayed by the oracle.

    Plan: the query set is HARD-BOUNDED at 100 vectors (every 100th
    vec_id up to 9900) and broadcast, so the exact side is O(100·N) —
    linear, never the quadratic exact self-join the sampling exists to
    avoid — and the bound holds at any corpus size (an unbounded "every
    100th" sample would quietly turn the eval O(N²/100) at 100 TB).
    The ANN side joins only within sign buckets (the pruned path being
    graded).  ``n_bucket`` reports each query's candidate-pool size
    alongside its recall."""
    emb = load(spark, sf, "embeddings")
    from pyspark.sql import Window

    qs = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") <= 9900)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        sign_bucket(F.col("embedding"), 4).alias("q_bucket"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    exact_k = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 9).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("q_id", "vec_id")
    )
    ann_cand = (
        emb.withColumn("bucket", sign_bucket(F.col("embedding"), 4))
        .join(F.broadcast(qs), F.col("bucket") == F.col("q_bucket"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 9).alias("cos_sim"),
        )
        .withColumn("n_bucket", F.count(F.lit(1)).over(Window.partitionBy("q_id")))
        .withColumn("rn", F.row_number().over(w))
    )
    ann_k = ann_cand.filter(F.col("rn") <= 10).select("q_id", "vec_id")
    buckets = ann_cand.groupBy("q_id").agg(F.max("n_bucket").alias("n_bucket"))
    inter = (
        exact_k.join(ann_k, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        qs.select("q_id")
        .join(buckets, "q_id", "left")
        .join(inter, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_bucket", F.lit(0)).alias("n_bucket"),
            F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
            (F.coalesce("n_inter", F.lit(0)) / F.lit(10.0)).alias("recall_at_10"),
        )
        .orderBy("q_id")
    )


ANN_RECALL_SQL = f"""
WITH qs AS (
  SELECT vec_id AS q_id, embedding AS q_emb,
         {BUCKET_EXPR.format(e='embedding')} AS q_bucket
  FROM embeddings WHERE vec_id % 100 = 0 AND vec_id <= 9900
),
exact AS (
  SELECT q_id, vec_id,
         row_number() OVER (
           PARTITION BY q_id
           ORDER BY round({_cos_sql('embedding', 'q_emb')}, 9) DESC, vec_id ASC
         ) AS rn
  FROM embeddings, qs WHERE vec_id != q_id
),
ek AS (SELECT q_id, vec_id FROM exact WHERE rn <= 10),
annc AS (
  SELECT q_id, vec_id,
         COUNT(*) OVER (PARTITION BY q_id) AS n_bucket,
         row_number() OVER (
           PARTITION BY q_id
           ORDER BY round({_cos_sql('embedding', 'q_emb')}, 9) DESC, vec_id ASC
         ) AS rn
  FROM embeddings, qs
  WHERE vec_id != q_id AND {BUCKET_EXPR.format(e='embedding')} = q_bucket
),
ak AS (SELECT q_id, vec_id FROM annc WHERE rn <= 10),
bc AS (SELECT q_id, MAX(n_bucket) AS n_bucket FROM annc GROUP BY q_id),
inter AS (
  SELECT ek.q_id, COUNT(*) AS n_inter
  FROM ek JOIN ak ON ek.q_id = ak.q_id AND ek.vec_id = ak.vec_id
  GROUP BY ek.q_id
)
SELECT qs.q_id,
       COALESCE(bc.n_bucket, 0) AS n_bucket,
       COALESCE(inter.n_inter, 0) AS n_inter,
       COALESCE(inter.n_inter, 0) / 10.0 AS recall_at_10
FROM qs LEFT JOIN bc ON qs.q_id = bc.q_id
        LEFT JOIN inter ON qs.q_id = inter.q_id
ORDER BY qs.q_id
"""


_NDCG_AT = 10
_RANK_Q_MOD = 50  # query sampling stride
# HARD bound on the query-set id range: with the stride it caps the
# sample at <=500 queries (250 per planted-twin class) at ANY corpus
# size.  The original fraction-only rule (id % 50 ∈ {0,5}, no bound)
# was the exact anti-pattern ann_recall_eval documents: a fixed 4%
# sample makes the eval O(N²/25) — the round-9 sf10 probe (600k
# augmented vectors → 8k queries × 600k candidates ≈ 5e9 cosines)
# wedged for >10 minutes where the bounded form takes seconds.
_RANK_Q_BOUND = _RANK_Q_MOD * 250


def ml_ranking_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieval-quality eval as a query: MRR and binary NDCG@10 for
    exact-cosine retrieval over the augmented embedding corpus, against
    planted ground truth (every sampled query's relevant document is
    its planted twin: the exact copy at +COPY_OFFSET for id%10==0
    queries, the jittered copy at +NEAR_OFFSET for id%10==5 — so
    metrics span both
    the trivial cos=1 case and the genuinely-ranked cos≈0.98 case).

    Scale shape: the query set is a DETERMINISTIC, HARD-BOUNDED sample
    (id % 50 ∈ {0,5} AND id < 12500 → ≤500 queries at any corpus size)
    broadcast against one corpus scan, so the eval is O(|Q|·N) linear —
    at 100 TB you grade on a fixed panel of sampled queries, never a
    fixed fraction (a fraction-only rule is O(N²); see _RANK_Q_BOUND).
    The relevant-doc RANK is computed WITHOUT a per-query window: rank
    = 1 + count(strictly-better candidates), a combinable aggregate —
    the r7 sf10 lesson (hot-key window sorts wedge; count/argmin
    aggregates don't).  NDCG discounts are literal constants shared
    with the oracle text, so no transcendental log is evaluated by
    either engine.

    Ref: scale op beyond the reference — LLM-pipeline retrieval eval
    (the metrics layer over Q2/ann_*; complements ann_recall_eval's
    index-recall grading with ranking-quality grading)."""
    import math

    corpus = _augmented_embeddings(spark, sf)
    qs = corpus.filter(
        (F.col("vec_id") < COPY_OFFSET)
        & (F.col("vec_id") < _RANK_Q_BOUND)
        & (F.col("vec_id") % _RANK_Q_MOD).isin(0, 5)
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("vec").alias("qvec"),
        F.when(F.col("vec_id") % 10 == 0, F.col("vec_id") + COPY_OFFSET)
        .otherwise(F.col("vec_id") + NEAR_OFFSET)
        .alias("rel_id"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "rel_id",
            F.col("vec_id").alias("cand_id"),
            F.round(cosine(F.col("vec"), F.col("qvec")), 9).alias("cos"),
        )
    )
    rel = scored.filter(F.col("cand_id") == F.col("rel_id")).select(
        "qid", F.col("cos").alias("rel_cos")
    )
    better = (
        scored.join(F.broadcast(rel), "qid")
        .filter(
            (F.col("cos") > F.col("rel_cos"))
            | ((F.col("cos") == F.col("rel_cos")) & (F.col("cand_id") < F.col("rel_id")))
        )
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_better"))
    )
    ranked = (
        qs.select("qid", "rel_id")
        .join(better, "qid", "left")
        .select(
            "qid",
            "rel_id",
            (F.coalesce(F.col("n_better"), F.lit(0)) + 1).alias("rel_rank"),
        )
    )
    ndcg = F.lit(0.0)
    for r in range(_NDCG_AT, 0, -1):
        ndcg = F.when(
            F.col("rel_rank") == r, F.lit(1.0 / math.log2(r + 1))
        ).otherwise(ndcg)
    return ranked.select(
        "qid",
        "rel_id",
        "rel_rank",
        (F.col("rel_rank") <= _NDCG_AT).alias("hit_at_10"),
        F.round(F.lit(1.0).cast("double") / F.col("rel_rank"), 9).alias("mrr"),
        ndcg.alias("ndcg_at_10"),
    ).orderBy("qid")


def _ranking_metrics_oracle() -> str:
    import math

    # the 'e0' exponent forces DuckDB to parse each discount as a
    # DOUBLE literal (correctly-rounded string->double, same double as
    # Python's repr) — a bare 17-digit literal goes through
    # DECIMAL(17,17) first, whose decimal->double conversion landed one
    # ulp off Spark's constant at rank 5 (caught by the r9 sf1.0 probe)
    ndcg_case = " ".join(
        f"WHEN {r} THEN {1.0 / math.log2(r + 1)!r}e0"
        for r in range(1, _NDCG_AT + 1)
    )
    cos = _cos_sql("c.vec", "q.qvec")
    return f"""
WITH {AUG_EMB_SQL.strip().replace("corpus AS (", "corpus AS MATERIALIZED (", 1)},
qs AS (
  SELECT vec_id AS qid, vec AS qvec,
         CASE WHEN vec_id % 10 = 0 THEN vec_id + {COPY_OFFSET}
              ELSE vec_id + {NEAR_OFFSET} END AS rel_id
  FROM corpus WHERE vec_id < {COPY_OFFSET} AND vec_id < {_RANK_Q_BOUND}
        AND vec_id % {_RANK_Q_MOD} IN (0, 5)
),
scored AS MATERIALIZED (
  SELECT q.qid, q.rel_id, c.vec_id AS cand_id, round({cos}, 9) AS cos
  FROM corpus c CROSS JOIN qs q WHERE c.vec_id != q.qid
),
rel AS (SELECT qid, cos AS rel_cos FROM scored WHERE cand_id = rel_id),
better AS (
  SELECT s.qid, COUNT(*) AS n_better
  FROM scored s JOIN rel r ON s.qid = r.qid
  WHERE s.cos > r.rel_cos OR (s.cos = r.rel_cos AND s.cand_id < s.rel_id)
  GROUP BY s.qid
),
ranked AS (
  SELECT q.qid, q.rel_id, CAST(COALESCE(b.n_better, 0) + 1 AS BIGINT) AS rel_rank
  FROM qs q LEFT JOIN better b USING (qid)
)
SELECT qid, rel_id, rel_rank,
       rel_rank <= {_NDCG_AT} AS hit_at_10,
       round(CAST(1 AS DOUBLE) / rel_rank, 9) AS mrr,
       CASE rel_rank {ndcg_case} ELSE 0.0e0 END AS ndcg_at_10
FROM ranked ORDER BY qid
"""


SPECS = [
    QuerySpec("ml_ranking_metrics", ml_ranking_metrics,
              _ranking_metrics_oracle(),
              ref="scale op: MRR/NDCG@10 retrieval-quality harness over "
                  "planted ground truth — sampled query set, windowless "
                  "count-aggregate ranks, literal NDCG discounts",
              doc="per-query MRR + binary NDCG@10 for exact-cosine "
                  "retrieval on the augmented embedding corpus",
              tags=("vector",)),
    QuerySpec("ann_recall_eval", ann_recall_eval, ANN_RECALL_SQL,
              ref="scale op: sampled recall@k eval of the sign-bucket "
                  "index vs exact kNN, both sides oracle-replayed",
              doc="ANN index quality harness as a query", tags=("vector",)),
    QuerySpec("ann_kmeans_assign", ann_kmeans_assign, _kmeans_oracle(),
              ref="scale op: trained IVF (deterministic Lloyd k-means, 2 iterations)",
              doc="k=4 k-means assignment; whole iterative run oracle-replayed",
              tags=("vector",)),

    QuerySpec("ann_knn_join", ann_knn_join, KNN_JOIN_SQL,
              ref="scale op: blocked kNN self-join (Q2 generalized to "
                  "all-pairs) — LSH-bucket equi-join bounds work at Σ(bucket²)",
              doc="top-3 neighbours per vector inside sign buckets",
              tags=("vector",)),
    QuerySpec("ann_ivf_topk", ann_ivf, ANN_IVF_SQL,
              ref="scale path for Q2: IVF inverted-file ANN (SURVEY §2.10)",
              doc="8-centroid IVF, n_probe=2, exact rescoring", tags=("vector",)),
    QuerySpec("ann_pq_adc", ann_pq_adc, _pq_oracle(),
              ref="scale op: product quantization + ADC (Jégou et al. 2011) — "
                  "m-byte codes, broadcast codebooks, no pairwise compare",
              doc="8×8d/k=16 PQ codebooks, ADC top-10 with true-distance column",
              tags=("vector",)),
    QuerySpec("knn_bruteforce", knn_bruteforce, KNN_SQL,
              ref="chatbot_api.py:227-242 (Q2 kNN) → SURVEY §2.10 rebuild mapping",
              doc="exact cosine top-10", tags=("vector", "bench")),
    QuerySpec("ann_sign_bucket", ann_sign_bucket, ANN_SQL,
              ref="scale path for Q2 (SURVEY §7.7: LSH at scale)",
              doc="sign-bucket pruned ANN top-10", tags=("vector",)),
    QuerySpec("dedup_embedding_cosine", dedup_embedding_cosine, DEDUP_EMB_SQL,
              ref="scale op: embedding near-dup (augmented corpus)",
              doc="cosine>=0.95 near-dup pairs", tags=("vector", "dedup")),
    QuerySpec("td_ssl_prototypes", td_ssl_prototypes, _ssl_prototypes_oracle(),
              ref="scale op: SSL-prototype data pruning (Sorscher et al. "
                  "2022) — keep the hardest 30% per k-means cluster; "
                  "bounded-partition window (~150 rows/cluster by k sizing)",
              doc="prototypicality scoring + per-cluster keep-hard quota",
              tags=("vector", "traindata")),
    QuerySpec("dedup_semdedup", dedup_semdedup, _semdedup_oracle(),
              ref="scale op: SemDeDup (Abbas et al. 2023) — cluster-then-"
                  "prune semantic dedup; pair work bounded at Σ(cluster²) "
                  "by the cluster_id equi-join, whole run oracle-replayed",
              doc="k-means cluster -> within-cluster cosine>=0.95 prune, "
                  "keep farthest-from-centroid", tags=("vector", "dedup")),
]
