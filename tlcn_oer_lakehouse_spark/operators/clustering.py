"""K-means clustering as iterative DataFrame algebra — the trained
upgrade of the IVF centroid path (operators/similarity.py uses fixed
vectors as centroids; real IVF trains them).  Lloyd's algorithm with
every source of nondeterminism removed, so whole runs are
oracle-replayable in SQL:

- init: the ``k`` lowest-id vectors (no random seeds);
- assignment: squared-L2 via a sequential zip_with fold (deterministic
  double arithmetic), round-9 + centroid-id tie-break;
- update: per-dimension means computed as DECIMAL(38,18) sums (exact,
  order-independent — double sums would drift with partition order)
  cast to double before the division.

Each iteration is one broadcast-assign plus one (cluster, dim)-keyed
aggregation — both scale-safe; the driver loop holds only the iteration
counter, never data.  At 100 TB the init swaps to k-means|| sampling
and the iteration count stays a constant — the per-iteration plan is
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sq_l2(a, b):
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def kmeans_assign_once(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """One assignment pass, fully MAP-SIDE: the k centroids collapse to
    ONE broadcast row holding an array of (centroid_id, centroid_vec)
    structs, and every vector argmins over that array inline —
    ``array_min`` over (dist, centroid_id) structs gives the same
    round-9-distance / centroid-id-tie-break ordering the former
    crossJoin + per-id row_number window produced, with ZERO exchange.
    The old formulation materialized and re-shuffled N×k scored rows
    per pass (r8 measured: the sf1.0 SemDeDup assignment replay was
    the dominant term); at 100 TB an assignment pass must be a scan,
    not an exchange.  array_min is order-independent, so collect_list's
    nondeterministic centroid order cannot affect the result."""
    cents_row = centroids.agg(
        F.collect_list(F.struct("centroid_id", "centroid_vec")).alias("__cents")
    )
    return (
        df.crossJoin(F.broadcast(cents_row))
        .withColumn(
            "__best",
            F.array_min(
                F.transform(
                    F.col("__cents"),
                    lambda c: F.struct(
                        F.round(
                            _sq_l2(F.col(vec_col), c.getField("centroid_vec")), 9
                        ).alias("dist"),
                        c.getField("centroid_id").alias("centroid_id"),
                    ),
                )
            ),
        )
        .select(
            id_col,
            vec_col,
            F.col("__best.centroid_id").alias("cluster_id"),
            F.col("__best.dist").alias("dist"),
        )
    )


def _recompute_centroids(assigned: DataFrame, vec_col: str) -> DataFrame:
    expl = assigned.select(
        "cluster_id", F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    # round the mean to 12 dp: the exact-decimal sum is order-independent
    # in both engines, but decimal->double conversion could differ in the
    # last ulp between implementations; 12 dp is far above double noise
    # and far below any distance-tie sensitivity
    dim_means = expl.groupBy("cluster_id", "pos").agg(
        F.round(
            F.sum(F.col("val").cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1)),
            12,
        ).alias("m")
    )
    return dim_means.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s.getField("m"),
        ).alias("centroid_vec")
    ).select(F.col("cluster_id").alias("centroid_id"), "centroid_vec")


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    n_iter: int = 2,
) -> DataFrame:
    """Run ``n_iter`` Lloyd iterations from the deterministic init and
    return the trained centroids (centroid_id, centroid_vec)."""
    centroids = df.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("centroid_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            "centroid_vec"
        ),
    )
    work = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    for _ in range(n_iter):
        assigned = kmeans_assign_once(work, centroids, id_col, "__v")
        centroids = _recompute_centroids(assigned, "__v")
    # materialize ONLY the returned k-row frame: consumers reference the
    # trained centroids several times (assign, PQ code + ADC distance
    # tables) and would otherwise replay the whole Lloyd chain per
    # reference (measured 57 Exchange nodes in ann_pq_adc's plan before,
    # 9 after).  An Arrow table becomes a local relation whose rows plan
    # equal on every rebuild, so a consumer's cached frame is reused; a
    # checkpoint, or createDataFrame over Python rows, embeds a fresh
    # RDD per build and caches again.  Intra-loop materialization is
    # deliberately NOT added — at n_iter<=2 its per-job launch overhead
    # costs more than the replay it saves
    rows = centroids.toArrow().sort_by("centroid_id")
    return df.sparkSession.createDataFrame(rows, centroids.schema)


def kmeans_fit_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    n_iter: int = 2,
) -> DataFrame:
    """Run ``n_iter`` Lloyd iterations from the deterministic init and
    return the final assignment (id, cluster_id, dist)."""
    centroids = kmeans_fit(df, id_col, vec_col, k, n_iter)
    work = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    final = kmeans_assign_once(work, centroids, id_col, "__v")
    return final.select(id_col, "cluster_id", "dist")


def pq_adc_topk(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    train: DataFrame | None = None,
    m: int = 4,
    sub_dim: int = 16,
    k: int = 4,
    n_iter: int = 1,
    topk: int = 10,
) -> DataFrame:
    """Product quantization with asymmetric-distance (ADC) top-k — the
    memory-compressed ANN path (Jégou et al. 2011): vectors are encoded
    as ``m`` sub-codes (one per ``sub_dim``-wide subspace, each from its
    own deterministically-trained k-means codebook); query-to-vector
    distance is approximated by summing the query's precomputed distance
    to each assigned sub-centroid.

    CONTRACT: ``query`` must be a SINGLE row (ADVICE r11).  The r11
    one-pass form packs ``collect_list`` over ``codebook × query`` into
    one broadcast struct array carrying the query's distance ``qd`` per
    sub-centroid; with multiple query rows that array would hold k×q
    structs with duplicate centroid_ids and differing qd, and the
    lexicographic argmin would fall through to the qd field, breaking
    the bit-identity with ``kmeans_assign_once`` (the old join form
    degraded differently, via join fan-out).  Batch multi-query ANN
    serving goes through ``rag_serve_ann``'s per-query loop instead.

    Scale shape: codebooks are m × k rows (broadcast); encoding is a
    broadcast-assign per subspace; the ADC estimate is a broadcast join
    of the m×k distance table against the code columns — the corpus is
    never compared pairwise and full vectors are needed only at encode
    time (a PQ-encoded 100 TB corpus stores m bytes per vector).

    Determinism: inherits the k-means contract (decimal-exact means,
    round-9 distances, id tie-breaks); the per-subspace contributions
    are summed in fixed subspace order before one final round-9, so the
    whole pipeline — training included — is SQL-replayable.

    Output: (id, est_dist, true_dist) for the ``topk`` nearest by
    estimated distance (ties → lower id), with the exact full-dimension
    distance alongside to expose the approximation error."""
    train = train if train is not None else corpus

    def _sub(df: DataFrame, i: int, out: str) -> DataFrame:
        return df.select(
            *df.columns,
            F.slice(F.col(vec_col), i * sub_dim + 1, sub_dim).alias(out),
        )

    # Codebook training is unchanged: m deterministic Lloyd runs, each
    # returning a materialized k-row centroid frame.
    cents = [
        kmeans_fit(
            _sub(train, i, "__sub").select(id_col, "__sub"),
            id_col, "__sub", k, n_iter,
        )
        for i in range(m)
    ]

    # ONE corpus pass (r11): every per-subspace argmin, its query-side
    # ADC contribution, and the exact full-dimension distance are all
    # map-side expressions over broadcast rows (the k-row codebooks
    # collapse to one array-struct row each; the single query row
    # broadcasts its m sub-vectors).  The former shape materialized one
    # corpus-sized contrib frame per subspace and chained them back
    # with m id-keyed joins plus one more for true_dist — m+1 corpus
    # shuffles and m+1 corpus scans for a result each row can compute
    # alone.  The query distance rides the argmin as a THIRD struct
    # field: struct comparison is lexicographic and centroid_id is
    # unique, so (dist, centroid_id) always decides before the new
    # field — the assignment is bit-identical to kmeans_assign_once.
    q_row = query.select(
        *[
            F.transform(
                F.slice(F.col(vec_col), i * sub_dim + 1, sub_dim),
                lambda x: x.cast("double"),
            ).alias(f"__q{i}")
            for i in range(m)
        ],
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qv"),
    )
    enc = corpus.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).crossJoin(F.broadcast(q_row.select("__qv")))
    for i, c in enumerate(cents):
        # the query's distance to each sub-centroid (the old per-subspace
        # dtab) is computed k times HERE, inside the broadcast row —
        # never per corpus row
        enc = enc.crossJoin(
            F.broadcast(
                c.crossJoin(F.broadcast(q_row.select(f"__q{i}"))).agg(
                    F.collect_list(
                        F.struct(
                            "centroid_id",
                            "centroid_vec",
                            F.round(
                                _sq_l2(F.col(f"__q{i}"), F.col("centroid_vec")), 9
                            ).alias("qd"),
                        )
                    ).alias(f"__cents{i}")
                )
            )
        )
    def _scorer(s):
        return lambda c: F.struct(
            F.round(_sq_l2(s, c.getField("centroid_vec")), 9).alias("dist"),
            c.getField("centroid_id").alias("centroid_id"),
            c.getField("qd").alias("qd"),
        )

    d_cols = []
    for i in range(m):
        sub = F.slice(F.col("__v"), i * sub_dim + 1, sub_dim)
        best = F.array_min(
            F.transform(F.col(f"__cents{i}"), _scorer(sub))
        )
        d_cols.append(best.getField("qd").alias(f"d{i}"))
    scored = enc.select(
        F.col(id_col),
        *d_cols,
        F.round(_sq_l2(F.col("__v"), F.col("__qv")), 9).alias("true_dist"),
    )
    # fixed-order sum (d0 + d1 + ...) — never a SUM over an unordered set,
    # so float addition order is identical in any engine
    total = F.lit(0.0)
    for i in range(m):
        total = total + F.col(f"d{i}")
    return (
        scored.select(
            F.col(id_col), F.round(total, 9).alias("est_dist"), "true_dist"
        )
        .orderBy(F.col("est_dist").asc(), F.col(id_col).asc())
        .limit(topk)
    )
