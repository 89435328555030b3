"""Retrieval-quality harness keyed to the reference's published targets
(BASELINE.md: Recall@10 0.91, hierarchical indexed-chunk reduction
70-80%, HIERARCHICAL_CHUNKING_DESIGN.md:1117-1239).

The synthetic corpus has no human relevance labels, so relevance is
CONSTRUCTED: the augmented dedup corpus contains exact copies
(doc_id+COPY_OFFSET) of every doc_id%10==0 document — a query drawn from
such a document has an unambiguous relevant set {source, copy}.  The
harness measures self-retrieval recall/precision over those queries,
the strongest label-free probe of the ranking machinery.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.queries.retrieval import bm25_score_frame
from tlcn_oer_lakehouse_spark.queries.textops import COPY_OFFSET


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    from tlcn_oer_lakehouse_spark.queries.textops import augmented_corpus

    return augmented_corpus(spark, sf_dir).persist()


def test_self_retrieval_recall_at_10_vector_path(spark, corpus):
    """Recall@10 probe on the dense path (the synthetic corpus has a
    31-word vocabulary shared by ~75% of documents, so NO lexical query
    can identify a document — identity lives in the full token sequence,
    which embeddings capture).  For duplicated documents, querying by
    the source's embedding must put the exact copy (cosine 1.0) in the
    top-10 of every query: mean recall@10 >= the reference's 0.91
    target, and the top hit is always relevant."""
    from tlcn_oer_lakehouse_spark.functions.vectors import cosine
    from tlcn_oer_lakehouse_spark.operators.embedding import embed_documents

    emb = embed_documents(corpus, "text", dim=16).select("doc_id", "embedding").persist()
    sample = [
        r.doc_id
        for r in corpus.filter(
            (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < COPY_OFFSET)
        ).select("doc_id").collect()
    ][:8]
    assert len(sample) >= 5

    recalls = []
    top1_hits = 0
    for doc_id in sample:
        q = emb.filter(F.col("doc_id") == doc_id).select(
            F.col("embedding").alias("q_emb")
        )
        relevant = {doc_id, doc_id + COPY_OFFSET}
        top10 = [
            r.doc_id
            for r in emb.crossJoin(F.broadcast(q))
            .select(
                "doc_id",
                F.round(cosine(F.col("embedding"), F.col("q_emb")), 9).alias("sim"),
            )
            .orderBy(F.col("sim").desc(), F.col("doc_id").asc())
            .limit(10)
            .collect()
        ]
        recalls.append(len(relevant & set(top10)) / len(relevant))
        top1_hits += top10[0] in relevant
    emb.unpersist()
    assert sum(recalls) / len(recalls) >= 0.91  # reference Recall@10 target
    assert top1_hits == len(sample)


def test_bm25_precision_on_discriminative_term(spark, corpus):
    """Lexical precision probe: 'dup' is the corpus's only rare term
    (df 25/500 vs ~375/500 for every other word).  Every BM25 top-10
    document for that query must actually contain it — precision@10
    1.0, above the reference's P@5 0.82 target."""
    top10 = (
        bm25_score_frame(corpus, ("doc_id",), "text", ("dup",))
        .orderBy(F.col("bm25_raw").desc(), F.col("doc_id").asc())
        .limit(10)
    )
    hits = (
        top10.join(corpus, "doc_id")
        .filter(F.col("text").contains("dup"))
        .count()
    )
    assert hits == 10


def test_hierarchical_indexed_chunk_reduction(spark):
    """BASELINE.md: hierarchical indexing targets 70-80% fewer indexed
    chunks than flat (tier 3 loads on demand).  On a book-sized document
    the tier-1+2 count must undercut flat windows by >=70%."""
    from tlcn_oer_lakehouse_spark.operators.chunking import (
        hierarchical_chunks,
        token_window_chunks,
    )

    text = " ".join(f"w{i}" for i in range(20_000))  # ~book chapter scale
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    n_flat = token_window_chunks(df, "doc_id", "text", window=50, stride=40).count()
    indexed = (
        hierarchical_chunks(
            df, "doc_id", "text", chapter_tokens=1000, section_tokens=100
        )
        .filter(F.col("chunk_tier") <= 2)
        .count()
    )
    reduction = 1 - indexed / n_flat
    assert reduction >= 0.70, f"indexed-chunk reduction {reduction:.0%}"


def test_rag_serve_ann_recall_vs_dense(spark):
    """Serve-level recall of the ANN-backed plan vs the dense plan (the
    ann_recall_eval pattern applied to the composed serve path): the
    packed top-10 of rag_serve_ann must overlap the dense rag_serve
    top-10 at >= 0.8 at sf0.1 (measured 0.9 when the candidate width
    ANN_CAND_K=100 was chosen).  Absolute serve_scores legitimately
    differ between the two plans — max-normalization runs over the
    retrieved set (ES convention), which is the candidate union under
    ANN — so MEMBERSHIP is what's asserted.  (The BM25 argmax is NOT
    guaranteed to appear: documents without an embedding row never
    enter the fused join, in either plan.)"""
    from tlcn_oer_lakehouse_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.1"
    dense = {
        r.doc_id: r.serve_score
        for r in REGISTRY["rag_serve_e2e"].builder(spark, sf).collect()
    }
    ann = {
        r.doc_id: r.serve_score
        for r in REGISTRY["rag_serve_ann"].builder(spark, sf).collect()
    }
    assert len(dense) == 10 and len(ann) == 10
    shared = set(dense) & set(ann)
    assert len(shared) / len(dense) >= 0.8, (sorted(dense), sorted(ann))


def test_ivf_recall_on_structured_embeddings(spark, tmp_path):
    """IVF recall measured on the planted-neighbor corpus (VERDICT r7
    #7): tools/gen_testdata.py embeddings now carry topic-correlated
    planted subgroups (a vector's exact top-k IS its ~12-member
    subgroup, nested inside one coarse topic), so recall@10 measures
    whether the INDEX reaches the planted neighbors — not the noise
    floor that capped the r7 vector-branch numbers on iid-noise
    vectors.  Sweep n_probe 1→3 over 10 query vectors with the
    production ``ivf_topk`` operator (8 sampled-vector centroids, the
    ann_ivf configuration): recall must be ≥0.9 at the n_probe=2
    operating point and monotone non-decreasing in n_probe.  Exact
    ground truth is computed engine-independently in numpy."""
    import numpy as np

    from tools.gen_testdata import gen
    from tlcn_oer_lakehouse_spark.operators.similarity import ivf_topk

    out = str(tmp_path / "corpus")
    gen(0.01, out)
    emb = spark.read.parquet(f"{out}/embeddings.parquet")
    pdf = emb.toPandas().sort_values("vec_id")
    vecs = np.stack(pdf["embedding"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    assert len(ids) == 200

    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    np.fill_diagonal(sims, -2.0)

    q_ids = list(range(0, 200, 20))  # 10 query vectors
    truth = {
        q: set(ids[np.argsort(-sims[q])[:10]].tolist()) for q in q_ids
    }

    centroids = emb.filter(F.col("vec_id").between(100, 107)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    def recall_at(cents, n_probe):
        recalls = []
        for q in q_ids:
            query = emb.filter(F.col("vec_id") == q).select(
                F.col("embedding").alias("q_emb")
            )
            got = {
                r.vec_id
                for r in ivf_topk(
                    emb.filter(F.col("vec_id") != q), "vec_id", "embedding",
                    cents, query, k=10, n_probe=n_probe,
                ).collect()
            }
            recalls.append(len(got & truth[q]) / 10.0)
        return sum(recalls) / len(recalls)

    sweep = {n: recall_at(centroids, n) for n in (1, 2, 3)}
    assert sweep[1] <= sweep[2] + 1e-9 and sweep[2] <= sweep[3] + 1e-9, sweep
    assert sweep[2] >= 0.9, sweep

    # quantizer quality: Lloyd-trained centroids (operators/clustering.py
    # kmeans_fit — "real IVF trains them") must close the sampled-centroid
    # deficit at the tightest probe width.  A sampled quantizer can leave
    # a topic with no nearby centroid, scattering its subgroup across
    # foreign clusters; training moves a centroid onto every mass of
    # vectors.  Measured on this corpus: sampled 0.76@n_probe=1 vs
    # trained 0.92 (both saturate to 1.0 at n_probe=2).
    from tlcn_oer_lakehouse_spark.operators.clustering import kmeans_fit

    trained = kmeans_fit(emb, "vec_id", "embedding", k=8, n_iter=2)
    trained_r1 = recall_at(trained, 1)
    assert trained_r1 >= 0.9, trained_r1
    assert trained_r1 >= sweep[1] - 1e-9, (trained_r1, sweep[1])
