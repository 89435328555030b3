"""Operator-semantics tests (beyond oracle parity): dedup recall
relationships, incremental merge idempotence, similarity ranking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.operators.dedup import (
    exact_duplicate_groups,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from tlcn_oer_lakehouse_spark.operators.incremental import (
    classify_changes,
    latest_wins,
    next_snapshot,
)
from tlcn_oer_lakehouse_spark.operators.similarity import bucketed_ann_topk, cosine_topk
from tlcn_oer_lakehouse_spark.queries.textops import COPY_OFFSET, NEAR_OFFSET, augmented_corpus


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return augmented_corpus(spark, sf_dir).cache()


def test_exact_dedup_finds_planted_copies(spark, corpus):
    groups = exact_duplicate_groups(corpus, "doc_id", "text").collect()
    # every planted copy (doc_id%10==0 → +COPY_OFFSET) forms a group of 2
    assert all(g.group_size == 2 for g in groups)
    assert all(g.member_ids[1] == g.member_ids[0] + COPY_OFFSET for g in groups)
    n_planted = corpus.filter(F.col("doc_id") % 10 == 0).filter(F.col("doc_id") < COPY_OFFSET).count()
    assert len(groups) == n_planted


def test_ngram_jaccard_scores_near_copies_high(spark, corpus):
    pairs = ngram_jaccard_pairs(corpus, "doc_id", "text", shingle_n=3, threshold=0.5)
    rows = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    # exact copies → jaccard 1.0
    exact = [(a, b) for (a, b), j in rows.items() if b == a + COPY_OFFSET]
    assert exact and all(rows[p] == 1.0 for p in exact)
    # near-copies (last 3 tokens dropped) → high but < 1
    near = [(a, b) for (a, b), j in rows.items() if b == a + NEAR_OFFSET]
    assert near and all(0.5 <= rows[p] < 1.0 for p in near)


def test_minhash_is_subset_of_exact_jaccard(spark, corpus):
    """LSH may miss candidates (recall < 1) but never invents pairs: every
    minhash-verified pair must appear in the exact shingle-join result."""
    mh = {(r.doc_a, r.doc_b) for r in
          minhash_near_duplicates(corpus, "doc_id", "text", threshold=0.5).collect()}
    exact = {(r.doc_a, r.doc_b) for r in
             ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.5).collect()}
    assert mh <= exact
    # identical docs collide in every band — LSH must find all exact copies
    copies = {p for p in exact if p[1] == p[0] + COPY_OFFSET}
    assert copies <= mh


def test_simhash_zero_distance_for_copies(spark, corpus):
    pairs = simhash_near_duplicates(corpus, "doc_id", "text", max_hamming=6)
    rows = {(r.doc_a, r.doc_b): r.hamming for r in pairs.collect()}
    copies = [(a, b) for (a, b) in rows if b == a + COPY_OFFSET]
    assert copies and all(rows[p] == 0 for p in copies)


def test_incremental_merge_idempotent(spark, sf_dir):
    """Running the incremental filter twice on identical input is a no-op
    (the reference's core guarantee, transformer.py:1519-1558)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    snap = orders.select(
        "o_orderkey",
        F.md5(F.concat_ws("||", "o_orderkey", "o_totalprice")).alias("record_fingerprint"),
        "o_totalprice",
    )
    # first run: everything is new
    first = classify_changes(snap.limit(0), snap, "o_orderkey")
    assert first.filter(F.col("_change_type") == "insert").count() == snap.count()
    assert first.count() == snap.count()
    # second run against the merged state: nothing changed or deleted
    merged = next_snapshot(first)
    second = classify_changes(merged, snap, "o_orderkey", current_keys=snap)
    assert second.filter(F.col("_change_type").isNotNull()).count() == 0
    assert next_snapshot(second).count() == snap.count()


def test_latest_wins_keeps_one_row_per_key(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = latest_wins(li, "l_orderkey", ["l_shipdate", "l_linenumber"])
    assert out.count() == li.select("l_orderkey").distinct().count()


def test_cosine_topk_and_ann_agree_on_bucket_hits(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head().embedding]
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = cosine_topk(corpus, "vec_id", "embedding", qvec, k=5).collect()
    assert len(exact) == 5
    assert all(exact[i].cos_sim >= exact[i + 1].cos_sim for i in range(4))
    # ANN results are a subset of the corpus scored identically: any vec
    # in both lists must carry the same score
    ann = bucketed_ann_topk(corpus, "vec_id", "embedding", qvec, k=5, nbits=4).collect()
    exact_scores = {r.vec_id: r.cos_sim for r in exact}
    for r in ann:
        if r.vec_id in exact_scores:
            assert r.cos_sim == exact_scores[r.vec_id]
