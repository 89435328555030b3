"""Physical-plan regression tests — assert that the optimizations the
100 TB design depends on are actually present in the plans Catalyst
produces (plans/audit.py).  A query that silently loses pushdown or
broadcast still returns correct rows at sf0.01; these tests are what
catch the 10×-at-scale regression."""

from __future__ import annotations

import re

import pytest

from tlcn_oer_lakehouse_spark.plans import audit
from tlcn_oer_lakehouse_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _build(spark, name):
    return REGISTRY[name].builder(spark, SF)


def test_q6_filters_push_to_scan(spark):
    """Q6 is the pushdown probe: all three predicates must reach the
    parquet reader, and the scan must read only the 4 needed columns."""
    df = _build(spark, "q6_forecast_revenue")
    pushed = " ".join(audit.pushed_filters(df))
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed
    assert set(audit.read_schema_columns(df)) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate",
    }
    # scan → project → agg: zero wide shuffles
    assert audit.exchange_count(df) == 0


def test_q1_column_pruning(spark):
    """Q1 reads 7 of lineitem's 11 columns — pruning must hold."""
    df = _build(spark, "q1_pricing_summary")
    cols = set(audit.read_schema_columns(df))
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert {"l_quantity", "l_extendedprice", "l_discount", "l_returnflag"} <= cols


@pytest.mark.parametrize(
    "name,min_bcast",
    [
        ("q5_local_supplier_volume", 4),   # cust/supp/nation/region all broadcast
        ("q8_market_share", 6),            # part/supp/cust/2×nation/region
        ("q14_promo_revenue", 1),          # part side
        ("q3_shipping_priority", 1),       # customer side
    ],
)
def test_dim_sides_broadcast(spark, name, min_bcast):
    df = _build(spark, name)
    assert audit.broadcast_join_count(df) >= min_bcast


def test_q8_shuffle_budget(spark):
    """The 7-table Q8 star join must shuffle only the two fact-sized
    inputs (lineitem⋈orders), not every join input."""
    df = _build(spark, "q8_market_share")
    assert audit.exchange_count(df) <= 3


def test_q13_outer_join_agg_shuffles(spark):
    """Q13: customer⟕orders + two aggs — bounded shuffle count (the
    second agg input is already tiny)."""
    df = _build(spark, "q13_customer_distribution")
    assert audit.exchange_count(df) <= 4


def test_bm25_single_wide_shuffle(spark):
    """BM25's only wide shuffle is the final top-k; corpus stats travel
    via 1-row broadcast, not a shuffle of the scored docs."""
    df = _build(spark, "q1_bm25_topk")
    assert audit.exchange_count(df) <= 1


def test_knn_bruteforce_no_wide_shuffle(spark):
    """Brute-force kNN is scan → per-row cosine → TakeOrdered: the plan
    must not repartition the embedding table."""
    df = _build(spark, "knn_bruteforce")
    assert audit.exchange_count(df) == 0


def test_codegen_fuses_hot_paths(spark):
    """The pricing-summary hot path must run inside WholeStageCodegen."""
    df = _build(spark, "q1_pricing_summary")
    assert audit.wholestage_codegen_count(df) >= 1


def test_incremental_filter_uses_single_join(spark):
    """P3 change detection: one left join keyed on the merge key — the
    null-safe predicate must not add extra shuffles."""
    df = _build(spark, "p3_nullsafe_incremental_filter")
    assert audit.exchange_count(df) <= 2


def test_q12_pushdown_and_single_fact_shuffle(spark):
    """Q12's date-range filter must reach the lineitem scan; the only
    wide work is the l_orderkey fact-fact join plus the tiny group-by."""
    df = _build(spark, "q12_ship_priority")
    pushed = " ".join(audit.pushed_filters(df))
    assert "l_shipdate" in pushed
    cols = set(audit.read_schema_columns(df))
    assert "l_extendedprice" not in cols  # projection pruned to the 3 used cols


def test_q21_supplier_broadcasts(spark):
    """Q21's three self-join legs all key on l_orderkey; the supplier dim
    must broadcast rather than join wide."""
    df = _build(spark, "q21_waiting_suppliers")
    assert audit.broadcast_join_count(df) >= 1


def test_dedup_embedding_cosine_no_cartesian(spark):
    """The registered embedding near-dup query must be the sign-band
    blocked plan: candidate generation is an equi-join on
    (band_no, band_val) — no cartesian/broadcast-nested-loop join may
    appear anywhere in the plan (VERDICT r01 'What's wrong' #4)."""
    df = _build(spark, "dedup_embedding_cosine")
    plan = audit.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_semdedup_pair_work_is_cluster_bounded(spark):
    """SemDeDup's whole scale claim is that duplicate-pair work is
    Σ(cluster²), not corpus²: the pair scan must be an EQUI-join keyed
    on cluster_id, and the only nested-loop joins in the plan are the
    O(k)-row broadcast centroid assigns.  No cartesian anywhere."""
    df = _build(spark, "dedup_semdedup")
    plan = audit.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin Inner" in plan or "ShuffledHashJoin Inner" in plan
            or "BroadcastHashJoin Inner" in plan)
    key_lines = [
        ln for ln in plan.splitlines()
        if ("Left keys" in ln or "Right keys" in ln) and "cluster_id" in ln
    ]
    assert key_lines, "no equi-join keyed on cluster_id in the plan"


def test_ks_drift_windows_are_partition_local(spark):
    """The KS CDF must come from the GROUPED two-phase prefix sum: every
    window in the plan is partitioned by (pid, type) — a window with no
    pid in its partition spec would be the per-type single-partition
    sort the design exists to avoid."""
    df = _build(spark, "ml_ks_drift")
    plan = audit.formatted_plan(df)
    win_specs = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln.lower()]
    assert win_specs, "expected the prefix-sum window"
    for ln in win_specs:
        assert "pid" in ln, ln


def test_snm_pairing_is_equi_join(spark):
    """Sorted-neighborhood candidates must come from the rank-bucket
    equi-join — never a rank-range nested loop."""
    df = _build(spark, "er_sorted_neighborhood")
    plan = audit.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    key_lines = [
        ln for ln in plan.splitlines()
        if ("Left keys" in ln or "Right keys" in ln) and "__bkt" in ln
    ]
    assert key_lines, "no equi-join keyed on the rank bucket"


def test_scd2_pit_join_is_keyed(spark):
    """The point-in-time join must be an equi-join on the business key
    (validity interval as residual) — a pure interval theta-join would
    be the range-explosion scale killer."""
    df = _build(spark, "j_scd2_point_in_time")
    plan = audit.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    key_lines = [
        ln for ln in plan.splitlines()
        if ("Left keys" in ln or "Right keys" in ln)
        and ("o_custkey" in ln or "c_custkey" in ln)
    ]
    assert key_lines, "no equi-join keyed on the business key"


def test_aqp_and_benford_are_single_scan_aggregates(spark):
    """Both observability aggregates must stay map-side-combine shapes:
    a bounded number of exchanges, no window, no join against anything
    data-sized (the 1-row totals ride broadcasts)."""
    for name, max_exchanges in (("a_aqp_estimate", 2), ("dq_benford_digits", 3)):
        df = _build(spark, name)
        plan = audit.formatted_plan(df)
        assert "Window" not in plan, name
        assert audit.exchange_count(df) <= max_exchanges, name


def test_layout_dpp_star_join_prunes_at_runtime(spark):
    """The registry DPP query's whole point: the fact scan must carry a
    dynamicpruningexpression PartitionFilter injected from the dim-side
    label predicate — static pruning can't see through the join."""
    df = _build(spark, "layout_dpp_star_join")
    plan = audit.formatted_plan(df)
    assert "dynamicpruning" in plan.lower(), plan
    assert audit.broadcast_join_count(df) >= 1


@pytest.mark.parametrize("name", [
    "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_prefix_filter", "dedup_prefix_incremental",
    "dedup_embedding_cosine",
    "td_contamination_check",
])
def test_dedup_family_never_all_pairs(spark, name):
    """Every near-dup / contamination pipeline must generate candidates
    via equi-joins (banding, shared-shingle, sign-band) — a cartesian or
    nested-loop join anywhere is the O(n²) scale-killer."""
    plan = audit.formatted_plan(_build(spark, name))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hard_negatives_reads_documents_through_the_bm25_frame(spark):
    """td_hard_negatives labels documents from the tf columns of the BM25
    core's persisted frame: it reads that frame exactly where
    q1_bm25_topk does (the stats aggregate and the scoring pass), opens
    documents nowhere else (each FileScan is the one under a cached
    relation) and joins nothing back."""
    plan = audit.simple_plan(_build(spark, "td_hard_negatives"))
    core = audit.simple_plan(_build(spark, "q1_bm25_topk"))
    assert plan.count("InMemoryTableScan") == core.count("InMemoryTableScan") == 2, plan
    assert plan.count("FileScan parquet") == plan.count("InMemoryRelation") == 2, plan
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" not in plan, plan


# Queries whose plans legitimately contain a BroadcastNestedLoopJoin:
# every one broadcasts an O(1)-row frame (corpus-level stats, a query
# vector, a scalar-subquery aggregate) or a tiny dimension against the
# corpus — the broadcast side cannot grow with data volume, so the
# "nested loop" is a constant-width map-side probe, not O(n²) work.
_BNLJ_ALLOWED = {
    "q1_bm25_topk",           # 1-row corpus stats (N, avgdl)
    "q3_hybrid_lang_weighted",  # 1-row max-score normalizers
    "q5_context_rerank",      # 1-row avg-score gate
    "q5_context_mmr",         # <=5-row selected-set broadcasts
    "knn_bruteforce",         # 1-row query vector
    "ann_ivf_topk",           # 1-row query + 8-row centroids
    "ann_kmeans_assign",      # k=4 broadcast centroid set (O(k) rows)
    "dedup_semdedup",         # same O(k)-row broadcast centroid assigns
    "td_ssl_prototypes",      # same O(k)-row broadcast centroid assigns
    "ann_pq_adc",             # k=16-row codebooks + 1-row query per subspace
    "a_hll_sketch",           # 1-row estimate × 1-row exact count
    "g_pagerank",             # 1-row node-count frame per iteration
    "td_unigram_surprisal",   # 1-row corpus-total broadcast
    "embed_and_rank",         # 1-row query embedding
    "semantic_match_subjects",  # 6-row subject dim
    "summarize_extractive",   # 1-row corpus doc count
    "td_vocab_coverage",      # 1-row total-token count
    "q11_important_parts",    # scalar subquery threshold
    "q22_idle_customers",     # scalar subquery avg balance
    "ml_ranking_metrics",     # sampled query set (id % 50 ∈ {0,5}) — the
                              # eval-harness scale lever; corpus × |Q|
                              # brute-force scoring is the harness design
    "td_curation_model_e2e",  # 1-row total-tokens broadcast for shares
    "td_dataset_overlap",     # O(s²) source-pair frame (s = #sources);
                              # all corpus-sized joins are equi (h, b)
    "td_bigram_surprisal",    # 1-row corpus-total broadcast
    "w11_rfm_segmentation",   # 1-row horizon-timestamp broadcast
    "ann_recall_eval",        # query sample hard-bounded at 100 rows
    "td_curriculum_order",    # inherits td_unigram_surprisal's 1-row total
    "td_ccnet_buckets",       # inherits the same 1-row corpus-total broadcast
    "q6_context_pack",        # inherits BM25's 1-row corpus-stats broadcast
    "td_hard_negatives",      # inherits BM25's 1-row corpus-stats broadcast
    "ml_quantile_bucketize",  # 1-row percentile-cutoffs broadcast
    "ml_naive_bayes_langid",  # C-row class totals × 1-row vocab size/doc total
    "ml_chi2_features",       # 1-row corpus doc count broadcast
    "w14_association_rules",  # 1-row basket-count broadcast (N for support)
    "a_kmv_distinct",         # 1-row k-th-hash/exact-count frames
    "a_kmv_set_ops",          # 1-row sketch × 1-row exact counters
    "td_unigram_segment",     # 1-row vocab-total broadcast (cost denominator)
    "g_modularity",           # 1-row edge-total (m) broadcast
    "ml_kaplan_meier",        # 1-row study-end/cohort-size broadcast
    "ts_holt_forecast",       # 1-row first-day broadcast
    "ml_lift_gain",           # 1-row corpus-totals broadcast
    "q3_hybrid_rrf",          # inherits BM25's 1-row corpus-stats broadcast
                              # + 1-row query vector
    "ml_calibration_bins",    # 1-row score-min/max broadcast
    "ml_psi_drift",           # 1-row day-range broadcast (time split)
    "q_tiered_search",        # 1-row summary-tier BM25 stats broadcast
    "rag_serve_ann",          # 1-row BM25 corpus stats + 1-row max-score
                              # normalizers + 1-row query vector
    "ml_ks_drift",            # 1-row day-range broadcast (time split)
    "dq_benford_digits",      # 1-row total-count broadcast
    "layout_analyze_stats",   # 1-row min/max/ndv stats broadcast
    "layout_write_skew_plan",  # 1-row (n_rows_table, ndv) totals broadcast
                               # per candidate key column
}


def test_registry_wide_no_accidental_cross_products(spark):
    """Fleet-wide scale lint: NO registered query may contain a
    CartesianProduct, and BroadcastNestedLoopJoin only where the
    broadcast side is O(1) rows by construction (allowlist above).
    A new query that accidentally cross-joins fails here, not at 100 TB."""
    from tlcn_oer_lakehouse_spark.queries import REGISTRY

    offenders = {}
    for name, spec in REGISTRY.items():
        plan = audit.simple_plan(spec.builder(spark, SF))
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWED:
            offenders[name] = "BroadcastNestedLoopJoin (not allowlisted)"
    assert not offenders, offenders


def test_medallion_e2e_exchange_budget(spark):
    """The composed medallion lifecycle's static plan budget.  The plan
    references the persisted silver frames (existing state, deduped
    batch) from five consumers, so the STATIC census counts each
    reference's derivation — at runtime the persist collapses them to
    one materialization each.  The budget pins the composition's shape:
    a regression that adds a data-sized extra pass (e.g. a string-keyed
    re-aggregation or a lost co-partitioning) pushes the census past the
    bound."""
    df = _build(spark, "medallion_e2e")
    assert audit.exchange_count(df) <= 34


def test_medallion_incremental_exchange_budget(spark):
    """The O(delta) gold-maintenance plan must stay CHEAPER than the
    full lifecycle recompute: the static census (counting each persisted
    frame's derivation per reference, as above) is bounded well under
    medallion_e2e's 34 — the delta fold adds only the CDF-shaped unions
    and O(#source_systems) aggregate/join stages.  The real-table twin
    additionally pins via inputFiles that maintenance reads ONLY the
    stored fact + _changes logs (test_cdf.py)."""
    df = _build(spark, "medallion_incremental")
    assert audit.exchange_count(df) <= 16


def test_exact_substring_keepone_is_combinable_aggregate(spark):
    """keep-one's canonical selection must stay a map-side-combinable
    aggregate (count + min(struct(doc_id,pos0)) per span hash).  The
    row_number-per-h window formulation wedged on hot-shingle skew at
    the sf10 probe (stop-phrase 5-grams occur 100k+ times; a window
    sort cannot partial-aggregate, so the hot groups pile into straggler
    partitions).  No Window node may appear in the plan."""
    df = _build(spark, "td_exact_substring_keepone")
    plan = audit.simple_plan(df)
    assert "Window" not in plan, plan


def test_contamination_two_wide_shuffles(spark):
    """contamination_check's plan budget: the shingle-keyed aggregation
    and the final doc-keyed aggregation are the only wide exchanges
    (plus AQE's bounded join-side exchange) — the xxhash64 key change
    must never reintroduce a string-keyed extra pass."""
    df = _build(spark, "td_contamination_check")
    assert audit.exchange_count(df) <= 4


def test_spatial_grid_join_is_broadcast_equi_join(spark):
    """The spatial radius join's scale claim: candidates come from a
    BroadcastHashJoin keyed on grid cell coordinates (cx, cy) — a naive
    dist² theta-join would plan as BroadcastNestedLoopJoin/cartesian,
    the O(|A|·|B|) spatial scale-killer."""
    df = _build(spark, "j_spatial_grid")
    plan = audit.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    key_lines = [
        ln for ln in plan.splitlines()
        if ("Left keys" in ln or "Right keys" in ln)
        and "cx" in ln and "cy" in ln
    ]
    assert key_lines, f"no equi-join keyed on grid cells in plan:\n{plan}"


def test_interval_overlap_join_no_dedup_shuffle(spark):
    """The overlap join's dedup-free claim: candidates are emitted in
    the first shared bucket only (an exact filter), so the plan needs
    NO pair-keyed dropDuplicates aggregate — the only exchanges are the
    session aggregation's; the 100-row interval side broadcasts."""
    df = _build(spark, "j_interval_overlap")
    plan = audit.simple_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert audit.exchange_count(df) <= 3, plan


def test_ivm_join_delta_decomposition_is_four_joins(spark):
    """The JOIN-view delta rule must stay structurally incremental:
    V_old ⋈, ΔO⋈C, O⋈ΔC and ΔO⋈ΔC as FOUR separate join nodes (a
    collapsed plan would mean Catalyst rewrote it back into one full
    join — correct but no longer O(delta)), with the delta sides
    broadcast as hinted."""
    import re

    df = _build(spark, "ivm_incremental_join")
    plan = audit.simple_plan(df)
    n_joins = len(re.findall(
        r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan))
    assert n_joins == 4, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_contamination_bloom_is_register_blocked(spark):
    """The Bloom gate's 100 TB plan shape (r9 register-blocked rewrite):
    the test-shingle stream probes the bitset through EXACTLY ONE
    broadcast hash join — the r7/r8 classic layout needed three (one
    per hash), tripling the map-side join work on the data-sized
    stream.  One extra broadcast join is budgeted for the confirm
    path's possible AQE broadcast; the probe must never regress to a
    per-hash join chain, and no Generate (explode) beyond the shingle
    streams may appear — the blocked build aggregates train rows 1:1.
    """
    df = _build(spark, "td_contamination_scalable")
    plan = audit.simple_plan(df)
    n_bhj = audit.broadcast_join_count(df)
    # 3 = bitset probe + confirm semi-join + final doc-level left join
    # (the latter two go broadcast at test scale); the classic layout's
    # probe alone took 3, pushing the total to 5+
    assert n_bhj <= 3, f"expected <=3 broadcast joins, saw {n_bhj}:\n{plan}"
    # the only explodes are the shingle stream, which surfaces once per
    # consuming branch pre-cache (train: words build + confirm; test:
    # sizes + probe) = 4.  The classic layout added a 5th — the Bloom
    # build's explode over the per-hash position array.
    assert plan.count("Generate") <= 4, plan


def test_bpe_tokenize_apply_is_one_keyed_join(spark):
    """The tokenize-apply step joins exploded corpus words to the
    vocab-sized segmentation once; the whole apply side must stay
    inside a bounded number of exchanges (no per-merge replay over the
    corpus)."""
    df = _build(spark, "td_bpe_tokenize")
    assert audit.exchange_count(df) <= 4


def test_video_decode_is_shuffle_free(spark):
    """Container walk + frame decode is mapInPandas with no data-sized
    shuffle: the only exchanges allowed are the 8-byte doc-id spine
    repartition BELOW the synth/decode (r12 — the documents scan is 1–2
    input splits, which serialized the decode on 2 of 32 cores; payloads
    are synthesized after the exchange so only ids cross it) and the
    final presentation sort."""
    df = _build(spark, "mm_video_frames")
    assert audit.exchange_count(df) <= 2


def test_gopher_rules_map_only(spark):
    """The whole rule battery is scan-speed column expressions: zero
    exchanges, pure map-side plan."""
    df = _build(spark, "qual_gopher_rules")
    assert audit.exchange_count(df) == 0


def test_url_extract_map_only(spark):
    df = _build(spark, "f_url_extract")
    assert audit.exchange_count(df) == 0


def test_ml_ols_single_shuffle_and_pruning(spark):
    """The OLS sufficient-statistics pass is ONE keyed aggregation over a
    3-column scan — the whole claim of the closed-form design."""
    df = _build(spark, "ml_ols_regression")
    assert set(audit.read_schema_columns(df)) == {
        "l_returnflag", "l_quantity", "l_extendedprice",
    }
    assert audit.exchange_count(df) == 1


def test_ml_auc_windows_are_partitioned(spark):
    """The AUC prefix sum must never fall back to a global-order window
    over row-level data: every WindowExec in the plan carries a
    partition spec (the two-phase pid windows)."""
    import re

    df = _build(spark, "ml_auc_roc")
    plan = audit.formatted_plan(df)
    for m in re.finditer(r"partitionspec=\[\]", plan, flags=re.IGNORECASE):
        raise AssertionError(f"unpartitioned window in plan: {m.group(0)}")
    # windowExpression lines list the partition spec before ORDER BY
    for line in plan.splitlines():
        if "windowspecdefinition(" in line.lower():
            spec = line.lower().split("windowspecdefinition(", 1)[1]
            assert not spec.startswith(","), f"empty partition spec: {line[:160]}"


def test_kmv_min_k_is_hierarchical(spark):
    """a_kmv_distinct's min-k must run the per-partition pre-prune: two
    row_number windows (pid-local then global over ≤ k·P rows), with the
    pid-local one partitioned by (event_type, pid)."""
    df = _build(spark, "a_kmv_distinct")
    plan = audit.formatted_plan(df)
    assert plan.lower().count("row_number") >= 2
    assert "SPARK_PARTITION_ID" in plan or "spark_partition_id" in plan


def test_tiered_search_prunes_tier3_partitions(spark, tmp_path):
    """The tiered-store serving claim (HIERARCHICAL_CHUNKING_DESIGN.md
    §8: search tier 1-2 only, ~70-80% index reduction): over a
    chunk_tier-partitioned store, the SCORING scan's partition filters
    must exclude tier 3 — tier-3 files are opened only by the O(k)
    drill-down join."""
    from tlcn_oer_lakehouse_spark.operators.chunking import hierarchical_chunks
    from tlcn_oer_lakehouse_spark.queries.base import load
    from tlcn_oer_lakehouse_spark.queries.serve import tiered_search_from_chunks

    store = str(tmp_path / "chunks")
    chunks = hierarchical_chunks(load(spark, SF, "documents"), "doc_id", "text")
    chunks.write.partitionBy("chunk_tier").parquet(store)
    stored = spark.read.parquet(store)
    df = tiered_search_from_chunks(stored)
    plan = audit.formatted_plan(df)
    # the summary-tier scan carries a partition filter keeping tiers <= 2
    assert "PartitionFilters" in plan
    assert "chunk_tier#" in plan and "<= 2" in plan
    # and the result over the store matches the on-the-fly build
    direct = tiered_search_from_chunks(chunks)
    assert sorted(map(str, df.collect())) == sorted(map(str, direct.collect()))


def test_ivf_probe_prunes_cluster_partitions(spark, tmp_path):
    """The inverted-file serving claim (ann_ivf_topk's docstring: "at
    scale the assigned cluster id becomes the table's partition key so
    probes prune scans"): over a cluster_id-partitioned store, the probe
    scan's partition filters must keep only the n_probe probed clusters
    — the other cluster directories are never opened.  Result parity
    with the in-plan ivf_topk (same probe list, same candidates) is
    asserted on the same data."""
    from pyspark.sql import functions as F

    from tlcn_oer_lakehouse_spark.operators.similarity import (
        ivf_assign,
        ivf_probe_clusters,
        ivf_topk,
        ivf_topk_from_assigned,
    )
    from tlcn_oer_lakehouse_spark.queries.base import load

    emb = load(spark, SF, "embeddings")
    centroids = emb.filter(F.col("vec_id").between(100, 107)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    corpus = emb.filter(F.col("vec_id") != 0)

    store = str(tmp_path / "ivf_store")
    ivf_assign(corpus, "vec_id", "embedding", centroids).write.partitionBy(
        "cluster_id"
    ).parquet(store)
    stored = spark.read.parquet(store)
    probes = ivf_probe_clusters(centroids, query, n_probe=2)
    assert len(probes) == 2

    df = ivf_topk_from_assigned(stored, "vec_id", "embedding", query, probes, k=10)
    plan = audit.formatted_plan(df)
    assert "PartitionFilters" in plan
    assert "cluster_id#" in plan and "IN (" in plan

    direct = ivf_topk(corpus, "vec_id", "embedding", centroids, query, k=10, n_probe=2)
    assert sorted(map(str, df.collect())) == sorted(map(str, direct.collect()))


def test_zorder_store_prunes_bucket_partitions(spark, tmp_path):
    """layout_zorder's serving claim: over a zbucket-partitioned store,
    a 2-D range predicate scans ONLY the buckets whose z-range
    intersects the query rectangle — the candidate-bucket set a z-aware
    planner derives from the curve geometry (computed here by
    enumerating the query box through the same interleave), surfaced as
    PartitionFilters.  Result parity with the unpartitioned filter is
    asserted on the same data."""
    from pyspark.sql import functions as F

    from tlcn_oer_lakehouse_spark.queries.base import load
    from tlcn_oer_lakehouse_spark.queries.lakehouse import (
        _Z_BUCKET_SHIFT,
        _z_interleave_sql,
    )

    def z_py(x: int, y: int) -> int:
        z = 0
        for i in range(10):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    x0, x1, y0, y1 = 100, 160, 200, 300
    cand_buckets = sorted({
        z_py(x, y) >> _Z_BUCKET_SHIFT
        for x in range(x0, x1 + 1)
        for y in range(y0, y1 + 1)
    })
    assert len(cand_buckets) < 16, "query box must not touch every bucket"

    orders = load(spark, SF, "orders")
    rows = orders.select(
        (F.col("o_custkey") % 1024).alias("x"),
        (
            F.datediff(
                F.to_date(F.col("o_orderdate")), F.to_date(F.lit("1992-01-01"))
            )
            % 1024
        ).alias("y"),
    ).withColumn("zval", F.expr(_z_interleave_sql("x", "y", "div"))).withColumn(
        "zbucket", F.expr(f"zval div {1 << _Z_BUCKET_SHIFT}")
    )
    store = str(tmp_path / "zorder_store")
    rows.write.partitionBy("zbucket").parquet(store)
    stored = spark.read.parquet(store)

    box = (
        F.col("x").between(x0, x1) & F.col("y").between(y0, y1)
    )
    pruned = stored.filter(F.col("zbucket").isin(cand_buckets) & box)
    plan = audit.formatted_plan(pruned)
    assert "PartitionFilters" in plan
    assert "zbucket#" in plan and "IN (" in plan

    direct = rows.filter(box).select("x", "y", "zval")
    got = pruned.select("x", "y", "zval")
    assert sorted(map(str, got.collect())) == sorted(map(str, direct.collect()))


def test_zorder_buckets_are_simultaneously_narrow(spark):
    """The locality evidence itself: every z-bucket's rectangle must be
    narrow on BOTH dimensions (≤ half the 1024 range) — a single-column
    sort would give perfect x-spans and full-range y-spans."""
    df = _build(spark, "layout_zorder")
    rows = df.collect()
    assert rows, "no buckets"
    for r in rows:
        assert r.span_x <= 512, r
        assert r.span_y <= 512, r


def test_tiered_search_drilldown_broadcasts_chapters(spark):
    """Drill-down joins tier-3 rows against the O(k) selected chapters —
    a broadcast equi-join, never a shuffle of the detail tier."""
    df = _build(spark, "q_tiered_search")
    assert audit.broadcast_join_count(df) >= 1
    plan = audit.simple_plan(df)
    assert "CartesianProduct" not in plan


def test_rag_serve_e2e_exchange_budget(spark):
    """The composed serve plan's fused branch is a local relation of
    (doc_id, fused_raw) scored on the driver from the corpus index (no
    cached frame, no per-request aggregates); the gate and the pack are
    windows over <= 10 rows.  Wide shuffles stay bounded."""
    df = _build(spark, "rag_serve_e2e")
    assert audit.exchange_count(df) <= 4
    plan = audit.simple_plan(df)
    assert re.search(r"LocalTableScan \[doc_id#\d+L, fused_raw#\d+\]", plan), plan
    assert "InMemoryRelation" not in plan


def test_exact_substring_dedup_plan(spark):
    """ExactSubstr dedup stays inside 3 exchanges (span-count groupBy,
    semi-join shuffle, per-doc starts groupBy — the doc-keyed join back
    broadcasts the small starts side) and prunes the documents scan to
    (doc_id, text).  The masking pass itself is a map-only higher-order
    filter, so no fourth data-sized exchange may appear."""
    df = _build(spark, "td_exact_substring_dedup")
    assert audit.exchange_count(df) <= 3
    assert set(audit.read_schema_columns(df)) == {"doc_id", "text"}


def test_dsir_sample_plan_shape(spark):
    """DSIR's 100 TB contract: exactly TWO corpus scans (bucket-stats
    pass + scoring pass), the <=1024-row ratio table joins back by
    BROADCAST (never a sort-merge shuffle of the token stream), and the
    quota selection is TakeOrderedAndProject (per-partition top-k), not
    a global Sort.  The one Window is the O(B)-bounded totals reduce
    over the stats frame — bounded by construction, so it is exempt
    from the data-sized-window lint."""
    df = _build(spark, "td_dsir_sample")
    plan = audit.simple_plan(df)
    assert plan.count("Scan parquet") == 2, plan
    assert audit.broadcast_join_count(df) >= 1
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert audit.exchange_count(df) <= 5


def test_ccnet_buckets_windows_are_histogram_bounded(spark):
    """td_ccnet_buckets's scale claim: the tercile-boundary windows run
    over the (lang, score) HISTOGRAM — distinct integer scores are
    bounded (<= 1000*64 per language) regardless of corpus size — never
    over the corpus-sized doc frame.  Pin: every Window node's input is
    the aggregated histogram (carries the count column, no doc_id), and
    the boundary table joins back by broadcast."""
    df = _build(spark, "td_ccnet_buckets")
    plan = audit.formatted_plan(df)
    lines = plan.splitlines()
    win_inputs = [
        lines[i + 1] for i, ln in enumerate(lines)
        if ln.strip().endswith(" Window") or ") Window" in ln
    ]
    assert win_inputs, "expected the two histogram cumulative windows"
    for inp in win_inputs:
        assert "doc_id" not in inp, f"corpus-sized window input: {inp}"
        assert "c#" in inp, f"window not over the histogram counts: {inp}"
    assert audit.broadcast_join_count(df) >= 2  # totals row + bounds table


def test_hybrid_rrf_branches_take_ordered(spark):
    """RRF's corpus-sized work must end in per-branch
    TakeOrderedAndProject(60) — the rank windows then sort LIMIT-bounded
    60-row frames, never the corpus.  A regression that ranks before
    limiting turns each branch into a global sort."""
    df = _build(spark, "q3_hybrid_rrf")
    plan = audit.simple_plan(df)
    assert plan.count("TakeOrderedAndProject(limit=60") == 2, plan
    assert plan.count("TakeOrderedAndProject(limit=10") == 1, plan


def test_compaction_plan_window_is_partitioned(spark):
    """Compaction planning is metadata-sized after the manifest groupBy:
    its bin-assignment window must carry a partition spec (per date
    partition, <= 32 files each), never a global file sort; and the
    whole plan stays within manifest-agg + window + final-agg
    exchanges."""
    df = _build(spark, "layout_compaction_plan")
    plan = audit.formatted_plan(df)
    saw_window = False
    for line in plan.splitlines():
        if "windowspecdefinition(" in line.lower():
            saw_window = True
            spec = line.lower().split("windowspecdefinition(", 1)[1]
            assert not spec.startswith(","), f"empty partition spec: {line[:160]}"
    assert saw_window
    assert audit.exchange_count(df) <= 3


def test_fractional_epochs_map_only_plus_combinable_aggs(spark):
    """The epoch materialization is explode + combinable groupBys with a
    broadcast base-count join — no windows, no corpus-sized sorts."""
    df = _build(spark, "td_fractional_epochs")
    plan = audit.simple_plan(df)
    assert "Window" not in plan, plan
    assert audit.exchange_count(df) <= 3
    assert audit.broadcast_join_count(df) >= 1


def test_calibration_bins_exchange_budget(spark):
    """The reliability table may not add corpus-sized passes beyond the
    classifier's own scoring: 1-row min/max broadcast + a 10-group
    combinable aggregate on top."""
    df = _build(spark, "ml_calibration_bins")
    assert audit.exchange_count(df) <= 7


def test_cusum_windows_run_on_day_histogram(spark):
    """ts_cusum_changepoint's prefix windows must run over the per-type
    DAY frame (bounded by the time horizon), never the row-level event
    stream — and must carry a partition spec."""
    df = _build(spark, "ts_cusum_changepoint")
    plan = audit.formatted_plan(df)
    lines = plan.splitlines()
    win_inputs = [
        lines[i + 1] for i, ln in enumerate(lines)
        if ln.strip().endswith(" Window") or ") Window" in ln
    ]
    assert win_inputs, "expected the per-type prefix window"
    for inp in win_inputs:
        assert "event_id" not in inp, f"row-level window input: {inp}"
        assert "day_idx" in inp, f"window not over the day frame: {inp}"
    for line in lines:
        if "windowspecdefinition(" in line.lower():
            spec = line.lower().split("windowspecdefinition(", 1)[1]
            assert not spec.startswith(","), f"empty partition spec: {line[:160]}"


def test_psi_drift_no_windows_bounded_exchanges(spark):
    """PSI is two linear combinable passes + O(#types) broadcasts —
    zero windows anywhere, bounded exchange census."""
    df = _build(spark, "ml_psi_drift")
    plan = audit.simple_plan(df)
    assert "Window" not in plan, plan
    assert audit.exchange_count(df) <= 7
