"""Round-11 regression pins for the ADVICE-r10 fixes: BIGINT prefix
bounds (no 32-bit overflow for large-denominator thresholds), per-trigger
streaming cache hygiene, KS -0.0 sign normalization, and the DPP store's
write-once / session-keyed path."""

from __future__ import annotations

import glob
import math
import os
import tempfile

from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.operators.dedup import prefix_filter_jaccard_pairs
from tlcn_oer_lakehouse_spark.queries.windows import ks_over_events


# --- BIGINT prefix bounds (ADVICE r10, medium) ------------------------------


def test_prefix_bounds_survive_large_denominator_threshold(spark):
    """tau=0.333333 passes _tau_fraction (q = 10^6) but INT arithmetic
    overflows at p·n for n ≥ ~6443 shingles (333333·6443 > 2³¹) —
    ARITHMETIC_OVERFLOW abort under ANSI before the fix.  Two identical
    ~7k-shingle docs must now pair at J = 1.0 without error."""
    toks = " ".join(f"t{i:05d}" for i in range(7002))  # 7000 distinct 3-shingles
    docs = spark.createDataFrame(
        [(1, toks), (2, toks)], "doc_id long, text string"
    )
    got = prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.333333
    ).collect()
    assert [(r.doc_a, r.doc_b) for r in got] == [(1, 2)]
    assert got[0].jaccard == 1.0


def test_prefix_ceil_expression_bigint_matches_fraction(spark):
    """The operator's Spark-side ceil expression with p = 333333 must
    reproduce the exact Fraction ceil out to n = 10⁴ (every value would
    overflow INT32 beyond n ≈ 6443)."""
    from fractions import Fraction

    p, q = Fraction("0.333333").numerator, Fraction("0.333333").denominator
    assert (p, q) == (333333, 1000000)
    ns = spark.range(6000, 10001).select(F.col("id").alias("n"))
    got = ns.select(
        "n", F.expr(f"({p}L * n + {q - 1}) div {q}").alias("ceil_tau_n")
    ).collect()
    for r in got:
        assert r.ceil_tau_n == -(-p * int(r.n) // q), r


# --- streaming per-trigger cache hygiene (ADVICE r10, low) ------------------


def _persisted_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_exact_dedup_ingest_unpersists_per_trigger(spark, tmp_path):
    """The incremental prefix-filter operator caches four frames per
    micro-batch — two derived from the GROWING standing corpus.  After
    the stream drains, none of them may remain cached (a long-running
    stream would otherwise accumulate corpus copies without bound)."""
    from pyspark.sql.types import _parse_datatype_string

    from tlcn_oer_lakehouse_spark.sinks.merge import ParquetMergeTable
    from tlcn_oer_lakehouse_spark.streaming.ingest import (
        exact_dedup_ingest,
        landing_stream,
    )

    before = _persisted_rdd_ids(spark)
    landing = str(tmp_path / "landing")
    schema = "doc_id long, text string"
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    spark.createDataFrame(
        [(1, base), (2, base + " extra")], schema
    ).coalesce(1).write.parquet(f"{landing}/b1")
    spark.createDataFrame([(11, base)], schema).coalesce(1).write.parquet(
        f"{landing}/b2"
    )
    table = ParquetMergeTable(
        spark, str(tmp_path / "corpus"), key="doc_id", fingerprint_col="text"
    )
    q = exact_dedup_ingest(
        landing_stream(spark, f"{landing}/*", _parse_datatype_string(schema)),
        table,
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
        threshold=0.5,
    )
    q.awaitTermination(120)
    got = {
        (r.doc_a, r.doc_b)
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    assert (1, 2) in got and (1, 11) in got
    assert not _persisted_rdd_ids(spark) - before  # nothing the stream cached is left


def test_near_dup_ingest_unpersists_per_trigger(spark, tmp_path):
    from pyspark.sql.types import _parse_datatype_string

    from tlcn_oer_lakehouse_spark.sinks.merge import ParquetMergeTable
    from tlcn_oer_lakehouse_spark.streaming.ingest import (
        landing_stream,
        near_dup_ingest,
    )

    before = _persisted_rdd_ids(spark)
    landing = str(tmp_path / "landing")
    schema = "doc_id long, text string"
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    spark.createDataFrame(
        [(1, base), (2, base + " extra")], schema
    ).coalesce(1).write.parquet(f"{landing}/b1")
    spark.createDataFrame([(11, base)], schema).coalesce(1).write.parquet(
        f"{landing}/b2"
    )
    table = ParquetMergeTable(
        spark, str(tmp_path / "corpus"), key="doc_id", fingerprint_col="text"
    )
    q = near_dup_ingest(
        landing_stream(spark, f"{landing}/*", _parse_datatype_string(schema)),
        table,
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
        threshold=0.5,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "pairs")).count() > 0
    assert not _persisted_rdd_ids(spark) - before  # nothing the stream cached is left


# --- KS -0.0 sign normalization (ADVICE r10, low) ---------------------------


def test_ks_negative_zero_argmax_normalized(spark):
    """A stored -0.0 at the KS argmax: Spark normalizes -0.0 in grouping
    keys (SPARK-26021) while DuckDB would emit the stored -0.0 — the
    query must emit +0.0 so strict hash parity holds."""
    ev = spark.createDataFrame(
        [("t", 0, -0.0), ("t", 0, -0.0), ("t", 1, 3.0), ("t", 1, 4.0)],
        "event_type string, day_idx long, value double",
    )
    r = ks_over_events(ev).collect()[0]
    assert r.ks_at_value == 0.0
    assert math.copysign(1.0, r.ks_at_value) == 1.0  # +0.0, not -0.0
    assert (r.n_a, r.n_b, r.ks_scaled) == (2, 2, 4)


# --- stats-driven write planning (VERDICT r10 #7) ---------------------------


def test_key_write_plan_decisions(spark):
    """The rule end-to-end on constructed stats: a 2500-row key at
    target 1000 → 'split' into 3 files; a 999-row key → 'single'."""
    from tlcn_oer_lakehouse_spark.operators.skew import key_write_plan

    rows = [("hot",)] * 2500 + [("cold",)] * 999
    df = spark.createDataFrame(rows, "k string")
    plan = {r.key: r for r in key_write_plan(df, "k", 1000).collect()}
    assert (plan["hot"].n_files, plan["hot"].decision) == (3, "split")
    assert (plan["cold"].n_files, plan["cold"].decision) == (1, "single")
    assert plan["hot"].n_rows_table == 3499 and plan["hot"].ndv == 2
    assert abs(plan["hot"].share - round(2500 / 3499, 9)) < 1e-12


def test_skew_partitioned_write_both_branches(spark, tmp_path):
    """Executing twin: the 'split' key's partition directory holds >1
    but ≤ n_files parquet files, the 'single' key exactly one, and the
    table CONTENT round-trips identically — layout is a pure
    partitioning trick, like salted_join."""
    import glob as _glob

    from tlcn_oer_lakehouse_spark.operators.skew import skew_partitioned_write

    rows = [(i, "hot") for i in range(2500)] + [
        (10_000 + i, "cold") for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, k string")
    path = str(tmp_path / "by_k")
    plan = {r.key: r for r in skew_partitioned_write(df, path, "k", 1000).collect()}
    files = {
        k: _glob.glob(os.path.join(path, f"k={k}", "*.parquet"))
        for k in ("hot", "cold")
    }
    assert 1 < len(files["hot"]) <= plan["hot"].n_files == 3
    assert len(files["cold"]) == plan["cold"].n_files == 1
    back = spark.read.parquet(path)
    assert sorted((r.id, r.k) for r in back.collect()) == sorted(rows)


# --- DPP store write-once + session-unique path (ADVICE r10, low) -----------


def test_dpp_store_write_once_and_pid_keyed(spark, sf_dir):
    """The partitioned fact store must be keyed by (realpath, PID) — no
    cross-session overwrite-vs-read race — and written at most once per
    process: a second builder call reuses the store unchanged."""
    from tlcn_oer_lakehouse_spark.queries.lakehouse import layout_dpp_star_join

    first = layout_dpp_star_join(spark, sf_dir).collect()
    stores = glob.glob(
        os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_dpp_store_*_pid{os.getpid()}",
            "orders_by_status",
        )
    )
    assert stores, "store path must embed the PID"
    files = {
        p: os.path.getmtime(p)
        for s in stores
        for p in glob.glob(os.path.join(s, "**", "*.parquet"), recursive=True)
    }
    assert files
    second = layout_dpp_star_join(spark, sf_dir).collect()
    for p, mtime in files.items():
        assert os.path.getmtime(p) == mtime, "second call must not rewrite"
    assert [tuple(r) for r in first] == [tuple(r) for r in second]


# --- r11 minhash array-form rework: old-pipeline equivalence ----------------


def test_minhash_array_form_matches_exploded_pipeline(spark):
    """The r11 array-form pipeline (minhash_doc_arrays → fold/explode
    signatures → jaccard_verify_arrays) must be value-identical to the
    r7-r10 exploded form (shingle_rows → groupBy signatures →
    jaccard_verify_from): same candidate pairs, same exact Jaccard, for
    both hash families."""
    from tlcn_oer_lakehouse_spark.operators.dedup import (
        MINHASH_P,
        _minhash_a,
        _minhash_b,
        jaccard_verify_from,
        minhash_lsh_candidate_pairs,
        minhash_near_duplicates,
        shingle_rows,
    )

    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, base),
        (2, base + " extra tail tokens"),          # near-dup of 1
        (3, base),                                  # exact dup of 1
        (4, " ".join(f"z{i}" for i in range(40))),  # unrelated
        (5, ""),                                    # empty: no shingles
        (6, "only two"),                            # shorter than shingle_n
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for hash_fn in ("md5", "xxhash64"):
        sh = shingle_rows(docs, "doc_id", "text", 3, hash_fn=hash_fn).persist()
        sigs = sh.groupBy("doc").agg(
            *[
                F.min(
                    (F.col("bh") * _minhash_a(i) + _minhash_b(i)) % MINHASH_P
                ).alias(f"h{i}")
                for i in range(16)
            ],
            F.count(F.lit(1)).alias("n_shingles"),
        )
        cands = minhash_lsh_candidate_pairs(sigs, 16, 4)
        old = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in jaccard_verify_from(
                sh, cands, sizes=sigs.select("doc", "n_shingles")
            )
            .filter(F.col("jaccard") >= 0.5)
            .collect()
        }
        new = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_near_duplicates(
                docs, "doc_id", "text", 3, 16, 4, 0.5, hash_fn=hash_fn
            ).collect()
        }
        sh.unpersist()
        assert new == old, f"hash_fn={hash_fn}: {new} != {old}"
        assert (1, 3) in new  # the exact dup must survive either form


def test_minhash_doc_arrays_sizes_match_exploded_counts(spark):
    """size(tok_arr) of the array frame must equal the exploded form's
    per-doc distinct-shingle count (the n_shingles the verify divides
    by), and empty/short docs must yield empty arrays, not rows lost to
    an explode."""
    from tlcn_oer_lakehouse_spark.operators.dedup import (
        minhash_doc_arrays,
        shingle_rows,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e a b c"), (2, ""), (3, "x y")],
        "doc_id long, text string",
    )
    arr_sizes = {
        r.doc: r.n
        for r in minhash_doc_arrays(docs, "doc_id", "text", 3)
        .select("doc", F.size("tok_arr").alias("n"))
        .collect()
    }
    exploded = {
        r.doc: r.n
        for r in shingle_rows(docs, "doc_id", "text", 3)
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert arr_sizes == {1: exploded[1], 2: 0, 3: 0}


def test_minhash_doc_arrays_handoff_matches_internal_build(spark):
    """minhash_near_duplicates(doc_arrays=...) must emit exactly the
    pairs of the internal-build form when handed the persisted
    minhash_doc_arrays frame of the same inputs (the dedup_recall_eval
    cache-sharing path)."""
    from tlcn_oer_lakehouse_spark.operators.dedup import (
        minhash_doc_arrays,
        minhash_near_duplicates,
    )

    base_text = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, base_text), (2, base_text + " tail"), (3, base_text), (4, "")],
        "doc_id long, text string",
    )
    internal = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_near_duplicates(
            docs, "doc_id", "text", 3, 16, 4, 0.5
        ).collect()
    }
    arr = minhash_doc_arrays(docs, "doc_id", "text", 3).persist()
    handed = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_near_duplicates(
            docs, "doc_id", "text", 3, 16, 4, 0.5, doc_arrays=arr
        ).collect()
    }
    arr.unpersist()
    assert handed == internal and (1, 3, 1.0) in internal
