"""Training-data text operators as verifiable queries: exact dedup,
MinHash+LSH, SimHash, n-gram Jaccard, text stats / quality / language-ID /
fingerprinting — all over the ``documents`` table.

The sf0.01 corpus has no natural duplicates (500 distinct texts), so the
dedup queries operate on a deterministically AUGMENTED corpus built inside
the query: the base documents, plus exact copies (doc_id+10000000 for
doc_id%10==0) and near-copies with the last 3 tokens dropped
(doc_id+20000000 for doc_id%10==5).  Both engines construct the same corpus,
so every operator exercises real duplicate/near-duplicate structure.

Oracle SQL for the signature operators (16 minhash mins, 64 simhash bit
sums) is generated programmatically to keep the two implementations
honestly independent in structure but identical in the hash family
(md5-prefix integers — portable across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.functions.text import (
    EN_STOPWORDS,
    LANG_MARKERS,
    fingerprint,
    quality_score,
    token_count,
    tokens,
)
from tlcn_oer_lakehouse_spark.operators.dedup import (
    exact_duplicate_groups,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from tlcn_oer_lakehouse_spark.queries.base import QuerySpec, load

# ---------------------------------------------------------------------------
# shared augmented corpus
# ---------------------------------------------------------------------------


# Augmentation id offsets.  MUST clear every real doc_id at every scale:
# the r9 sf10 probe (500k base docs) caught the old +100000/+200000
# offsets COLLIDING with genuine doc_ids — two rows sharing one id, so
# per-row array_distinct shingles double-counted on the Spark side
# while the oracle's cross-row DISTINCT did not, and the incremental
# split misclassified base docs as batch.  10M/20M clear any corpus
# this repo targets; collisions would need a 10M-doc base table.
COPY_OFFSET = 10_000_000
NEAR_OFFSET = 20_000_000


def augmented_corpus(spark: SparkSession, sf: str) -> DataFrame:
    # The documents file is a single parquet row group → 1 scan partition,
    # which would serialize the md5-heavy dedup pipelines downstream.
    # Fan out to spark.sql.shuffle.partitions — the per-deployment
    # parallelism knob — a tiny shuffle relative to the compute it unlocks.
    # HASH-partitioned by doc_id (unique → spreads evenly), not
    # round-robin: keyless repartition(n) first sorts each input
    # partition locally (spark.sql.execution.sortBeforeRepartition,
    # needed so task retries reproduce the assignment — guide §2.5),
    # which here means one task sorting the whole single-split scan
    # before anything fans out; a deterministic hash key needs no such
    # sort and is retry-safe by construction.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = (
        load(spark, sf, "documents")
        .select("doc_id", "text")
        .repartition(n_part, "doc_id")
    )
    toks = F.split(F.col("text"), " ")
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + COPY_OFFSET).alias("doc_id"), F.col("text")
    )
    near = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + NEAR_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 3)).alias("text"),
    )
    return docs.unionByName(copies).unionByName(near)


CORPUS_SQL = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {COPY_OFFSET} AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + {NEAR_OFFSET} AS doc_id,
         array_to_string(string_split(text, ' ')[1:len(string_split(text, ' ')) - 3], ' ') AS text
  FROM documents WHERE doc_id % 10 = 5
)
"""

# Distinct 3-gram shingle sets per document (DuckDB side).  MATERIALIZED:
# every consumer references `sh` at least twice (signatures + sizes +
# verify joins) and DuckDB re-inlines non-materialized CTEs per
# reference — the r8 sf10 probe watched the dedup_clusters oracle
# replay this chain until it had spilled 39 GB (the same class the r6
# sf1.0 sweep hit on the pagerank oracle).
SHINGLES_SQL = """
toks AS (SELECT doc_id AS doc, string_split(text, ' ') AS t FROM corpus),
sh AS MATERIALIZED (
  SELECT DISTINCT doc, array_to_string(t[i:i+2], ' ') AS shingle
  FROM (SELECT doc, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks)
)
"""


# ---------------------------------------------------------------------------
# text stats / fingerprint / quality / language id
# ---------------------------------------------------------------------------


def text_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting + fingerprinting (transformer.py:860, 310-337)."""
    docs = load(spark, sf, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_measured"),
        fingerprint(F.col("text")).alias("fp"),
    )


TEXT_STATS_SQL = """
SELECT doc_id,
       len(regexp_extract_all(text, '\\w+')) AS n_tokens,
       len(list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))) AS n_distinct_tokens,
       length(text) AS n_chars_measured,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
"""


def text_quality_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Quality scoring (transformer.py:340-368) + heuristic language ID
    (chatbot_api.py:69-89), both as pure column expressions."""
    docs = load(spark, sf, "documents")
    from tlcn_oer_lakehouse_spark.functions.text import lang_id

    return docs.select(
        "doc_id",
        F.round(quality_score(F.col("text")), 9).alias("quality"),
        lang_id(F.col("text")).alias("lang_pred"),
        "lang",
    )


def _langid_oracle() -> str:
    score_exprs = []
    for lang, ms in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in ms)
        score_exprs.append(
            f"len(list_filter(tk, t -> list_contains([{lst}], t))) AS s_{lang}"
        )
    langs = sorted(LANG_MARKERS)  # iteration order of the Spark argmax loop
    m = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    ladder = " ".join(f"WHEN s_{lang} = {m} THEN '{lang}'" for lang in langs)
    stop_list = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, lang,
         length(regexp_replace(text, '\\s', '', 'g')) > 0 AS nonempty,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
  FROM documents
), scored AS (
  SELECT doc_id, lang, tk, nonempty, {', '.join(score_exprs)},
         len(tk) AS n,
         len(list_distinct(tk)) AS nd,
         len(list_filter(tk, t -> list_contains([{stop_list}], t))) AS nstop
  FROM base
)
SELECT doc_id,
       round(CASE WHEN nonempty THEN
         0.4 * least(n / 100.0, 1.0) + 0.3 * (nd / n) + 0.3 * (1.0 - nstop / n)
       ELSE 0.0 END, 9) AS quality,
       CASE WHEN {m} <= 0 THEN 'und' {ladder} END AS lang_pred,
       lang
FROM scored
"""


# ---------------------------------------------------------------------------
# dedup family over the augmented corpus
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    # member_ids serialized to CSV: a raw array column crashes the driver
    # canonicalizer's sort_values (unhashable ndarray).
    return exact_duplicate_groups(augmented_corpus(spark, sf), "doc_id", "text").select(
        "fp",
        "canonical_id",
        F.concat_ws(",", F.col("member_ids")).alias("member_ids_csv"),
        "group_size",
    )


DEDUP_EXACT_SQL = f"""
WITH {CORPUS_SQL.strip()}
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       MIN(doc_id) AS canonical_id,
       array_to_string(array_agg(doc_id ORDER BY doc_id), ',') AS member_ids_csv,
       COUNT(*) AS group_size
FROM corpus
GROUP BY 1
HAVING COUNT(*) > 1
"""


def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    return minhash_near_duplicates(
        augmented_corpus(spark, sf), "doc_id", "text",
        shingle_n=3, num_hashes=16, bands=4, threshold=0.5,
    )


def dedup_minhash_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time near-dup: the augmented copies/jitters (doc_id >=
    COPY_OFFSET) arrive as TODAY'S BATCH against the base corpus as the
    standing index — ``minhash_incremental_pairs`` emits exactly the
    near-dup pairs touching a batch document (new×existing ∪ new×new).

    This is the O(delta) daily-pipeline form of ``dedup_minhash_lsh``:
    re-running the full pipeline per ingest re-shingles and re-pairs
    the whole corpus, O(corpus) shuffles per batch; here only the batch
    is shingled/banded in full, the standing side contributes its band
    table for the probe plus shingles for ONLY the candidate docs
    (semi-join pruned), so per-ingest work scales with the batch and
    its collision set.  On a deployment the standing band/signature/
    shingle tables are persisted outputs of earlier runs (bucketed by
    band hash → co-located probe); here they are derived in-plan.

    The oracle is the FULL pipeline's SQL replay restricted to
    batch-touching pairs — the green proves the incremental plan loses
    and invents nothing vs a from-scratch rerun (the equivalence
    ``test_operators_extra.py`` pins is here driver-hash-certified).

    Ref: scale op beyond the reference — LLM-pipeline incremental
    corpus maintenance (same O(delta) family as medallion_incremental
    and q7_index_diff)."""
    from tlcn_oer_lakehouse_spark.operators.dedup import minhash_incremental_pairs

    corpus = augmented_corpus(spark, sf)
    existing = corpus.filter(F.col("doc_id") < COPY_OFFSET)
    batch = corpus.filter(F.col("doc_id") >= COPY_OFFSET)
    return minhash_incremental_pairs(
        existing, batch, "doc_id", "text",
        shingle_n=3, num_hashes=16, bands=4, threshold=0.5,
    )


def _minhash_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    extra_where: str = "",
) -> str:
    # affine family over one md5 base hash — must mirror
    # operators/dedup.py: h_i = (A_i*base + B_i) % P
    rows = num_hashes // bands
    base = "CAST('0x' || substring(md5(shingle), 1, 8) AS BIGINT)"
    mins = ",\n         ".join(
        f"MIN(({base} * {i * 4097 + 1} + {i * 12289}) % 2147483647) AS h{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc, {b} AS band_no, md5(concat_ws(',', "
        + ", ".join(f"h{b * rows + r}" for r in range(rows))
        + ")) AS band_hash FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH {CORPUS_SQL.strip()},
{SHINGLES_SQL.strip()},
sigs AS MATERIALIZED (
  SELECT doc, {mins}
  FROM sh GROUP BY doc
),
banded AS MATERIALIZED (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM banded a JOIN banded b
    ON a.band_no = b.band_no AND a.band_hash = b.band_hash AND a.doc < b.doc
),
sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
inter AS (
  SELECT doc_a, doc_b, COUNT(*) AS n_inter
  FROM cand
  JOIN sh sa ON sa.doc = cand.doc_a
  JOIN sh sb ON sb.doc = cand.doc_b AND sb.shingle = sa.shingle
  GROUP BY doc_a, doc_b
)
SELECT i.doc_a, i.doc_b, i.n_inter / (na.n + nb.n - i.n_inter) AS jaccard
FROM inter i
JOIN sizes na ON na.doc = i.doc_a
JOIN sizes nb ON nb.doc = i.doc_b
WHERE i.n_inter / (na.n + nb.n - i.n_inter) >= {threshold}{extra_where}
"""


def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # max_df=100: skew guard on candidate generation (fixture max df is 9,
    # so the oracle result is unchanged; the cap is mirrored in the SQL).
    return ngram_jaccard_pairs(
        augmented_corpus(spark, sf), "doc_id", "text",
        shingle_n=3, threshold=0.5, max_df=100,
    )


NGRAM_JACCARD_SQL = f"""
WITH {CORPUS_SQL.strip()},
{SHINGLES_SQL.strip()},
rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100
),
sh_rare AS MATERIALIZED (SELECT sh.* FROM sh JOIN rare USING (shingle)),
cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM sh_rare a JOIN sh_rare b ON a.shingle = b.shingle AND a.doc < b.doc
),
sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
inter AS (
  SELECT doc_a, doc_b, COUNT(*) AS n_inter
  FROM cand
  JOIN sh sa ON sa.doc = cand.doc_a
  JOIN sh sb ON sb.doc = cand.doc_b AND sb.shingle = sa.shingle
  GROUP BY doc_a, doc_b
)
SELECT i.doc_a, i.doc_b, i.n_inter / (na.n + nb.n - i.n_inter) AS jaccard
FROM inter i
JOIN sizes na ON na.doc = i.doc_a
JOIN sizes nb ON nb.doc = i.doc_b
WHERE i.n_inter / (na.n + nb.n - i.n_inter) >= 0.5
"""


# Fixed audit panel for the prefix-filter family's pair OUTPUT (VERDICT
# r10 #2, the dedup_recall_eval pattern): pairs are reported only when
# BOTH docs' base ids are < _PAIR_PANEL (augmented +10M/+20M twins map
# back via the modulo).  The panel covers the ENTIRE corpus at sf ≤ 0.1
# (5k base docs at sf0.1), so driver rows are unchanged; at sf1.0/sf10
# it bounds the ORACLE's Σdf² all-pairs replay to a fixed 20k-base-doc
# audit set, converting the formerly Spark-only decade gates into
# STRICT rows.  Soundness: Jaccard is a pairwise property — candidate
# generation (and the incremental twin's frozen global token order)
# still runs over the FULL corpus in Spark; only the reported pair set
# is panel-restricted, identically on both engines.
_PAIR_PANEL = 20_000


def _panel_pairs(pairs: DataFrame) -> DataFrame:
    return pairs.filter(
        ((F.col("doc_a") % COPY_OFFSET) < _PAIR_PANEL)
        & ((F.col("doc_b") % COPY_OFFSET) < _PAIR_PANEL)
    )


def dedup_prefix_filter(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT Jaccard ≥ 0.5 pairs via prefix filtering (PPJoin / Vernica
    et al. SIGMOD'10, operators/dedup.py:prefix_filter_jaccard_pairs).
    Same output contract as an all-pairs Jaccard join — the oracle is
    the UNCAPPED shared-shingle computation, so the green certifies the
    prefix filter's exactness guarantee, not a heuristic's agreement.
    Output restricted to the fixed audit panel (see ``_PAIR_PANEL``:
    whole corpus at sf ≤ 0.1; strict-oracle-feasible at any sf)."""
    from tlcn_oer_lakehouse_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    return _panel_pairs(prefix_filter_jaccard_pairs(
        augmented_corpus(spark, sf), "doc_id", "text",
        shingle_n=3, threshold=0.5,
    ))


def dedup_prefix_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time EXACT near-dup: the augmented copies/jitters (doc_id
    >= COPY_OFFSET) arrive as TODAY'S BATCH against the base corpus as
    the standing index — ``prefix_filter_incremental_pairs`` emits
    exactly the Jaccard ≥ 0.5 pairs touching a batch document,
    completing the O(delta) ingest story for the EXACT dedup tier the
    way ``dedup_minhash_incremental`` does for the probabilistic one.

    The standing index's global token order is FROZEN at build time
    (df over the base corpus; batch-only tokens rank rarest at df=0) —
    exactness holds under any fixed total order, so the oracle is the
    FULL prefix-filter pipeline's semantics (the uncapped all-pairs
    Jaccard) restricted to batch-touching pairs: the green certifies
    the incremental plan loses and invents nothing vs a from-scratch
    rerun, frozen order and all.

    Ref: scale op beyond the reference — LLM-pipeline incremental
    corpus maintenance (same O(delta) family as medallion_incremental,
    dedup_minhash_incremental, q7_index_diff)."""
    from tlcn_oer_lakehouse_spark.operators.dedup import (
        prefix_filter_incremental_pairs,
    )

    corpus = augmented_corpus(spark, sf)
    existing = corpus.filter(F.col("doc_id") < COPY_OFFSET)
    batch = corpus.filter(F.col("doc_id") >= COPY_OFFSET)
    # Panel on the OUTPUT only: the standing index, its frozen global
    # token order, and candidate generation all run over the FULL
    # corpus — restriction to the audit panel is sound because the
    # emitted property (pairwise Jaccard ≥ τ) does not depend on any
    # out-of-panel doc (see _PAIR_PANEL).
    return _panel_pairs(prefix_filter_incremental_pairs(
        existing, batch, "doc_id", "text",
        shingle_n=3, threshold=0.5,
    ))


# Exact all-pairs Jaccard (no df cap, no prefix): any pair with J >= 0.5
# shares >= 1 shingle, so counting over the shared-shingle join IS the
# exact answer — and precisely the semantics the prefix filter must
# reproduce.  The corpus CTE is restricted to the SAME fixed audit panel
# as the Spark output (both docs' base ids < _PAIR_PANEL — sound because
# Jaccard is pairwise), which bounds the Σdf² all-pairs replay to the
# panel at every sf: the oracle stays feasible even where the full
# corpus is 10M rows.
_PANEL_SHINGLES_SQL = SHINGLES_SQL.replace("FROM corpus", "FROM panel")

PREFIX_FILTER_SQL = f"""
WITH {CORPUS_SQL.strip()},
panel AS (
  SELECT doc_id, text FROM corpus WHERE doc_id % {COPY_OFFSET} < {_PAIR_PANEL}
),
{_PANEL_SHINGLES_SQL.strip()},
sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT i.doc_a, i.doc_b,
       i.n_inter / (na.n + nb.n - i.n_inter) AS jaccard
FROM inter i
JOIN sizes na ON na.doc = i.doc_a
JOIN sizes nb ON nb.doc = i.doc_b
WHERE i.n_inter / (na.n + nb.n - i.n_inter) >= 0.5
"""

# the incremental twin's oracle: the SAME exact all-pairs computation,
# restricted to pairs touching a batch (augmented-id) document
PREFIX_INCR_SQL = (
    PREFIX_FILTER_SQL.rstrip()
    + f"\n  AND (i.doc_a >= {COPY_OFFSET} OR i.doc_b >= {COPY_OFFSET})\n"
)


def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    return simhash_near_duplicates(
        augmented_corpus(spark, sf), "doc_id", "text", max_hamming=6, nbits=64
    )


def _simhash_oracle(nbits: int = 64, max_hamming: int = 6) -> str:
    # 64-bit signature from two 32-bit md5 halves (h_lo bits 0-31, h_hi
    # bits 32-63); bit 63 assembles as the long's sign value -2^63 —
    # identical two's-complement arithmetic in both engines.  32 bits
    # birthday-collide at ≥50k docs (see simhash_signatures docstring).
    def _half(j: int) -> str:
        return f"h_lo & {1 << j}" if j < 32 else f"h_hi & {1 << (j - 32)}"

    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN ({_half(j)}) != 0 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(nbits)
    )
    assemble = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({-(1 << 63) if j == 63 else (1 << j)} AS BIGINT) ELSE 0 END)"
        for j in range(nbits)
    )
    return f"""
WITH {CORPUS_SQL.strip()},
tok AS (
  SELECT doc_id AS doc,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
  FROM corpus
),
hashed AS (SELECT doc,
                  CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) AS h_lo,
                  CAST('0x' || substring(md5(t), 9, 8) AS BIGINT) AS h_hi
           FROM tok),
bits AS (
  SELECT doc, {bit_sums}
  FROM hashed GROUP BY doc
),
sig AS (SELECT doc, {assemble} AS simhash FROM bits)
SELECT a.doc AS doc_a, b.doc AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.doc < b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster resolution over MinHash near-dup pairs: connected
    components (min-label propagation, operators/components.py) →
    one row per cluster with canonical id, sorted member CSV, size.
    The step that makes pairwise dedup actionable — at 100 TB the
    component assignment feeds deduplicated_corpus's anti-join."""
    from tlcn_oer_lakehouse_spark.operators.components import duplicate_clusters

    pairs = dedup_minhash_lsh(spark, sf).select("doc_a", "doc_b")
    return duplicate_clusters(pairs).orderBy("canonical_id")


def dedup_clusters_star(spark: SparkSession, sf: str) -> DataFrame:
    """The O(log² n)-round twin of ``dedup_clusters``: identical cluster
    rollup, components resolved by alternating large-star/small-star
    rounds (Kiveris et al. SoCC'14, operators/components.py:
    connected_components_star) instead of min-label propagation — the
    registered scale path for graphs whose components can be deep
    chains (propagation now RAISES rather than silently mislabeling
    when a diameter exceeds its round budget).  Same oracle as
    dedup_clusters: the recursive-closure replay checks the component
    assignment itself, so the two algorithms' equivalence is
    driver-verified, not just pytest-pinned."""
    from tlcn_oer_lakehouse_spark.operators.components import (
        connected_components_star,
        duplicate_clusters,
    )

    pairs = dedup_minhash_lsh(spark, sf).select("doc_a", "doc_b")
    return duplicate_clusters(pairs, cc=connected_components_star).orderBy(
        "canonical_id"
    )


def dedup_soft_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Soft deduplication (inverse-cluster-size sampling): instead of
    keeping exactly one member per near-dup cluster, EVERY document
    survives with probability 1/cluster_size through a deterministic
    hash gate — expected one surviving copy per cluster, but which copy
    survives is unbiased rather than always-the-minimum-id, and
    documents duplicated k times are downweighted by exactly 1/k (the
    "soft dedup" used when duplicates carry sampling weight rather than
    being dropped outright).  Unclustered documents always survive.

    Plan: minhash pairs → min-label components → one groupBy for
    cluster sizes → left join back onto the corpus (the assignment side
    is |clustered docs| ≪ |corpus|, broadcast-sized) → map-only hash
    gate.  Deterministic: md5-bucket(doc_id, 1000) * size < 1000 keeps
    ⌈1000/size⌉ of 1000 buckets."""
    from tlcn_oer_lakehouse_spark.operators.components import (
        connected_components,
    )
    from tlcn_oer_lakehouse_spark.queries.traindata import _bucket

    corpus = augmented_corpus(spark, sf).select("doc_id")
    pairs = dedup_minhash_lsh(spark, sf).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    assigned = comp.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("canonical_id"),
        "cluster_size",
    )
    full = corpus.join(F.broadcast(assigned), "doc_id", "left").select(
        "doc_id",
        F.coalesce("canonical_id", F.col("doc_id")).alias("canonical_id"),
        F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
    )
    kept = _bucket(F.col("doc_id"), 1000) * F.col("cluster_size") < 1000
    return full.select(
        "doc_id", "canonical_id", "cluster_size", kept.alias("kept")
    ).orderBy("doc_id")


def _soft_sample_oracle() -> str:
    from tlcn_oer_lakehouse_spark.queries.traindata import _bucket_sql

    return f"""
WITH RECURSIVE {CORPUS_SQL.strip().lstrip()},
pairs AS MATERIALIZED ({_minhash_oracle().strip()}),
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(node, r) AS (
  SELECT u AS node, u AS r FROM edges
  UNION
  SELECT e.u AS node, reach.r
  FROM edges e JOIN reach ON e.v = reach.node
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
sizes AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component),
assigned AS (
  SELECT comp.node AS doc_id, comp.component AS canonical_id, sizes.cluster_size
  FROM comp JOIN sizes USING (component)
)
SELECT c.doc_id,
       COALESCE(a.canonical_id, c.doc_id) AS canonical_id,
       COALESCE(a.cluster_size, 1) AS cluster_size,
       ({_bucket_sql('c.doc_id', 1000)}) * COALESCE(a.cluster_size, 1) < 1000 AS kept
FROM corpus c LEFT JOIN assigned a ON c.doc_id = a.doc_id
ORDER BY c.doc_id
"""


def g_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Graph centrality over the near-dup pair graph: 2-iteration
    PageRank (operators/components.py:pagerank) on the symmetric MinHash
    pair edges — ranks canonical candidates inside duplicate clusters by
    connectivity.  The oracle replays both iterations: contributions sum
    as exact decimals, ranks round to 12 dp per iteration."""
    from tlcn_oer_lakehouse_spark.operators.components import pagerank

    pairs = dedup_minhash_lsh(spark, sf).select("doc_a", "doc_b")
    return pagerank(pairs, n_iter=2).orderBy("node")


def _pagerank_oracle(n_iter: int = 2, damping: float = 0.85) -> str:
    # MATERIALIZED matters at scale: `edges` references `pairs` twice
    # and deg/nodes/r0 reference `edges` three more times — without the
    # hint DuckDB re-inlines the entire MinHash replay per reference
    # (the sf1.0 sweep measured it filling 60+ GB of spill before ENOSPC)
    parts = [
        f"pairs AS MATERIALIZED ({_minhash_oracle().strip()})",
        "edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs "
        "UNION SELECT doc_b AS u, doc_a AS v FROM pairs)",
        "deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u)",
        "nodes AS (SELECT DISTINCT u AS node FROM edges)",
        "nst AS (SELECT COUNT(*) AS n FROM nodes)",
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS rank FROM nodes, nst)",
    ]
    for i in range(n_iter):
        parts.append(
            f"c{i + 1} AS (SELECT e.v AS node, "
            f"CAST(CAST(SUM(CAST(r.rank / d.deg AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS s "
            f"FROM edges e JOIN r{i} r ON e.u = r.node JOIN deg d ON e.u = d.u "
            f"GROUP BY e.v)"
        )
        parts.append(
            f"r{i + 1} AS (SELECT node, "
            f"round(CAST({1.0 - damping!r} AS DOUBLE) / n "
            f"+ CAST({damping!r} AS DOUBLE) * s, 12) AS rank FROM c{i + 1}, nst)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, round(rank, 9) AS rank FROM r{n_iter} ORDER BY node"
    )


def g_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node triangle counts on the co-purchase graph (parts linked
    when they share an order) via degree-ordered orientation
    (operators/components.py:triangle_counts) — the clustering-
    coefficient primitive, and the canonical skew-proof graph pattern:
    orientation bounds wedge fan-out by O(m^1.5) however hubby the
    graph gets.  Pair generation itself is bounded too: ≤ 7 items per
    order ⇒ ≤ 21 pairs per order, a per-row-constant explode."""
    from tlcn_oer_lakehouse_spark.operators.components import triangle_counts

    li = (
        load(spark, sf, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, "ok")
        .where(F.col("a.pk") < F.col("b.pk"))
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
    )
    return triangle_counts(pairs).orderBy("node")


_SCC_BUCKETS = 1024


def g_scc(spark: SparkSession, sf: str) -> DataFrame:
    """Strongly connected components of a DIRECTED transition graph —
    the one algorithm the undirected graph family (components, LPA,
    k-core, triangles) cannot express, and the standard reachability
    primitive for dependency / citation / link graphs.  Algorithm:
    coloring / FW-BW label propagation with bounded trim
    (operators/components.py:strongly_connected_components — Orzan
    2004; Slota et al. 2014), every step an equi-join + combinable
    aggregate, every fixpoint detected or raised.  scc_id = min member
    id; output adds the component size.

    Scale design — SUPERNODE AGGREGATION: the graph is the
    category-transition graph (part-bucket pk%1024 → next part-bucket
    within an order's linenumber sequence, kept when the bucket's
    mod-3 tier is non-decreasing — intra-tier links run both ways,
    cross-tier links flow one way, so the condensation is nontrivial
    by construction).  Exactly how production link analysis scales SCC:
    aggregate the item-level stream to a BOUNDED entity graph (domains,
    not pages; categories, not SKUs) with one combinable groupBy — the
    only corpus-sized pass — then iterate on the ≤1024-node supergraph
    whose closure, diameter and round count are bounded at ANY corpus
    size.  (The item-level follows-graph sits near the percolation
    threshold where label propagation needs O(longest-path) rounds —
    measured >40 at sf0.01 — which is the wrong cost profile for a
    per-item graph; aggregation is the designed mitigation, not a
    shortcut.)

    The oracle replays mutual reachability from the recursive-CTE
    transitive closure — O(n·reach) is tractable precisely because the
    supergraph is bounded.

    Ref: scale op beyond the reference — directed-graph SCC for the
    graph-analytics family (SURVEY §2 graph extensions)."""
    from pyspark.sql import Window as W

    from tlcn_oer_lakehouse_spark.operators.components import (
        strongly_connected_components,
    )

    li = load(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        (F.col("l_partkey") % _SCC_BUCKETS).alias("b"),
    )
    w = W.partitionBy("ok").orderBy("ln")
    edges = (
        li.select(F.col("b").alias("u"), F.lead("b").over(w).alias("v"))
        .filter(
            F.col("v").isNotNull()
            & (F.col("u") != F.col("v"))
            & ((F.col("u") % 3) <= (F.col("v") % 3))
        )
        .distinct()
    )
    comp = strongly_connected_components(edges)
    sizes = comp.groupBy("scc_id").agg(F.count(F.lit(1)).alias("scc_size"))
    return (
        comp.join(sizes, "scc_id")
        .select("node", "scc_id", "scc_size")
        .orderBy("node")
    )


SCC_SQL = f"""
WITH RECURSIVE li AS (
  SELECT l_orderkey AS ok, l_linenumber AS ln,
         l_partkey % {_SCC_BUCKETS} AS b
  FROM lineitem
),
nxt AS (
  SELECT b AS u, lead(b) OVER (PARTITION BY ok ORDER BY ln) AS v FROM li
),
edges AS MATERIALIZED (
  SELECT DISTINCT u, v FROM nxt
  WHERE v IS NOT NULL AND u != v AND (u % 3) <= (v % 3)
),
reach(src, dst) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
),
nodes AS (SELECT u AS node FROM edges UNION SELECT v FROM edges),
mutual AS (
  SELECT r1.src AS node, r1.dst AS partner
  FROM reach r1 JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src
),
scc AS (
  SELECT n.node,
         LEAST(n.node, COALESCE(MIN(m.partner), n.node)) AS scc_id
  FROM nodes n LEFT JOIN mutual m ON n.node = m.node
  GROUP BY n.node
),
sizes AS (SELECT scc_id, COUNT(*) AS scc_size FROM scc GROUP BY 1)
SELECT s.node, s.scc_id, z.scc_size
FROM scc s JOIN sizes z USING (scc_id)
ORDER BY s.node
"""


_KCORE_K = 75
_KCORE_ROUNDS = 12  # ≥ measured convergence (10 rounds at sf1.0, 5 at sf0.01, 4 at sf0.001)


def g_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """k-core decomposition (k=75) of the co-purchase graph via
    iterative peeling (operators/components.py:k_core).  At sf0.001 the
    cascade collapses the whole graph (empty core — itself a meaningful
    fixpoint); at sf0.01 it stabilizes at ~1938 of 2000 nodes after 5
    rounds.  The oracle unrolls 8 peeling rounds; because the k-core
    fixpoint is unique and peeling is idempotent at the fixpoint, extra
    unrolled rounds are no-ops and Spark's converge-then-stop loop
    yields the identical node set and degrees.  The Spark loop gets the
    SAME round budget as the oracle's unroll: k_core raises on budget
    exhaustion, so a slower-converging graph fails loudly instead of
    hash-mismatching a pre-fixpoint oracle."""
    from tlcn_oer_lakehouse_spark.operators.components import k_core

    li = (
        load(spark, sf, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, "ok")
        .where(F.col("a.pk") < F.col("b.pk"))
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
    )
    return k_core(pairs, _KCORE_K, max_rounds=_KCORE_ROUNDS).orderBy("node")


def _kcore_oracle() -> str:
    # every CTE is MATERIALIZED: each peeling round references the
    # previous round's edge set twice (endpoint restriction), so
    # inlined CTEs would re-evaluate the whole chain exponentially —
    # and re-open the parquet scan at every leaf
    sql = """
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
pairs AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
e0 AS MATERIALIZED (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs)"""
    prev = "e0"
    for i in range(1, _KCORE_ROUNDS + 1):
        sql += f""",
n{i} AS MATERIALIZED (SELECT u AS node FROM {prev} GROUP BY u HAVING COUNT(*) >= {_KCORE_K}),
e{i} AS MATERIALIZED (SELECT e.u, e.v FROM {prev} e
         JOIN n{i} a ON e.u = a.node JOIN n{i} b ON e.v = b.node)"""
        prev = f"e{i}"
    sql += f"""
SELECT u AS node, COUNT(*) AS core_degree
FROM {prev} GROUP BY u HAVING COUNT(*) >= {_KCORE_K} ORDER BY node"""
    return sql


_LPA_ROUNDS = 4


def g_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007): every node adopts its neighbors' most frequent label each
    round (ties → smallest label), run for a FIXED 4 rounds so the
    deterministic trajectory — not just a fixpoint — is what the oracle
    replays round-for-round.  All-integer (counts + argmax with a total
    tie-break): zero transcendental/float risk, unlike modularity-greedy
    sweeps.  Per round: one symmetric-edge join + one (node, label)
    count + one per-node argmax window — all keyed shuffles, linear in
    edges.  Output: per final community, size and member minimum (the
    community summary a curation pipeline consumes)."""
    from pyspark.sql import Window as W

    li = (
        load(spark, sf, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, "ok")
        .where(F.col("a.pk") < F.col("b.pk"))
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
    )
    from tlcn_oer_lakehouse_spark.operators.components import _symmetric_edges

    # one pass over the co-purchase self-join, not one per orientation
    edges = _symmetric_edges(pairs, "u", "v").localCheckpoint()
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    ).localCheckpoint()
    for _ in range(_LPA_ROUNDS):
        counts = (
            edges.join(labels, edges.v == labels.node)
            .groupBy(F.col("u"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = W.partitionBy("u").orderBy(F.col("cnt").desc(), F.col("label").asc())
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("node"), "label")
            .localCheckpoint()
        )
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"),
             F.min("node").alias("min_member"))
        .select(F.col("label").alias("community"), "n_members", "min_member")
    )


def _lpa_oracle() -> str:
    ctes = [
        """li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)""",
        """pairs AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk)""",
        "edges AS MATERIALIZED (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs)",
        "l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM edges)",
    ]
    for i in range(1, _LPA_ROUNDS + 1):
        ctes.append(f"""c{i} AS MATERIALIZED (
  SELECT e.u, l.label, COUNT(*) AS cnt
  FROM edges e JOIN l{i - 1} l ON e.v = l.node
  GROUP BY e.u, l.label)""")
        ctes.append(f"""l{i} AS MATERIALIZED (
  SELECT u AS node, label FROM (
    SELECT u, label,
           row_number() OVER (PARTITION BY u ORDER BY cnt DESC, label ASC) AS rn
    FROM c{i}) WHERE rn = 1)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT label AS community, COUNT(*) AS n_members, MIN(node) AS min_member
FROM l{_LPA_ROUNDS}
GROUP BY label"""
    )


_LPA_CONV_BUDGET = 10  # ≥ measured fixpoint (5 rounds at sf0.01, 3 at sf0.001)


def g_lpa_converged(spark: SparkSession, sf: str) -> DataFrame:
    """Until-convergence label propagation — the operator a user
    actually reaches for (operators/components.py:label_propagation):
    same per-round update as :func:`g_label_propagation` (most frequent
    neighbor label, ties → smallest) but iterated to the first round
    with zero label changes, raising on budget exhaustion instead of
    returning a mid-trajectory labeling.  The fixed-4-round variant
    provably under-converges on this graph at sf0.01 (fixpoint after 5
    rounds); this query returns the actual fixpoint communities.

    Oracle: unrolls the FULL round budget — at a fixpoint the update
    reproduces itself, so extra unrolled rounds are no-ops and the
    Spark converge-then-stop loop yields the identical labeling; a
    graph needing more rounds than the shared budget raises Spark-side
    (loud) rather than hash-mismatching (silent)."""
    from tlcn_oer_lakehouse_spark.operators.components import label_propagation

    li = (
        load(spark, sf, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, "ok")
        .where(F.col("a.pk") < F.col("b.pk"))
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
    )
    labels = label_propagation(pairs, max_rounds=_LPA_CONV_BUDGET)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"),
             F.min("node").alias("min_member"))
        .select(F.col("label").alias("community"), "n_members", "min_member")
    )


def _lpa_converged_oracle() -> str:
    ctes = [
        """li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)""",
        """pairs AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk)""",
        "edges AS MATERIALIZED (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs)",
        "l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM edges)",
    ]
    for i in range(1, _LPA_CONV_BUDGET + 1):
        ctes.append(f"""c{i} AS MATERIALIZED (
  SELECT e.u, l.label, COUNT(*) AS cnt
  FROM edges e JOIN l{i - 1} l ON e.v = l.node
  GROUP BY e.u, l.label)""")
        ctes.append(f"""l{i} AS MATERIALIZED (
  SELECT u AS node, label FROM (
    SELECT u, label,
           row_number() OVER (PARTITION BY u ORDER BY cnt DESC, label ASC) AS rn
    FROM c{i}) WHERE rn = 1)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT label AS community, COUNT(*) AS n_members, MIN(node) AS min_member
FROM l{_LPA_CONV_BUDGET}
GROUP BY label"""
    )


def g_modularity(spark: SparkSession, sf: str) -> DataFrame:
    """Newman modularity of the brand partition over the co-purchase
    graph: per community c, Q_c = e_c/m − (d_c/2m)² (intra-edge fraction
    minus the degree-null-model expectation).  The partition-quality
    metric every community-detection loop optimizes, computed here as
    three integer aggregates (m, e_c, d_c) + one per-row double formula
    written identically in both engines.  Plan: the pair list joins the
    broadcast part dim twice (brand lookup), then two partial-agg
    groupBys — linear, skew-bounded by the ≤21-pairs-per-order explode."""
    li = (
        load(spark, sf, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, "ok")
        .where(F.col("a.pk") < F.col("b.pk"))
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
    )
    brand = load(spark, sf, "part").select(
        F.col("p_partkey"), F.col("p_brand")
    )
    pb = (
        pairs.join(F.broadcast(brand.withColumnRenamed("p_partkey", "u")
                               .withColumnRenamed("p_brand", "brand_u")), "u")
        .join(F.broadcast(brand.withColumnRenamed("p_partkey", "v")
                          .withColumnRenamed("p_brand", "brand_v")), "v")
        .persist()
    )
    m_total = pb.agg(F.count(F.lit(1)).alias("m"))
    edges_sym = pb.select(
        F.explode(F.array("brand_u", "brand_v")).alias("brand")
    )
    d_c = edges_sym.groupBy("brand").agg(F.count(F.lit(1)).alias("degree_sum"))
    e_c = (
        pb.filter(F.col("brand_u") == F.col("brand_v"))
        .groupBy(F.col("brand_u").alias("brand"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    return (
        d_c.join(e_c, "brand", "left")
        .crossJoin(F.broadcast(m_total))
        .select(
            "brand",
            F.coalesce(F.col("intra_edges"), F.lit(0)).alias("intra_edges"),
            "degree_sum",
            (F.coalesce(F.col("intra_edges"), F.lit(0)).cast("double") / F.col("m")
             - (F.col("degree_sum").cast("double") / (F.lit(2) * F.col("m")))
             * (F.col("degree_sum").cast("double") / (F.lit(2) * F.col("m")))
             ).alias("q_contrib"),
        )
    )


# Audit-panel bound for the recall eval's quadratic ground-truth side:
# base doc ids < _RECALL_PANEL (and their +10M/+20M augmented twins stay
# in-panel via the modulo).  5k docs at sf0.1 — the panel covers every
# corpus the driver gates on; at sf1.0/sf10 it caps the truth join at a
# fixed ~24k-doc workload while the banded index under test stays the
# production path.
_RECALL_PANEL = 20_000


def dedup_recall_eval(spark: SparkSession, sf: str) -> DataFrame:
    """LSH index quality eval — the dedup twin of ann_recall_eval: per
    exact-Jaccard bucket, how many true near-dup pairs (exact verify
    over ALL pairs sharing ≥1 shingle — the ground truth) does the
    banded MinHash index also surface?  The eval every production dedup
    deployment runs after choosing (num_hashes, bands): banding trades
    recall near the threshold for pruning, and this table shows exactly
    where (recall ≈ 1 in high buckets, degrading toward 0.5).

    Verification uses the same threshold on both sides, so the banded
    set is a SUBSET of the truth set (banding only prunes candidates) —
    precision is 1.0 by construction and recall is the one number that
    varies; a property test pins the subset claim.

    100 TB note: the exact shared-shingle side is O(Σ df(shingle)²) —
    the quadratic path LSH exists to avoid — so the eval runs on a
    FIXED AUDIT PANEL of {_RECALL_PANEL:,} base doc ids (plus their
    augmented twins; the panel covers the whole corpus at sf ≤ 0.1, so
    the quadratic truth work is bounded at any corpus size — a fixed
    panel, not a sampling rate, per the determinism contract; the r10
    sf10 probe watched the UNBOUNDED truth join GC-wedge at 550k docs,
    the round's decade kill).  Grading the panel grades the production
    index: a MinHash signature is a per-document function and band
    collisions are pairwise, so the panel-restricted banded pipeline
    emits exactly the full index's hit set restricted to panel pairs.
    Buckets are floor(10·j)/10 on IEEE-identical doubles, so bucket
    edges replay exactly."""
    from tlcn_oer_lakehouse_spark.operators.dedup import (
        minhash_doc_arrays,
        minhash_near_duplicates,
    )

    corpus = augmented_corpus(spark, sf).filter(
        (F.col("doc_id") % COPY_OFFSET) < _RECALL_PANEL
    )
    # ONE persisted per-doc distinct-shingle array frame shared by the
    # truth side (candidate self-join + array-intersect verify) AND the
    # banded index under test (handed in via doc_arrays) — r11 array
    # form: the panel tokenize runs once, and the truth verify moves
    # one array row per pair side instead of ~|A| exploded rows.
    base = minhash_doc_arrays(corpus, "doc_id", "text", 3).persist()
    docs_arr = base.filter(F.size("tok_arr") > 0).select(
        "doc", "tok_arr", F.size("tok_arr").alias("n_shingles")
    )
    sh = docs_arr.select("doc", F.explode("tok_arr").alias("shingle"))
    # The intersection size falls out of the SAME shared-shingle join
    # that generates candidates (r11): shingles are distinct per doc, so
    # count-per-pair IS |A∩B| — the former distinct + two pair-keyed
    # array-fetch joins + map-side intersect re-shuffled every candidate
    # pair (with a ~|A|-long array on each side) for a number this join
    # already knows.  Sizes attach via broadcast: the frame is bounded
    # by the FIXED audit panel, never the corpus.
    pair_counts = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .where(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = docs_arr.select("doc", "n_shingles")
    truth = (
        pair_counts.join(
            F.broadcast(
                sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("na"))
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("nb"))
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )
    pred = minhash_near_duplicates(
        corpus, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4,
        threshold=0.5, doc_arrays=base,
    ).select("doc_a", "doc_b", F.lit(1).alias("hit"))
    return (
        truth.join(pred, ["doc_a", "doc_b"], "left")
        .select(
            (F.floor(F.col("jaccard") * 10) / 10).alias("jacc_bucket"),
            F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
        )
        .groupBy("jacc_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.sum("hit").cast("long").alias("n_pred"),
            F.round(
                F.sum("hit").cast("double") / F.count(F.lit(1)), 9
            ).alias("recall"),
        )
        .orderBy("jacc_bucket")
    )


def _dedup_recall_oracle() -> str:
    # the truth side carries its own shingle CTE (sh_t): `pred` nests
    # the full minhash oracle whose `sh` is MATERIALIZED, and DuckDB
    # rejects shadowing a MATERIALIZED name ("Duplicate alias") where
    # plain CTE shadowing was allowed
    panel = f"doc_id % {COPY_OFFSET} < {_RECALL_PANEL}"
    return f"""
WITH {CORPUS_SQL.strip()},
toks_t AS (SELECT doc_id AS doc, string_split(text, ' ') AS t FROM corpus
           WHERE {panel}),
sh_t AS MATERIALIZED (
  SELECT DISTINCT doc, array_to_string(t[i:i+2], ' ') AS shingle
  FROM (SELECT doc, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks_t)
),
truth_cands AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM sh_t a JOIN sh_t b ON a.shingle = b.shingle AND a.doc < b.doc
),
sizes AS (SELECT doc, COUNT(*) AS n FROM sh_t GROUP BY doc),
t_inter AS (
  SELECT doc_a, doc_b, COUNT(*) AS n_inter
  FROM truth_cands
  JOIN sh_t sa ON sa.doc = truth_cands.doc_a
  JOIN sh_t sb ON sb.doc = truth_cands.doc_b AND sb.shingle = sa.shingle
  GROUP BY doc_a, doc_b
),
truth AS (
  SELECT i.doc_a, i.doc_b, i.n_inter / (na.n + nb.n - i.n_inter) AS jaccard
  FROM t_inter i
  JOIN sizes na ON na.doc = i.doc_a
  JOIN sizes nb ON nb.doc = i.doc_b
  WHERE i.n_inter / (na.n + nb.n - i.n_inter) >= 0.5
),
pred AS ({_minhash_oracle(
    extra_where=(
        f" AND i.doc_a % {COPY_OFFSET} < {_RECALL_PANEL}"
        f" AND i.doc_b % {COPY_OFFSET} < {_RECALL_PANEL}"
    )
).strip()})
SELECT floor(t.jaccard * 10) / 10 AS jacc_bucket,
       COUNT(*) AS n_truth,
       CAST(SUM(CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
       round(SUM(CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 9) AS recall
FROM truth t
LEFT JOIN pred p ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
GROUP BY 1
ORDER BY jacc_bucket
"""


_JACC_NBR_CAP = 1000  # wedge-center degree cap (see docstring)
_JACC_NBR_TOPK = 100


def g_jaccard_neighbors(spark: SparkSession, sf: str) -> DataFrame:
    """Neighbor-set Jaccard similarity — the link-prediction / related-
    items primitive (Liben-Nowell & Kleinberg 2003): for node pairs
    sharing ≥2 common neighbors, J(u,v) = |N(u)∩N(v)| / |N(u)∪N(v)|,
    top-100 by (jaccard, u, v).  Common neighbors come from per-center
    wedge enumeration — each center's sorted neighbor array emits its
    C(d,2) i<j combinations (r11; see inline note) — intersection/union
    from the degree table, all-integer until one division rounded to
    9 dp.

    100 TB design: wedge volume is Σ_w deg(w)², so hub centers are the
    skew-killer — centers with degree > {cap} are EXCLUDED from wedge
    generation (the df-cap convention used by the contamination check;
    a part co-ordered with thousands of others contributes noise, not
    similarity signal — the standard truncation in similarity mining).
    The cap is inert at test scale (max co-purchase degree ≪ 1000) and
    replayed identically by the oracle, so it is part of the operator's
    DEFINITION, not a hidden approximation.  Final top-k is
    TakeOrderedAndProject (k per partition → k global), never a full
    sort."""
    li = (
        load(spark, sf, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, "ok")
        .where(F.col("a.pk") < F.col("b.pk"))
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
    )
    # ARRAY-COMBINATION wedge generation (r11): one groupBy collects
    # each center's sorted neighbor array (checkpointed — it is ALSO the
    # degree table, so the former separate deg aggregate and the edges
    # checkpoint both fold into this single frame), and each center's
    # wedges are emitted as the C(d,2) i<j combinations of that array.
    # The former e1⋈e2 self-join generated d² rows per center and
    # filtered half AFTER the join; the combination explode generates
    # exactly C(d,2) and skips the wedge join machinery entirely —
    # interleaved A/B at sf0.1: 77-83 s → 43-44 s (1.8×), identical
    # (count, Σcommon, Σ(nu+nv)) checksums.  The groupBy(nu, nv) count
    # aggregate — the operator's fundamental Σdeg² shuffle — is
    # unchanged, as are the cap semantics (degree = array size).
    from tlcn_oer_lakehouse_spark.functions.ids import packed_pairs, unpacked_pair
    from tlcn_oer_lakehouse_spark.operators.components import _symmetric_edges

    nbrs = (
        _symmetric_edges(pairs, "u", "v")
        .groupBy("u")
        .agg(F.array_sort(F.collect_list("v")).alias("ns"))
        .localCheckpoint()
    )
    deg = nbrs.select("u", F.size("ns").alias("d"))
    # r12: the wedge pair is PACKED into one long (functions/ids.py:
    # packed_pairs — partkeys are < 2^31 below SF ≈ 10⁴, far past any
    # realizable corpus here, and a larger one fails the query) through
    # the Σdeg² groupBy, and unpacked after the common≥2
    # filter.  A single 8-byte key halves the aggregate's key bytes and
    # hashes as one long instead of a struct (guide §2.3 narrow types):
    # interleaved A/B at sf1.0 — where the wedge aggregate dominates —
    # min 180.6 → 145.4 s (1.24×), both alternation cycles agreeing,
    # identical top-100 checksums at sf0.1 AND sf1.0.  (sf0.1 is a wash:
    # 35.4 vs 35.9 min — scheduler-bound.  Compressed shuffle bytes only
    # drop ~5% — lz4 already squeezed the struct — the win is aggregate
    # hashing, not wire bytes.)
    combos = nbrs.filter(F.size("ns") <= _JACC_NBR_CAP).select(
        F.explode(packed_pairs("ns")).alias("p")
    )
    nu, nv = unpacked_pair("p")
    common = (
        combos.groupBy("p")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= 2)
        .select(nu.alias("nu"), nv.alias("nv"), "common")
    )
    du = deg.select(F.col("u").alias("nu"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("nv"), F.col("d").alias("dv"))
    return (
        common.join(du, "nu").join(dv, "nv")
        .select(
            F.col("nu").alias("u"),
            F.col("nv").alias("v"),
            "common",
            (F.col("du") + F.col("dv") - F.col("common")).alias("union_size"),
            F.round(
                F.col("common")
                / (F.col("du") + F.col("dv") - F.col("common")).cast("double"),
                9,
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "u", "v")
        .limit(_JACC_NBR_TOPK)
    )


JACCARD_NEIGHBORS_SQL = f"""
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
pairs AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
edges AS MATERIALIZED (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
deg AS MATERIALIZED (SELECT u AS node, COUNT(*) AS d FROM edges GROUP BY 1),
centers AS (SELECT node AS w FROM deg WHERE d <= {_JACC_NBR_CAP}),
common AS (
  SELECT e1.v AS u, e2.v AS v, COUNT(*) AS common
  FROM edges e1
  JOIN centers c ON e1.u = c.w
  JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
  GROUP BY e1.v, e2.v
  HAVING COUNT(*) >= 2
)
SELECT c.u, c.v, c.common,
       du.d + dv.d - c.common AS union_size,
       round(c.common / CAST(du.d + dv.d - c.common AS DOUBLE), 9) AS jaccard
FROM common c JOIN deg du ON c.u = du.node JOIN deg dv ON c.v = dv.node
ORDER BY jaccard DESC, c.u, c.v
LIMIT {_JACC_NBR_TOPK}
"""


MODULARITY_SQL = """
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
pairs AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
pb AS MATERIALIZED (
  SELECT p.u, p.v, bu.p_brand AS brand_u, bv.p_brand AS brand_v
  FROM pairs p
  JOIN part bu ON p.u = bu.p_partkey
  JOIN part bv ON p.v = bv.p_partkey
),
m_total AS (SELECT COUNT(*) AS m FROM pb),
d_c AS (
  SELECT brand, COUNT(*) AS degree_sum
  FROM (SELECT brand_u AS brand FROM pb UNION ALL SELECT brand_v FROM pb)
  GROUP BY brand
),
e_c AS (
  SELECT brand_u AS brand, COUNT(*) AS intra_edges
  FROM pb WHERE brand_u = brand_v GROUP BY brand_u
)
SELECT d_c.brand,
       COALESCE(e_c.intra_edges, 0) AS intra_edges,
       d_c.degree_sum,
       CAST(COALESCE(e_c.intra_edges, 0) AS DOUBLE) / m
         - (CAST(d_c.degree_sum AS DOUBLE) / (2 * m))
         * (CAST(d_c.degree_sum AS DOUBLE) / (2 * m)) AS q_contrib
FROM d_c LEFT JOIN e_c ON d_c.brand = e_c.brand CROSS JOIN m_total
"""


TRIANGLE_SQL = """
WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
pairs AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
edges AS MATERIALIZED (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
deg AS MATERIALIZED (SELECT u AS node, COUNT(*) AS d FROM edges GROUP BY 1),
ori AS MATERIALIZED (
  SELECT CASE WHEN (da.d, p.u) < (db.d, p.v) THEN p.u ELSE p.v END AS s,
         CASE WHEN (da.d, p.u) < (db.d, p.v) THEN p.v ELSE p.u END AS t,
         CASE WHEN (da.d, p.u) < (db.d, p.v) THEN db.d ELSE da.d END AS dt
  FROM pairs p JOIN deg da ON p.u = da.node JOIN deg db ON p.v = db.node
),
tri AS (
  SELECT e1.s AS a, e1.t AS b, e2.t AS c
  FROM ori e1
  JOIN ori e2 ON e1.s = e2.s AND (e1.dt, e1.t) < (e2.dt, e2.t)
  JOIN ori e3 ON e3.s = e1.t AND e3.t = e2.t
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, COUNT(*) AS n_triangles
FROM corners GROUP BY node ORDER BY node
"""


def g_pointer_doubling_depth(spark: SparkSession, sf: str) -> DataFrame:
    """Rooted-tree depth + root resolution by POINTER DOUBLING — the
    O(log depth) iterative-graph primitive (vs label propagation's
    O(depth) rounds): every node starts pointing at its parent with
    distance 1, and each round rewires ``anc ← anc[anc]``,
    ``dist += dist[anc]`` via ONE keyed self-join, halving the longest
    unresolved chain; at 100 TB a depth-10⁶ lineage chain needs only 20
    rounds where step-by-step traversal needs 10⁶.

    The loop runs UNTIL every node's ancestor is a root (the doubling
    update is idempotent once it is — roots carry dist 0), with the
    raise-on-budget-exhaustion convention of the other iterative graph
    operators.  A fixed round count calibrated at one scale factor is
    exactly the silent-wrong-result trap: the original 3-round form was
    correct for sf0.01's max depth 6 but returned pre-fixpoint
    ancestors for sf0.1's depth-9 chains (node 3⁹ = 19683 reported
    root 3, depth 8 instead of root 1, depth 9) — caught by the sf0.1
    strict-parity sweep, round 5.  The unresolved count is an O(1)
    driver scalar per round, and 30 rounds cover depth 2³⁰.

    The forest is derived from ``part``: parent(p) = p // 3, roots are
    p ≤ 2.  The oracle recomputes depths with a recursive CTE — a
    genuinely different algorithm (sequential descent) agreeing on the
    same answer at any depth."""
    parts = load(spark, sf, "part").select(F.col("p_partkey").alias("node"))
    state = parts.select(
        "node",
        F.when(F.col("node") <= 2, F.col("node"))
        .otherwise(F.expr("node div 3")).alias("anc"),
        F.when(F.col("node") <= 2, F.lit(0)).otherwise(F.lit(1)).alias("dist"),
    ).localCheckpoint()
    max_rounds = 30
    for _ in range(max_rounds):
        if state.filter(F.col("anc") > 2).count() == 0:
            break
        hop = state.select(
            F.col("node").alias("anc"),
            F.col("anc").alias("anc2"),
            F.col("dist").alias("d2"),
        )
        state = (
            state.join(hop, "anc")
            .select(
                "node",
                F.col("anc2").alias("anc"),
                (F.col("dist") + F.col("d2")).alias("dist"),
            )
            .localCheckpoint()
        )
    else:
        raise RuntimeError(
            f"pointer doubling did not resolve all chains in {max_rounds} "
            "rounds — the forest depth exceeds 2^30, which this budget "
            "was not sized for"
        )
    return state.select(
        "node", F.col("anc").alias("root"), F.col("dist").alias("depth")
    ).orderBy("node")


POINTER_DOUBLING_SQL = """
WITH RECURSIVE d(node, root, depth) AS (
  SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey <= 2
  UNION ALL
  SELECT c.p_partkey, d.root, d.depth + 1
  FROM part c JOIN d ON c.p_partkey // 3 = d.node
  WHERE c.p_partkey > 2
)
SELECT node, root, depth FROM d ORDER BY node
"""


def _clusters_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_oracle().strip()}),
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(node, r) AS (
  SELECT u AS node, u AS r FROM edges
  UNION
  SELECT e.u AS node, reach.r
  FROM edges e JOIN reach ON e.v = reach.node
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
SELECT MIN(node) AS canonical_id,
       array_to_string(list_sort(list(node)), ',') AS member_ids_csv,
       COUNT(*) AS cluster_size
FROM comp
GROUP BY component
ORDER BY canonical_id
"""


SPECS = [
    QuerySpec("text_stats", text_stats, TEXT_STATS_SQL,
              ref="transformer.py:860 (token count), 310-337 (fingerprint)",
              doc="token/char stats + content fingerprint", tags=("text",)),
    QuerySpec("text_quality_langid", text_quality_langid, _langid_oracle(),
              ref="transformer.py:340-368 (quality), chatbot_api.py:69-89 (lang id)",
              doc="quality score + heuristic language id", tags=("text",)),
    QuerySpec("dedup_exact", dedup_exact, DEDUP_EXACT_SQL,
              ref="transformer.py:310-337 (fingerprint dedup); scale op",
              doc="exact duplicate groups (augmented corpus)", tags=("dedup",)),
    QuerySpec("dedup_minhash_lsh", dedup_minhash_lsh, _minhash_oracle(),
              ref="scale op (SURVEY §7.7); minhash k=16, 4 bands, J>=0.5",
              doc="MinHash+LSH near-dup pairs", tags=("dedup", "bench")),
    QuerySpec("dedup_minhash_incremental", dedup_minhash_incremental,
              _minhash_oracle(extra_where=f" AND (i.doc_a >= {COPY_OFFSET} OR i.doc_b >= {COPY_OFFSET})"),
              ref="scale op: O(delta) ingest-time near-dup vs a standing "
                  "band index; oracle = full-pipeline replay restricted "
                  "to batch-touching pairs",
              doc="incremental MinHash+LSH: batch-vs-corpus near-dup pairs",
              tags=("dedup",)),
    QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard, NGRAM_JACCARD_SQL,
              ref="scale op; exact 3-gram Jaccard via shared-shingle join",
              doc="n-gram Jaccard near-dup pairs", tags=("dedup",)),
    QuerySpec("dedup_prefix_filter", dedup_prefix_filter, PREFIX_FILTER_SQL,
              ref="scale op: EXACT set-similarity join via prefix "
                  "filtering (PPJoin, Xiao et al. WWW'08; Vernica et "
                  "al. SIGMOD'10) — candidates from the df-rarest "
                  "prefix shingles only, provably lossless at τ=0.5; "
                  "oracle is the uncapped all-shared-shingle join",
              doc="exact Jaccard>=0.5 pairs, prefix-filtered candidates",
              tags=("dedup", "bench")),
    QuerySpec("dedup_prefix_incremental", dedup_prefix_incremental,
              PREFIX_INCR_SQL,
              ref="scale op: O(delta) ingest-time EXACT set-similarity "
                  "vs a standing prefix index with a FROZEN global "
                  "token order (df as of the last full build; batch-"
                  "only tokens rank rarest) — exactness holds under "
                  "any fixed total order; oracle = uncapped all-pairs "
                  "Jaccard restricted to batch-touching pairs",
              doc="incremental exact prefix-filter dedup: batch-vs-"
                  "corpus Jaccard>=0.5 pairs",
              tags=("dedup",)),
    QuerySpec("dedup_clusters", dedup_clusters, _clusters_oracle(),
              ref="scale op: near-dup cluster resolution (Kiveris et al. SoCC'14 family)",
              doc="connected components over minhash pairs -> canonical clusters",
              tags=("dedup",)),
    QuerySpec("dedup_clusters_star", dedup_clusters_star, _clusters_oracle(),
              ref="scale op: large-star/small-star components (Kiveris et "
                  "al. SoCC'14) — O(log² n) rounds on ANY topology; same "
                  "recursive-closure oracle as dedup_clusters",
              doc="cluster resolution via alternating star rounds",
              tags=("dedup",)),
    QuerySpec("dedup_soft_sample", dedup_soft_sample, _soft_sample_oracle(),
              ref="scale op: inverse-cluster-size soft dedup "
                  "(duplicate-aware sampling weights, 1/k retention)",
              doc="deterministic 1/cluster_size survival gate over the corpus",
              tags=("dedup",)),
    QuerySpec("g_pagerank", g_pagerank, _pagerank_oracle(),
              ref="scale op: PageRank as iterative DataFrame algebra — "
                  "decimal-exact contribution sums, both iterations replayed",
              doc="2-iteration PageRank over the near-dup pair graph",
              tags=("graph", "dedup")),
    QuerySpec("g_pointer_doubling_depth", g_pointer_doubling_depth,
              POINTER_DOUBLING_SQL,
              ref="scale op: pointer doubling / path halving — O(log d) "
                  "keyed self-joins vs O(d) sequential traversal",
              doc="tree depth + root via 3 doubling rounds; recursive oracle",
              tags=("graph",)),
    QuerySpec("g_triangle_count", g_triangle_count, TRIANGLE_SQL,
              ref="scale op: degree-ordered triangle counting "
                  "(Suri & Vassilvitskii WWW'11) — O(m^1.5) skew-proof wedges",
              doc="per-node triangles on the order co-purchase graph",
              tags=("graph",)),
    QuerySpec("g_scc", g_scc, SCC_SQL,
              ref="scale op: directed-graph strongly connected "
                  "components (coloring/FW-BW label propagation, "
                  "Orzan 2004 / Slota et al. 2014) — mutual-reach "
                  "oracle via recursive-CTE closure",
              doc="SCC assignment + component size over the directed "
                  "part-follows graph",
              tags=("graph",)),
    QuerySpec("g_kcore", g_kcore, _kcore_oracle(),
              ref="scale op: k-core decomposition by iterative peeling; "
                  "unique-fixpoint property makes the unrolled oracle exact",
              doc="k=75 core of the co-purchase graph, per-node core degree",
              tags=("graph",)),
    QuerySpec("g_label_propagation", g_label_propagation, _lpa_oracle(),
              ref="scale op: synchronous label-propagation communities "
                  "(Raghavan et al. 2007), fixed rounds, all-integer — "
                  "full trajectory oracle-replayed",
              doc="LPA community summary after 4 deterministic rounds",
              tags=("graph",)),
    QuerySpec("g_lpa_converged", g_lpa_converged, _lpa_converged_oracle(),
              ref="scale op: LPA run to its fixpoint (zero label changes) "
                  "with a raise on budget exhaustion — the production "
                  "variant of the fixed-round trajectory query",
              doc="LPA community summary at the converged fixpoint",
              tags=("graph",)),
    QuerySpec("dedup_recall_eval", dedup_recall_eval, _dedup_recall_oracle(),
              ref="scale op: LSH index recall grading vs exact shared-"
                  "shingle ground truth — the dedup twin of "
                  "ann_recall_eval; banding's near-threshold recall "
                  "loss measured per jaccard bucket",
              doc="per-bucket recall of banded MinHash vs exact Jaccard",
              tags=("dedup",)),
    QuerySpec("g_jaccard_neighbors", g_jaccard_neighbors,
              JACCARD_NEIGHBORS_SQL,
              ref="scale op: neighbor-set Jaccard link prediction "
                  "(Liben-Nowell & Kleinberg 2003) — wedge self-join with "
                  "a degree-capped center set, all-integer to one division",
              doc="top-100 most-similar co-purchase node pairs by "
                  "common-neighbor Jaccard",
              tags=("graph",)),
    QuerySpec("g_modularity", g_modularity, MODULARITY_SQL,
              ref="scale op: Newman modularity of the brand partition — the "
                  "community-quality objective, three integer aggregates",
              doc="per-community modularity contributions Q_c",
              tags=("graph",)),
    QuerySpec("dedup_simhash", dedup_simhash, _simhash_oracle(),
              ref="scale op; 64-bit simhash, hamming<=6",
              doc="SimHash near-dup pairs", tags=("dedup",)),
]
