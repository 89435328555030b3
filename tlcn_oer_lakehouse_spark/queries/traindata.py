"""Training-data pipeline operators — the corpus-preparation layer a
100 TB pretraining pipeline needs on top of dedup/quality (which live in
``textops``/``dedup``): deterministic splits, stratified sampling,
weighted corpus mixing, token-budget sharding, vocabulary coverage, and
train→test contamination detection.

Everything is hash-deterministic (md5-prefix integers, portable across
engines) — no ``rand()``, so results are reproducible run-to-run and
hash-verifiable against the DuckDB oracle.  That is not a test
convenience but the production property: resumable pipelines must
re-derive identical splits/samples after partial failure.

Scale design:
- split/sample/mix are map-only column expressions — zero shuffle; they
  run at scan speed and compose with partition pruning.
- token-budget sharding ships in two forms: the global-order window
  (correctness oracle) and the 100 TB form —
  :func:`token_budget_shards_scalable` — a two-phase distributed prefix
  sum (range partition → local window → broadcast partition offsets)
  that never collapses the corpus onto one partition.
- contamination joins train→test on shingle hash — bucket-sized
  equi-join, never all-pairs (same topology as minhash banding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.functions.text import shingles, token_count, tokens
from tlcn_oer_lakehouse_spark.queries.base import (
    QuerySpec,
    load,
    parquet_num_rows as _parquet_num_rows,
    prefix_sum_partitions,
)


def _bucket(c: F.Column, mod: int) -> F.Column:
    """Deterministic uniform bucket in [0, mod): md5-prefix integer of the
    stringified column — the portable engine-agnostic hash."""
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long") % mod
    )


def _bucket_sql(expr: str, mod: int) -> str:
    return f"CAST('0x' || substring(md5(CAST({expr} AS VARCHAR)), 1, 8) AS BIGINT) % {mod}"


def train_test_split(spark: SparkSession, sf: str) -> DataFrame:
    """80/10/10 train/val/test split keyed on doc_id hash, summarized per
    (split, lang).  Map-only; the same expression at 100 TB never
    shuffles and survives re-runs bit-identically."""
    docs = load(spark, sf, "documents")
    b = _bucket(F.col("doc_id"), 100)
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("split", "lang")
    )


SPLIT_SQL = f"""
SELECT CASE WHEN {_bucket_sql('doc_id', 100)} < 80 THEN 'train'
            WHEN {_bucket_sql('doc_id', 100)} < 90 THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1, 2
ORDER BY split, lang
"""


def stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-language stratified sample: languages are kept at
    different rates (en 20%, others 50%) via a hash gate keyed on
    (lang, doc_id) so rates are independent across strata."""
    docs = load(spark, sf, "documents")
    gate = _bucket(F.concat_ws("|", F.col("lang"), F.col("doc_id")), 100)
    rate = F.when(F.col("lang") == "en", 20).otherwise(50)
    return (
        docs.filter(gate < rate)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


STRATIFIED_SQL = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {_bucket_sql("lang || '|' || CAST(doc_id AS VARCHAR)", 100)}
      < (CASE WHEN lang = 'en' THEN 20 ELSE 50 END)
ORDER BY doc_id
"""


def corpus_mixing(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted epoch mixing: high-quality sources (src0-src4) repeat for
    2 epochs, the rest for 1 — the static-weight corpus mixture of a
    pretraining run, expressed as explode(sequence(1, weight)).  Output
    is the per-source epoch manifest."""
    docs = load(spark, sf, "documents")
    weight = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4"), 2
    ).otherwise(1)
    exploded = docs.select(
        "doc_id", "source", F.explode(F.sequence(F.lit(1), weight)).alias("epoch")
    )
    return (
        exploded.groupBy("source", "epoch")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "epoch")
    )


MIXING_SQL = """
SELECT source, epoch, COUNT(*) AS n_docs
FROM (
  SELECT doc_id, source,
         unnest(generate_series(1, CASE WHEN source IN ('src0','src1','src2','src3','src4')
                                        THEN 2 ELSE 1 END)) AS epoch
  FROM documents
)
GROUP BY source, epoch
ORDER BY source, epoch
"""


_FE_HI = ("src0", "src1", "src2", "src3", "src4")


def fractional_epochs(spark: SparkSession, sf: str) -> DataFrame:
    """Fractional-epoch corpus materialization (the UniMax / LLaMA
    data-recipe convention: per-source epoch budgets like "2.5 epochs
    of curated sources, 1.25 of the rest" rather than integer repeats):
    every doc appears floor(e) times, and a DETERMINISTIC md5 hash gate
    on (source, doc_id) selects the frac(e) share that gets the final
    partial epoch — re-runs pick the same docs, no RNG, no sampling
    shuffle.  High-quality sources (src0-4) get e=2.5; the rest e=1.25.
    Output is the per-(source, epoch) manifest with the fill ratio the
    sampler audits (epoch_fill ≈ 1.0 for full epochs, ≈ frac(e) for the
    partial one).

    Scale shape: map-only explode (≤3× row fan-out) + one combinable
    groupBy; the per-source base counts broadcast back.  Zero windows,
    zero corpus-sized sorts — the same plan at 100 TB.

    Ref: scale op beyond the reference — pretraining mixture
    materialization with fractional epoch budgets (complements
    td_corpus_mixing's integer epochs and td_temperature_mixing's
    share computation)."""
    docs = load(spark, sf, "documents").select("doc_id", "source")
    hi = F.col("source").isin(*_FE_HI)
    full = F.when(hi, 2).otherwise(1)
    gate_pct = F.when(hi, 50).otherwise(25)  # frac(e)·100
    epochs = docs.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), full)).alias("epoch"),
    ).withColumn("epoch", F.col("epoch").cast("long"))
    key = F.concat_ws("|", F.col("source"), F.col("doc_id").cast("string"))
    frac = docs.filter(_bucket(key, 100) < gate_pct).select(
        "doc_id", "source", (full + 1).cast("long").alias("epoch")
    )
    man = (
        epochs.unionByName(frac)
        .groupBy("source", "epoch")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    base = docs.groupBy("source").agg(F.count(F.lit(1)).alias("base_docs"))
    return (
        man.join(F.broadcast(base), "source")
        .select(
            "source",
            "epoch",
            "n_docs",
            "base_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("base_docs"), 9
            ).alias("epoch_fill"),
        )
        .orderBy("source", "epoch")
    )


_FE_IN = ", ".join(f"'{s}'" for s in _FE_HI)

FRACTIONAL_EPOCHS_SQL = f"""
WITH docs AS (SELECT doc_id, source FROM documents),
epochs AS (
  SELECT doc_id, source,
         CAST(unnest(generate_series(1, CASE WHEN source IN ({_FE_IN})
                                            THEN 2 ELSE 1 END)) AS BIGINT) AS epoch
  FROM docs
),
frac AS (
  SELECT doc_id, source,
         CAST(CASE WHEN source IN ({_FE_IN}) THEN 3 ELSE 2 END AS BIGINT) AS epoch
  FROM docs
  WHERE {_bucket_sql("source || '|' || CAST(doc_id AS VARCHAR)", 100)}
        < CASE WHEN source IN ({_FE_IN}) THEN 50 ELSE 25 END
),
man AS (
  SELECT source, epoch, COUNT(*) AS n_docs
  FROM (SELECT * FROM epochs UNION ALL SELECT * FROM frac)
  GROUP BY 1, 2
),
base AS (SELECT source, COUNT(*) AS base_docs FROM docs GROUP BY 1)
SELECT m.source, m.epoch, m.n_docs, b.base_docs,
       round(CAST(m.n_docs AS DOUBLE) / b.base_docs, 9) AS epoch_fill
FROM man m JOIN base b USING (source)
ORDER BY source, epoch
"""


def temperature_mixing(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled corpus mixture (mT5 / UNIMAX family, α=0.5):
    sampling share q_i ∝ p_i^α flattens the natural source distribution
    so low-resource sources are upsampled — per source: natural share,
    temperature share, and the resulting oversample factor q/p.

    Determinism contract: ``sqrt`` is correctly-rounded IEEE-754 in
    both engines; the denominator Σ√n_i goes through a DECIMAL(38,9)
    cast per term (both engines round-to-nearest at digit 9 of the
    identical double) and an EXACT decimal sum — a bare double SUM()
    would be partition-order-dependent, the same reason every additive
    double aggregate in this repo is decimal-cast (base.py docstring).
    Plan: one groupBy(source) → a full-frame window over the tiny
    source table; corpus-linear, map-side combined."""
    per = (
        load(spark, sf, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = F.sum("n_docs").over(wall)
    denom = (
        F.sum(F.sqrt(F.col("n_docs")).cast("decimal(38,9)"))
        .over(wall)
        .cast("double")
    )
    p_nat = F.col("n_docs") / tot
    p_temp = F.sqrt(F.col("n_docs")) / denom
    return per.select(
        "source",
        "n_docs",
        F.round(p_nat, 9).alias("p_natural"),
        F.round(p_temp, 9).alias("p_temperature"),
        F.round(p_temp / p_nat, 9).alias("oversample_factor"),
    ).orderBy("source")


TEMPERATURE_SQL = """
WITH per AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
win AS (
  SELECT source, n_docs,
         CAST(SUM(n_docs) OVER () AS BIGINT) AS tot,
         CAST(SUM(CAST(sqrt(n_docs) AS DECIMAL(38,9))) OVER () AS DOUBLE) AS denom
  FROM per
)
SELECT source, n_docs,
       round(n_docs / tot, 9) AS p_natural,
       round(sqrt(n_docs) / denom, 9) AS p_temperature,
       round((sqrt(n_docs) / denom) / (n_docs / tot), 9) AS oversample_factor
FROM win
ORDER BY source
"""


def token_budget_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Shard assignment by cumulative token budget (5,000 tokens/shard):
    prefix-sum window over doc_id order, shard = floor(cumsum / budget).
    The global-order correctness oracle for the per-partition variant
    used at scale (sort within source/date partition)."""
    budget = 5000
    docs = load(spark, sf, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        docs.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn(
            "shard_id", ((F.col("cum_tokens") - 1) / budget).cast("long")
        )
        .select("doc_id", "n_tokens", "cum_tokens", "shard_id")
        .orderBy("doc_id")
    )


SHARDS_SQL = """
SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST(floor((cum_tokens - 1) / 5000) AS BIGINT) AS shard_id
FROM (
  SELECT doc_id,
         len(regexp_extract_all(text, '\\w+')) AS n_tokens,
         SUM(len(regexp_extract_all(text, '\\w+')))
           OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM documents
)
ORDER BY doc_id
"""


def token_budget_shards_scalable(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB form of :func:`token_budget_shards`: a global prefix sum
    WITHOUT a global-order window (which moves the whole corpus to one
    partition — the ``WindowExec: No Partition Defined`` death sentence).

    Two-phase distributed scan:

    1. range-partition by ``doc_id`` (contiguous key ranges → partition
       index order == key order), prefix-sum *within* each partition
       (``Window.partitionBy(pid)`` — fully parallel);
    2. per-partition totals collected to the driver (one row per
       partition, not per record), turned into exclusive offsets, and
       broadcast back; global cumsum = local cumsum + partition offset.

    Registered against the same DuckDB oracle as the global-window
    variant — the equivalence proof is the parity check itself."""
    budget = 5000
    docs = load(spark, sf, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    parts = (
        docs.repartitionByRange(prefix_sum_partitions(spark), "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    totals = parts.groupBy("pid").agg(F.sum("n_tokens").alias("part_total")).collect()
    running = 0
    offset_rows = []
    for row in sorted(totals, key=lambda r: r.pid):
        offset_rows.append((row.pid, running))
        running += row.part_total
    offsets = spark.createDataFrame(offset_rows, "pid INT, part_offset LONG")
    w = Window.partitionBy("pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        parts.withColumn("local_cum", F.sum("n_tokens").over(w))
        .join(F.broadcast(offsets), "pid")
        .withColumn("cum_tokens", F.col("local_cum") + F.col("part_offset"))
        .withColumn("shard_id", ((F.col("cum_tokens") - 1) / budget).cast("long"))
        .select("doc_id", "n_tokens", "cum_tokens", "shard_id")
        .orderBy("doc_id")
    )


def vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 vocabulary terms with cumulative corpus-coverage fraction —
    the tokenizer-vocabulary sizing curve.  Term counts aggregate
    map-side; the cumulative window runs over only the top-k rows."""
    docs = load(spark, sf, "documents")
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    total = counts.agg(F.sum("tf").alias("total_tf"))
    top = (
        counts.orderBy(F.col("tf").desc(), F.col("term").asc())
        .limit(20)
        .crossJoin(F.broadcast(total))
    )
    w = Window.orderBy(F.col("tf").desc(), F.col("term").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return top.select(
        "term",
        "tf",
        F.round(
            F.sum("tf").over(w).cast("double") / F.col("total_tf"), 9
        ).alias("cum_coverage"),
    ).orderBy(F.col("tf").desc(), F.col("term").asc())


VOCAB_SQL = """
WITH counts AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
),
agg AS (SELECT term, COUNT(*) AS tf FROM counts GROUP BY term),
total AS (SELECT SUM(tf) AS total_tf FROM agg),
top AS (SELECT term, tf FROM agg ORDER BY tf DESC, term ASC LIMIT 20)
SELECT term, tf,
       round(CAST(SUM(tf) OVER (ORDER BY tf DESC, term ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / total_tf, 9) AS cum_coverage
FROM top, total
ORDER BY tf DESC, term ASC
"""


def _split_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, is_train, shingle) rows for the contamination pair —
    every train/test doc's distinct 5-gram shingles, keyed by
    ``xxhash64``.

    Shape (r12, 4.1×/3.3× interleaved at sf0.1 vs the r7 inline form):

    - the tokenize (``split(trim(regexp_replace(lower(text))))``) is
      STAGED into its own projection — inline it appeared 3× textually
      inside the generator expression and interpreted evaluation has no
      common-subexpression elimination, so it ran up to 3× per row
      (the chunk_token_windows lesson, guide §4.1);
    - ``xxhash64`` moved OUT of the per-element ``transform`` lambda
      (higher-order lambdas evaluate interpreted, the minhash-v1
      lesson) to a codegen'd projection over the exploded string;
    - the generator child stays an EXPRESSION (``array_distinct(
      shingles(__toks))``), never a staged bare column:
      InferFiltersFromGenerate skips non-cheap generator children, but
      fires on attributes and the pushed size>0 filter then substitutes
      the whole tokenize through the staging projection — measured 3×
      SLOWER (the match_subjects lesson).

    Hash-key semantics unchanged: distinct is on shingle STRINGS, the
    join/group key is the 64-bit hash (collision argument in
    ``contamination_check``'s docstring)."""
    b = _bucket(F.col("doc_id"), 100)
    staged = docs.filter((b < 80) | (b >= 90)).select(
        "doc_id",
        (b < 80).alias("is_train"),
        tokens(F.col("text")).alias("__toks"),
    )
    return staged.select(
        "doc_id",
        "is_train",
        F.explode(F.array_distinct(shingles(F.col("__toks"), 5))).alias("__sh"),
    ).select("doc_id", "is_train", F.xxhash64("__sh").alias("shingle"))


def contamination_check(spark: SparkSession, sf: str) -> DataFrame:
    """Train→test contamination: for each test doc (hash split as in
    train_test_split), how many of its distinct 5-gram shingles also
    appear in any train doc.  Equi-join on shingle — bucket-sized like
    minhash banding, never all-pairs.

    The join/group key is ``xxhash64(shingle)`` (a long), not the
    ~50-byte 5-gram string: the shingle never surfaces in the output
    (only per-doc counts do), so the only observable effect of hashing
    is a 64-bit collision merging two distinct shingles — p ≈ n²/2⁶⁵,
    ~10⁻⁶ even at 10⁷ distinct shingles, and deterministic when it does
    happen.  Shuffling 8-byte keys instead of strings measured ~25%
    faster end-to-end at sf0.1 (3.9s vs 5.2s same-session).  The SQL
    oracle keeps the exact string join — it IS the collision-free
    oracle.  At 100 TB the train side additionally becomes a
    bloom-filter or bucketed table."""
    max_df = 1000  # skew guard: a shingle appearing in >1000 TRAIN docs
    # is boilerplate, not leakage — it stops counting as contamination.
    # Mirrored in the SQL oracle, so parity holds at any sf.
    docs = load(spark, sf, "documents")
    # Deliberately NOT persisted: materializing the exploded shingle
    # table costs more than re-running the codegen'd tokenize+shingle
    # scan for its two consumers (measured 2.4x slower cold at sf0.1).
    with_split = _split_shingles(docs)
    # The cap rides the SAME aggregation that builds the train membership
    # set: train shingles group to (shingle, df_train), the df>K filter
    # drops stop-phrases there, and the test side left-joins unchanged —
    # so the guard adds no extra pass over the exploded shingle table,
    # the join stays 1:≤1 per shingle, and n_shingles still counts every
    # test shingle (only the *contaminated* flag is df-capped).
    train = (
        with_split.filter(F.col("is_train"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_train"))
        .filter(F.col("df_train") <= max_df)
        .select("shingle", F.lit(1).alias("hit"))
    )
    test = with_split.filter(~F.col("is_train")).select("doc_id", "shingle")
    return (
        test.join(train, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_shingles"), 9).alias(
                "contamination_rate"
            ),
        )
        .orderBy("doc_id")
    )


CONTAMINATION_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN {_bucket_sql('doc_id', 100)} < 80 THEN 'train'
              WHEN {_bucket_sql('doc_id', 100)} < 90 THEN 'val'
              ELSE 'test' END AS split,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, split, array_to_string(t[i:i+4], ' ') AS shingle
  FROM (SELECT doc_id, split, t, unnest(generate_series(1, len(t) - 4)) AS i FROM toks)
),
train AS (
  SELECT shingle FROM sh WHERE split = 'train'
  GROUP BY shingle HAVING COUNT(*) <= 1000
),
test AS (SELECT doc_id, shingle FROM sh WHERE split = 'test'),
test_sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM test GROUP BY doc_id),
hits AS (
  SELECT doc_id, COUNT(*) AS n_contaminated
  FROM test WHERE shingle IN (SELECT shingle FROM train)
  GROUP BY doc_id
)
SELECT s.doc_id, s.n_shingles,
       COALESCE(h.n_contaminated, 0) AS n_contaminated,
       round(COALESCE(h.n_contaminated, 0) / s.n_shingles, 9) AS contamination_rate
FROM test_sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
ORDER BY s.doc_id
"""


def contamination_check_scalable(spark: SparkSession, sf: str) -> DataFrame:
    """``contamination_check`` with its designed 100 TB first stage
    COMPOSED IN: a real broadcast Bloom bitset gates the test-side
    shingle stream map-side, and only bloom-positive shingles reach the
    exact equi-join confirm.  Output is bit-identical to
    ``contamination_check`` (a Bloom filter has no false negatives, and
    every positive is confirmed exactly) — the oracle IS the plain
    exact computation, so a driver green proves the gate is semantically
    transparent.

    Plan shape vs the ungated query:
    - the df-capped train aggregate is unchanged (and persisted: it
      feeds the Bloom build AND the confirm join);
    - the Bloom is REGISTER-BLOCKED (Putze et al. 2009, "Cache-, hash-
      and space-efficient Bloom filters"): all k=3 probe bits of a key
      live in ONE 64-bit word, so the build is a single map-side-
      combinable ``bit_or`` over train (no row multiplication) and the
      probe is ONE broadcast hash join + a mask compare.  The r7/r8
      classic layout scattered the 3 bits across the whole bitset —
      that cost a 3× ``explode`` on the build side and THREE broadcast
      joins on the data-sized test stream; blocked halves the gated
      stage at sf0.1 and the advantage grows with test volume;
    - zero hash calls are added on either side: the join key is already
      ``xxhash64(shingle)`` — a uniform 64-bit value — so the word
      index is its high bits (``shiftrightunsigned(key, 18) % nwords``)
      and the three in-word positions are its low 3×6 bits.  Build and
      probe derive them with identical expressions, so no false
      negatives by construction;
    - sizing: a blocked layout pays block-occupancy variance, so it
      needs ~2× the bits of a classic Bloom for the same fp rate —
      ~9.6 bits/key (fp ≈ 2-4% at 64/9.6 ≈ 6.7 keys/word) from a STATIC
      cardinality bound (documents parquet footer row count × measured
      ~45 distinct train shingles/doc — no Spark job, so building this
      plan stays lazy; r7 sized from ``train.count()``, which made
      every plan construction run a full train aggregation).  Power-of-
      two rounding absorbs the bound's slack, and mis-sizing only moves
      the fp rate — the exact confirm join keeps the output
      bit-identical regardless;
    - only survivors (true hits + ~2-4% false positives) shuffle into
      the exact confirm join, which at 100 TB is the difference between
      shuffling every test shingle and shuffling the contaminated tail.
      At extreme train cardinality the words table outgrows a broadcast
      (~4M rows per 25M train shingles); the same plan then degrades
      gracefully to a shuffle equi-join on ``word_idx`` — still one
      join, still no row multiplication.
    """
    max_df = 1000
    docs = load(spark, sf, "documents")
    with_split = _split_shingles(docs)
    train = (
        with_split.filter(F.col("is_train"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_train"))
        .filter(F.col("df_train") <= max_df)
        .select("shingle")
        .persist()
    )
    # size the bitset to the data: ~9.6 bits/key (blocked layout, see
    # docstring), with the key cardinality bounded statically from the
    # parquet footer (driver-side metadata read, no Spark job — plan
    # construction must stay lazy; a rebuild reuses the train frame's
    # plan-keyed cache entry, and sweeping callers clear the cache per
    # query).  45 ≈ measured distinct 5-gram shingles/doc
    # (≈50) × 0.8 train fraction × ~0.95 cross-doc dedup, stable across
    # sf0.001–sf10.
    n_train_bound = max(1, 45 * _parquet_num_rows(sf, "documents"))
    mbits = 1 << max(18, (int(9.6 * n_train_bound) - 1).bit_length())
    nwords = mbits // 64

    def _word(col: str) -> F.Column:
        # high bits → word index (the low 18 feed the in-word mask)
        return F.pmod(F.shiftrightunsigned(F.col(col), 18), F.lit(nwords))

    def _mask(col: str) -> F.Column:
        # low 3×6 bits → three in-word positions, OR'd into one mask;
        # identical expression on build and probe ⇒ no false negatives
        return F.expr(
            f"shiftleft(1L, cast({col} & 63 as int))"
            f" | shiftleft(1L, cast(({col} >> 6) & 63 as int))"
            f" | shiftleft(1L, cast(({col} >> 12) & 63 as int))"
        )

    words = (
        train.groupBy(_word("shingle").alias("word_idx"))
        .agg(F.bit_or(_mask("shingle")).alias("bits"))
    )

    test = with_split.filter(~F.col("is_train")).select("doc_id", "shingle")
    sizes = test.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))

    probe = (
        test.withColumn("__w", _word("shingle"))
        .withColumn("__m", _mask("shingle"))
        .join(F.broadcast(words), F.col("__w") == F.col("word_idx"), "left")
    )
    survivors = probe.filter(
        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("__m")) == F.col("__m")
    ).select("doc_id", "shingle")

    hits = (
        survivors.join(train, "shingle", "leftsemi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce(F.col("n_contaminated"), F.lit(0)) / F.col("n_shingles"), 9
            ).alias("contamination_rate"),
        )
        .orderBy("doc_id")
    )


def _exact_substring_core(
    spark: SparkSession, sf: str, keep_one: bool
) -> DataFrame:
    """ExactSubstr-style substring-level dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): mask
    every n-token span whose exact text occurs >= 2 times corpus-wide
    (including within-doc repeats) — the duplication class that
    doc-level dedup (minhash/simhash) cannot see.

    ``keep_one=False`` masks ALL occurrences of a duplicated span
    (conservative cleanup).  ``keep_one=True`` is the paper's §4
    retain-one-canonical refinement: per duplicated span, the first
    occurrence in (doc_id, pos) order survives and only the REST are
    masked — the canonical copy stays in the corpus.

    Plan shape (100 TB story):
    - spans keyed by ``xxhash64(shingle)`` (8-byte shuffle keys; the
      string never surfaces — same collision argument as
      ``contamination_check``, p ≈ n²/2⁶⁵ and deterministic);
    - one groupBy(h) occurrence count, one semi-join back (equi-joins
      only, never all-pairs), one groupBy(doc) collecting the few
      flagged start positions; the keep-one variant extends the SAME
      combinable aggregate with ``min(struct(doc_id, pos0))`` — the
      canonical occurrence as an argmin that partial-aggregates
      map-side — then drops it from the flagged set after the
      semi-equivalent join.  NOT a ``row_number`` window per h: hot
      shingles (stop-phrase 5-grams occur 100k+ times at 500k docs)
      make a per-h window sort skew-bound — the sf10 probe measured it
      wedging on 11 straggler partitions, while count/min combine
      map-side and AQE splits the skewed join;
    - masking itself is a MAP-ONLY higher-order array filter — token j
      is dropped iff some flagged start s has s <= j <= s+n-1 — so the
      data-sized pass stays in whole-stage codegen with zero extra
      shuffle.  At 100 TB the dup-span set additionally lands as a
      side table / bloom filter, exactly like the contamination train
      side."""
    n, min_count = 5, 2
    docs = load(spark, sf, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    # xxhash64 applies AFTER the posexplode (codegen'd projection over the
    # exploded string), not inside a transform() lambda — higher-order
    # lambdas evaluate interpreted (the minhash-v1/contamination lesson,
    # 4.1× there).  The generator child stays an expression, so
    # InferFiltersFromGenerate does not re-stage the tokenize.
    sh = toks.select(
        "doc_id",
        F.posexplode(shingles(F.col("t"), n)).alias("pos0", "__g"),
    ).select("doc_id", "pos0", F.xxhash64("__g").alias("h"))
    if keep_one:
        dup = (
            sh.groupBy("h")
            .agg(
                F.count(F.lit(1)).alias("occ"),
                F.min(F.struct("doc_id", "pos0")).alias("canon"),
            )
            .filter(F.col("occ") >= min_count)
            .select("h", "canon")
        )
        flagged = sh.join(dup, "h").filter(
            ~(
                (F.col("doc_id") == F.col("canon.doc_id"))
                & (F.col("pos0") == F.col("canon.pos0"))
            )
        )
    else:
        dup = (
            sh.groupBy("h")
            .agg(F.count(F.lit(1)).alias("occ"))
            .filter(F.col("occ") >= min_count)
            .select("h")
        )
        flagged = sh.join(dup, "h", "leftsemi")
    starts = flagged.groupBy("doc_id").agg(
        F.collect_set(F.col("pos0") + 1).alias("starts")
    )
    no_starts = F.array().cast("array<int>")
    st = F.coalesce(F.col("starts"), no_starts)
    kept = F.filter(
        F.col("t"),
        lambda tok, i: ~F.exists(
            st, lambda s: (s <= i + 1) & (i + 1 <= s + (n - 1))
        ),
    )
    return (
        toks.join(starts, "doc_id", "left")
        .select(
            "doc_id",
            F.size("t").alias("n_tokens"),
            (F.size("t") - F.size(kept)).alias("n_masked"),
            F.round(
                (F.size("t") - F.size(kept)) / F.size("t"), 9
            ).alias("mask_ratio"),
            F.concat_ws(" ", kept).alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )


def exact_substring_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Conservative ExactSubstr: mask ALL occurrences of duplicated
    spans (see :func:`_exact_substring_core`)."""
    return _exact_substring_core(spark, sf, keep_one=False)


def exact_substring_keepone(spark: SparkSession, sf: str) -> DataFrame:
    """Retain-one-canonical ExactSubstr (Lee et al. 2022 §4): the first
    occurrence per duplicated span in (doc_id, pos) order survives (see
    :func:`_exact_substring_core`)."""
    return _exact_substring_core(spark, sf, keep_one=True)


_NORM_T = "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"

EXACT_SUBSTRING_SQL = f"""
WITH toks AS (SELECT doc_id, {_NORM_T} AS t FROM documents),
sh AS (
  SELECT doc_id, i AS s, array_to_string(t[i:i+4], ' ') AS g
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i FROM toks)
),
dup AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) >= 2),
starts AS (SELECT doc_id, s FROM sh JOIN dup USING (g)),
covered AS (
  SELECT DISTINCT doc_id, s + d AS j
  FROM starts CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS d)
),
tok AS (
  SELECT doc_id, i AS j, t[i] AS tok, len(t) AS n_tokens
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)
),
flags AS (
  SELECT tok.doc_id, tok.j, tok.tok, tok.n_tokens,
         c.j IS NOT NULL AS is_masked
  FROM tok LEFT JOIN covered c ON tok.doc_id = c.doc_id AND tok.j = c.j
)
SELECT doc_id,
       MAX(n_tokens) AS n_tokens,
       CAST(SUM(CASE WHEN is_masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       round(CAST(SUM(CASE WHEN is_masked THEN 1 ELSE 0 END) AS DOUBLE)
             / MAX(n_tokens), 9) AS mask_ratio,
       coalesce(string_agg(CASE WHEN NOT is_masked THEN tok END,
                           ' ' ORDER BY j), '') AS cleaned_text
FROM flags
GROUP BY doc_id
ORDER BY doc_id
"""

# keep-one: identical pipeline, but the flagged-starts set excludes the
# canonical (first in (doc_id, s) order) occurrence of each dup span
EXACT_SUBSTRING_KEEPONE_SQL = f"""
WITH toks AS (SELECT doc_id, {_NORM_T} AS t FROM documents),
sh AS (
  SELECT doc_id, i AS s, array_to_string(t[i:i+4], ' ') AS g
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i FROM toks)
),
ranked AS (
  SELECT doc_id, s,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, s) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS occ
  FROM sh
),
starts AS (SELECT doc_id, s FROM ranked WHERE occ >= 2 AND rn >= 2),
covered AS (
  SELECT DISTINCT doc_id, s + d AS j
  FROM starts CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS d)
),
tok AS (
  SELECT doc_id, i AS j, t[i] AS tok, len(t) AS n_tokens
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)
),
flags AS (
  SELECT tok.doc_id, tok.j, tok.tok, tok.n_tokens,
         c.j IS NOT NULL AS is_masked
  FROM tok LEFT JOIN covered c ON tok.doc_id = c.doc_id AND tok.j = c.j
)
SELECT doc_id,
       MAX(n_tokens) AS n_tokens,
       CAST(SUM(CASE WHEN is_masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       round(CAST(SUM(CASE WHEN is_masked THEN 1 ELSE 0 END) AS DOUBLE)
             / MAX(n_tokens), 9) AS mask_ratio,
       coalesce(string_agg(CASE WHEN NOT is_masked THEN tok END,
                           ' ' ORDER BY j), '') AS cleaned_text
FROM flags
GROUP BY doc_id
ORDER BY doc_id
"""


def data_card(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus data card (Datasheets-for-Datasets shape): the one-row
    dataset summary a pretraining run records next to every corpus
    snapshot — volume, language mix, length distribution, quality, and
    duplication rate, in a single pass plus the dedup aggregate.

    Runs over the augmented corpus (source docs + constructed exact
    copies) so the duplication numbers exercise real duplicate
    structure.  Every statistic is an exact expression with a DuckDB
    twin; at 100 TB the percentiles swap to approx_percentile and the
    distinct-fingerprint count to approx_count_distinct (documented
    trade, same card schema)."""
    from tlcn_oer_lakehouse_spark.functions.text import (
        fingerprint,
        quality_score,
        token_count,
    )
    from tlcn_oer_lakehouse_spark.queries.textops import augmented_corpus

    docs = augmented_corpus(spark, sf).select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.round(quality_score(F.col("text")), 9).alias("quality"),
        fingerprint(F.col("text")).alias("fp"),
    )
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.percentile(F.col("n_tokens"), F.lit(0.5)), 6).alias("p50_tokens"),
        F.round(F.percentile(F.col("n_tokens"), F.lit(0.95)), 6).alias("p95_tokens"),
        F.round(
            F.sum(F.col("quality").cast("decimal(18,9)"))
            .cast("double") / F.count(F.lit(1)), 9,
        ).alias("mean_quality"),
        F.countDistinct("fp").alias("n_distinct_contents"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).cast("long").alias("n_dup_docs"),
        F.round(
            (F.count(F.lit(1)) - F.countDistinct("fp"))
            / F.count(F.lit(1)).cast("double"), 9,
        ).alias("dup_rate"),
    )


_CARD_TEMPLATE = """
WITH __CORPUS__
, stats AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\\w+')) AS n_tokens,
         round(CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) > 0 THEN
             0.4 * least(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) / 100.0, 1.0)
           + 0.3 * (len(list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')))
                    / len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')))
           + 0.3 * (1.0 - len(list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                          t -> list_contains([__STOPS__], t)))
                          / len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')))
         ELSE 0.0 END, 9) AS quality,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM corpus
)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
       round(quantile_cont(n_tokens, 0.95), 6) AS p95_tokens,
       round(CAST(CAST(SUM(CAST(quality AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE) / COUNT(*), 9) AS mean_quality,
       COUNT(DISTINCT fp) AS n_distinct_contents,
       CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_dup_docs,
       round((COUNT(*) - COUNT(DISTINCT fp)) / CAST(COUNT(*) AS DOUBLE), 9) AS dup_rate
FROM stats
"""


def _data_card_sql() -> str:
    from tlcn_oer_lakehouse_spark.functions.text import EN_STOPWORDS
    from tlcn_oer_lakehouse_spark.queries.textops import CORPUS_SQL

    stops = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return _CARD_TEMPLATE.replace("__CORPUS__", CORPUS_SQL.strip()).replace(
        "__STOPS__", stops
    )


def pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing — the training-row materialization step after
    shard assignment: documents are packed into fixed-budget sequences
    (2,048 tokens) in deterministic doc_id order; each output row is one
    training sequence with its member docs, intra-sequence boundary
    offsets (where each doc starts), token total, and a content hash of
    the packed text.

    Emits the boundary/han-hash summary rather than the concatenated
    text so the row stays small and driver-canonicalizer-safe; the
    packed text itself is `concat_ws(' ', ordered member texts)` and is
    reproducible from the members.  The global-order window is the
    correctness oracle; at 100 TB the assignment swaps to the two-phase
    prefix sum of :func:`token_budget_shards_scalable` unchanged."""
    seq_len = 2048
    docs = load(spark, sf, "documents").select(
        "doc_id", "text", token_count(F.col("text")).alias("n_tokens")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    assigned = (
        docs.withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn("seq_id", ((F.col("cum") - 1) / seq_len).cast("long"))
        .withColumn("start_off", (F.col("cum") - F.col("n_tokens")))
    )
    per_seq = assigned.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("seq_tokens"),
        F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("member_ids_csv"),
    )
    # boundary offsets are relative to the sequence start: collect the
    # (doc, start) structs once, then array algebra — no extra shuffle
    # (AQE reuses the seq_id hash partitioning for both aggregates)
    bounds = assigned.groupBy("seq_id").agg(
        F.min("start_off").alias("seq_start"),
        F.array_sort(F.collect_list(F.struct("doc_id", "start_off"))).alias("mem"),
    ).select(
        "seq_id",
        F.concat_ws(
            ",",
            F.transform(F.col("mem"), lambda s: s.getField("start_off") - F.col("seq_start")),
        ).alias("boundaries_csv"),
        F.md5(
            F.concat_ws(" ", F.transform(F.col("mem"), lambda s: s.getField("doc_id")))
        ).alias("pack_key"),
    )
    return (
        per_seq.drop("_ignore")
        .join(bounds, "seq_id")
        .select("seq_id", "n_docs", "seq_tokens", "member_ids_csv",
                "boundaries_csv", "pack_key")
        .orderBy("seq_id")
    )


PACK_SQL = """
WITH assigned AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\\w+')) AS n_tokens,
         SUM(len(regexp_extract_all(text, '\\w+')))
           OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents
),
marked AS (
  SELECT doc_id, n_tokens, cum,
         CAST(floor((cum - 1) / 2048) AS BIGINT) AS seq_id,
         cum - n_tokens AS start_off
  FROM assigned
),
seq_starts AS (SELECT seq_id, MIN(start_off) AS seq_start FROM marked GROUP BY seq_id)
SELECT m.seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(m.n_tokens) AS BIGINT) AS seq_tokens,
       array_to_string(array_agg(m.doc_id ORDER BY m.doc_id), ',') AS member_ids_csv,
       array_to_string(array_agg(m.start_off - s.seq_start ORDER BY m.doc_id), ',') AS boundaries_csv,
       md5(array_to_string(array_agg(m.doc_id ORDER BY m.doc_id), ' ')) AS pack_key
FROM marked m JOIN seq_starts s ON m.seq_id = s.seq_id
GROUP BY m.seq_id
ORDER BY m.seq_id
"""


def td_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis): each doc draws a hash-uniform u ∈ (0, 1] and
    keys on ln(u) / weight (weight = n_chars, so longer docs are
    proportionally likelier); the top-50 keys ARE the weighted sample.
    Map-only scoring + one top-k — no rand(), so re-runs and the DuckDB
    oracle reproduce the identical sample; the log-form key avoids the
    u^(1/w) cluster-at-1.0 that would make round-9 ties common."""
    docs = load(spark, sf, "documents")
    h = _bucket(F.col("doc_id"), 2_147_483_648)
    u = (h + F.lit(1).cast("long")).cast("double") / F.lit(2147483648.0)
    key = F.round(F.log(u) / F.col("n_chars"), 12)
    return (
        docs.select("doc_id", "lang", "n_chars", key.alias("sample_key"))
        .orderBy(F.col("sample_key").desc(), F.col("doc_id").asc())
        .limit(50)
    )


WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id, lang, n_chars,
       round(ln(({_bucket_sql('doc_id', 2147483648)} + 1) / 2147483648.0)
             / n_chars, 12) AS sample_key
FROM documents
ORDER BY sample_key DESC, doc_id ASC
LIMIT 50
"""

_DSIR_BUCKETS = 1024


def dsir_sample(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw doc by
    how target-like its hashed-ngram feature distribution is, keep the
    top of the ranking.  Target here is the ``lang='en'`` slice (the
    curated seed set); features are unigram tokens hashed into 1024
    buckets (the paper's hashed n-gram generative model with n=1).

    Per-bucket weight is the smoothed log-likelihood ratio
    ``ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B))``; a doc's importance is the
    sum over its tokens.  Determinism discipline: the per-bucket ratio
    is rounded to 9 dp THEN cast to DECIMAL(20,9), so the per-doc sum is
    exact and order-independent (double summation would drift with
    partition order); the final weight surfaces through the VARCHAR-hop
    double cast shared with the medallion gold measures.

    Scale shape: two corpus scans total.  Scan 1 tokenizes+buckets
    (map-only) into ONE ≤B-row stats aggregate carrying raw and target
    counts together; corpus totals reduce that stats frame, never the
    corpus.  Scan 2 re-derives the token stream and joins the ≤B-row
    ratio table (broadcast hash join — the corpus-sized side shuffles
    only for the per-doc sum); selection is ORDER BY+LIMIT, which Spark
    executes as TakeOrderedAndProject (per-partition top-k + one k-row
    reduce), never a global sort.  Both pinned in test_plans.py.
    Selection quota is fixed at 50 like the other sampling queries.
    """
    B = _DSIR_BUCKETS
    docs = load(spark, sf, "documents")
    feats = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("w")
    ).filter(F.col("w") != "").select(
        "doc_id", "lang", _bucket(F.col("w"), B).alias("b")
    )
    # ONE stats pass over the token stream: raw and target counts per
    # bucket together; corpus totals then reduce the <=B-row stats frame,
    # not the corpus.  Two corpus scans total (stats + scoring) — the
    # term that matters at 100 TB.
    stats = feats.groupBy("b").agg(
        F.count(F.lit(1)).alias("r_cnt"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("t_cnt"),
    )
    # corpus totals via an unpartitioned window over the stats frame:
    # single-partition by construction, but the input is bounded at B
    # rows (1024), so this is an O(B) reduce — NOT the data-sized
    # global-window anti-pattern — and it avoids referencing `stats`
    # twice, which would re-derive the corpus tokenize+bucket scan.
    wall = Window.partitionBy()
    lr = stats.select(
        "b",
        F.round(
            F.log(
                (F.col("t_cnt") + 1.0)
                / (F.sum("t_cnt").over(wall) + float(B))
            )
            - F.log(
                (F.col("r_cnt") + 1.0)
                / (F.sum("r_cnt").over(wall) + float(B))
            ),
            9,
        ).cast("decimal(20,9)").alias("lr"),
    )
    return (
        feats.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                F.sum("lr").cast("string").cast("double"), 6
            ).alias("weight")
        )
        .orderBy(F.col("weight").desc(), F.col("doc_id").asc())
        .limit(50)
    )


_DSIR_NORM_TOKS = (
    "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
)

DSIR_SQL = f"""
WITH feats AS MATERIALIZED (
  SELECT doc_id, lang,
         {_bucket_sql('w', _DSIR_BUCKETS)} AS b
  FROM (SELECT doc_id, lang, unnest({_DSIR_NORM_TOKS}) AS w FROM documents)
  WHERE w <> ''
),
stats AS (
  SELECT b, COUNT(*) AS r_cnt,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_cnt
  FROM feats GROUP BY b
),
tot AS (SELECT SUM(r_cnt) AS r_total, SUM(t_cnt) AS t_total FROM stats),
lr AS (
  SELECT stats.b,
         CAST(round(ln((t_cnt + 1.0) / (t_total + {_DSIR_BUCKETS}.0))
                    - ln((r_cnt + 1.0) / (r_total + {_DSIR_BUCKETS}.0)), 9)
              AS DECIMAL(20,9)) AS lr
  FROM stats, tot
)
SELECT f.doc_id, f.lang,
       round(CAST(CAST(SUM(lr.lr) AS VARCHAR) AS DOUBLE), 6) AS weight
FROM feats f JOIN lr ON f.b = lr.b
GROUP BY f.doc_id, f.lang
ORDER BY weight DESC, doc_id ASC
LIMIT 50
"""


def bloom_contamination_prefilter(spark: SparkSession, sf: str) -> DataFrame:
    """The Bloom-filter membership pre-filter the contamination check's
    docstring names as its 100 TB form: the train side collapses to a
    bounded bit set (≤ 2^18 positions regardless of corpus size — a
    broadcastable structure), test shingles probe it with 3 portable
    hashes, and only bloom-positive shingles would proceed to the exact
    string join.  Output compares the bloom verdict to the exact verdict
    per test doc: no false negatives (bloom ≥ exact, structurally) and
    the realized false-positive count is visible.  The oracle replays
    the bit positions hash-for-hash."""
    from tlcn_oer_lakehouse_spark.functions.text import shingles, tokens

    depth, mbits, n = 3, 1 << 18, 5
    docs = load(spark, sf, "documents")
    b = _bucket(F.col("doc_id"), 100)
    with_split = docs.filter((b < 80) | (b >= 90)).select(
        "doc_id",
        (b < 80).alias("is_train"),
        F.explode(F.array_distinct(shingles(tokens(F.col("text")), n))).alias(
            "shingle"
        ),
    )

    def _positions() -> F.Column:
        return F.array_distinct(
            F.array(*[
                _bucket(F.concat_ws("|", F.lit(str(i)), F.col("shingle")), mbits)
                for i in range(depth)
            ])
        )

    # ONE train pass (r11): the distinct train shingle set is ALSO the
    # exact-confirm side, so it persists (the contamination_scalable
    # train-frame precedent; bounded by the Bloom build side either
    # way) and the bloom positions derive from the cache — the former
    # two-branch form re-ran the train tokenize+shingle scan per branch.
    train_set = (
        with_split.filter(F.col("is_train")).select("shingle").distinct().persist()
    )
    bloom = train_set.select(F.explode(_positions()).alias("pos")).distinct()

    # ONE test pass: the position count per (doc, shingle) IS the
    # exploded row count (positions are array_distinct'd, never empty),
    # so the all-positions-present verdict is one LEFT join against the
    # broadcast position set + one aggregate — the former form derived
    # the test side twice (probe + reattach join) and evaluated the
    # 3-hash position array twice in one projection.
    test = with_split.filter(~F.col("is_train")).select("doc_id", "shingle")
    probe = (
        test.select("doc_id", "shingle", F.explode(_positions()).alias("pos"))
        .join(F.broadcast(bloom.withColumn("__m", F.lit(1))), "pos", "left")
        .groupBy("doc_id", "shingle")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum(F.coalesce(F.col("__m"), F.lit(0))).alias("h"),
        )
    )
    verdict = (
        probe.withColumn(
            "bloom_hit", (F.col("h") == F.col("n_pos")).cast("int")
        )
        .join(train_set.withColumn("exact_hit", F.lit(1)), "shingle", "left")
        .withColumn("exact_hit", F.coalesce(F.col("exact_hit"), F.lit(0)))
    )
    return (
        verdict.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("bloom_hit").alias("n_bloom_positive"),
            F.sum("exact_hit").alias("n_exact"),
        )
        .select(
            "doc_id", "n_shingles", "n_bloom_positive", "n_exact",
            (F.col("n_bloom_positive") - F.col("n_exact")).alias("n_false_positive"),
        )
        .orderBy("doc_id")
    )


def _bloom_sql(depth: int = 3, mbits: int = 1 << 18, n: int = 5) -> str:
    shingle_expr = (
        "list_transform(generate_series(1, greatest(0, len(tk) - {n} + 1)), "
        "i -> array_to_string(tk[i:i+{m}], ' '))"
    ).format(n=n, m=n - 1)
    poss = ", ".join(
        _bucket_sql(f"'{i}' || '|' || shingle", mbits) for i in range(depth)
    )
    return f"""
WITH split AS (
  SELECT doc_id, {_bucket_sql('doc_id', 100)} < 80 AS is_train,
         unnest(list_distinct({shingle_expr})) AS shingle
  FROM (SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
        FROM documents
        WHERE {_bucket_sql('doc_id', 100)} < 80 OR {_bucket_sql('doc_id', 100)} >= 90)
), posed AS (
  SELECT doc_id, is_train, shingle, list_distinct([{poss}]) AS poss
  FROM split
), bloom AS (
  SELECT DISTINCT unnest(poss) AS pos FROM posed WHERE is_train
), train_set AS (
  SELECT DISTINCT shingle FROM posed WHERE is_train
), test AS (
  SELECT doc_id, shingle, poss, len(poss) AS n_pos FROM posed WHERE NOT is_train
), hits AS (
  SELECT t.doc_id, t.shingle, COUNT(*) AS h
  FROM (SELECT doc_id, shingle, unnest(poss) AS pos FROM test) t
  JOIN bloom b ON t.pos = b.pos
  GROUP BY 1, 2
), verdict AS (
  SELECT t.doc_id,
         CASE WHEN coalesce(h.h, 0) = t.n_pos THEN 1 ELSE 0 END AS bloom_hit,
         CASE WHEN ts.shingle IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
  FROM test t
  LEFT JOIN hits h ON t.doc_id = h.doc_id AND t.shingle = h.shingle
  LEFT JOIN train_set ts ON t.shingle = ts.shingle
)
SELECT doc_id, COUNT(*) AS n_shingles,
       CAST(SUM(bloom_hit) AS BIGINT) AS n_bloom_positive,
       CAST(SUM(exact_hit) AS BIGINT) AS n_exact,
       CAST(SUM(bloom_hit) - SUM(exact_hit) AS BIGINT) AS n_false_positive
FROM verdict
GROUP BY doc_id
ORDER BY doc_id
"""


# HLL geometry shared by the batch query and streaming/ingest.py:hll_ingest
HLL_M = 1024          # registers (p = 10)
HLL_VBITS = 22        # remaining hash bits after the register index
_HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)


def hll_register_cols(term: F.Column) -> tuple[F.Column, F.Column]:
    """(register index, rank) of one item under the portable md5-prefix
    hash: idx = low 10 bits, rank = leading-zero count of the remaining
    22 bits + 1 (via the length of the binary string — integer-exact in
    any engine, no float log2)."""
    h = F.conv(F.substring(F.md5(term.cast("string")), 1, 8), 16, 10).cast("long")
    idx = h % HLL_M
    # h < 2^32 is exact in double and 1024 is a power of two, so the
    # division is exact and the cast truncation equals integer division
    v = (h / HLL_M).cast("long")
    rank = F.when(v == 0, F.lit(HLL_VBITS + 1)).otherwise(
        F.lit(HLL_VBITS + 1) - F.length(F.bin(v))
    )
    return idx, rank


def hll_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    """Portable HyperLogLog over the corpus's distinct tokens — the
    cardinality sketch completing the CMS (counts) / Bloom (membership)
    family: 1024 registers from the shared md5-prefix hash, rank via
    integer binary-length (no float log2), estimate with the standard
    small-range linear-counting correction.  The register sum uses exact
    DECIMAL powers of two, so the whole sketch — registers AND estimate —
    replays bit-for-bit in the oracle; output carries the exact distinct
    count so the sketch error is visible (σ ≈ 1.04/√1024 ≈ 3.3%)."""
    import math

    from tlcn_oer_lakehouse_spark.functions.text import tokens

    docs = load(spark, sf, "documents")
    terms = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).select(
        F.concat_ws("|", F.col("doc_id"), F.col("term")).alias("item")
    )
    idx, rank = hll_register_cols(F.col("item"))
    regs = (
        terms.select(idx.alias("idx"), rank.alias("rank"))
        .groupBy("idx")
        .agg(F.max("rank").alias("r"))
    )
    # Σ 2^-r over present registers, in exact decimal (2^-23 needs 23
    # decimal digits — DECIMAL(38,30) holds it exactly; float summation
    # order would diverge between engines)
    pow2 = F.lit(2.0) ** (-F.col("r").cast("double"))
    s_present = F.sum(pow2.cast("decimal(38,30)")).cast("string").cast("double")
    n_present = F.count(F.lit(1))
    agg = regs.agg(
        s_present.alias("s_present"), n_present.alias("n_present")
    )
    m = float(HLL_M)
    alpha = _HLL_ALPHA
    est = agg.select(
        (F.lit(m) - F.col("n_present")).alias("zeros"),
        (
            F.lit(alpha * m * m)
            / (F.lit(m) - F.col("n_present") + F.col("s_present"))
        ).alias("raw"),
    ).select(
        "zeros",
        F.when(
            (F.col("raw") <= F.lit(2.5 * m)) & (F.col("zeros") > 0),
            F.lit(m) * F.log(F.lit(m) / F.col("zeros")),
        )
        .otherwise(F.col("raw"))
        .alias("est"),
    )
    exact = terms.agg(F.countDistinct("item").alias("n_exact"))
    return est.crossJoin(F.broadcast(exact)).select(
        F.col("n_exact"),
        F.round("est", 6).alias("hll_estimate"),
        (F.lit(m) - F.col("zeros")).cast("long").alias("n_registers_used"),
    )


def _hll_sql() -> str:
    m, vb, alpha = HLL_M, HLL_VBITS, _HLL_ALPHA
    h = "CAST('0x' || substring(md5(term), 1, 8) AS BIGINT)"
    return f"""
WITH terms AS (
  SELECT CAST(doc_id AS VARCHAR) || '|' || unnest(
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
           AS term
  FROM documents
), hashed AS (
  SELECT {h} % {m} AS idx, {h} // {m} AS v FROM terms
), regs AS (
  SELECT idx, MAX(CASE WHEN v = 0 THEN {vb + 1}
                       ELSE {vb + 1} - length(bin(v)) END) AS r
  FROM hashed GROUP BY idx
), agg AS (
  SELECT CAST(CAST(SUM(CAST(power(2.0, -r) AS DECIMAL(38,30))) AS VARCHAR) AS DOUBLE) AS s_present,
         COUNT(*) AS n_present
  FROM regs
), est AS (
  SELECT CAST({m} AS DOUBLE) - n_present AS zeros,
         CAST({alpha * m * m!r} AS DOUBLE)
           / (CAST({m} AS DOUBLE) - n_present + s_present) AS raw
  FROM agg
)
SELECT (SELECT COUNT(DISTINCT term) FROM terms) AS n_exact,
       round(CASE WHEN raw <= CAST({2.5 * m!r} AS DOUBLE) AND zeros > 0
                  THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / zeros)
                  ELSE raw END, 6) AS hll_estimate,
       CAST(CAST({m} AS DOUBLE) - zeros AS BIGINT) AS n_registers_used
FROM est
"""


def countmin_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min-sketch heavy hitters over the corpus term stream — the
    sketch path for building stoplists / hot-key guards at 100 TB where
    an exact per-term groupBy is the dominant shuffle.  Depth 4 × width
    1024; the hash family is the same portable md5-prefix integer used
    throughout, so the ORACLE REPLAYS THE SKETCH EXACTLY (cell-for-cell)
    rather than checking a probabilistic bound.  Output: top-20 exact
    terms with their CMS estimates — estimate ≥ exact always (one-sided
    error), equality iff no collisions on all 4 rows.

    Scale shape: the sketch table is ≤ depth×width rows regardless of
    corpus size (a fixed-size partial aggregate — the whole point); the
    estimate join touches only the 80 (term, row) probes of the top-k."""
    from tlcn_oer_lakehouse_spark.functions.text import tokens

    depth, width = 4, 1024
    docs = load(spark, sf, "documents")
    terms = docs.select(F.explode(tokens(F.col("text"))).alias("term"))

    def _cell(i: int) -> F.Column:
        return _bucket(F.concat_ws("|", F.lit(str(i)), F.col("term")), width)

    tf = terms.groupBy("term").agg(F.count(F.lit(1)).alias("exact_tf"))
    top = tf.orderBy(F.desc("exact_tf"), F.asc("term")).limit(20)
    cms = (
        terms.select(
            F.explode(
                F.array(*[
                    F.struct(F.lit(i).alias("row"), _cell(i).alias("col"))
                    for i in range(depth)
                ])
            ).alias("cell")
        )
        .groupBy("cell.row", "cell.col")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probes = top.select(
        "term", "exact_tf",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("row"), _cell(i).alias("col"))
                for i in range(depth)
            ])
        ).alias("cell"),
    ).select("term", "exact_tf", "cell.row", "cell.col")
    return (
        probes.join(F.broadcast(cms), ["row", "col"])
        .groupBy("term", "exact_tf")
        .agg(F.min("c").alias("cms_estimate"))
        .select("term", "exact_tf", "cms_estimate")
    )


CMS_SQL = f"""
WITH terms AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
           AS term
  FROM documents
), tf AS (
  SELECT term, COUNT(*) AS exact_tf FROM terms GROUP BY term
), top AS (
  SELECT term, exact_tf FROM tf ORDER BY exact_tf DESC, term LIMIT 20
), rows AS (
  SELECT unnest([0, 1, 2, 3]) AS row
), cms AS (
  SELECT row, {_bucket_sql("CAST(row AS VARCHAR) || '|' || term", 1024)} AS col,
         COUNT(*) AS c
  FROM terms CROSS JOIN rows
  GROUP BY 1, 2
), probes AS (
  SELECT t.term, t.exact_tf, r.row,
         {_bucket_sql("CAST(r.row AS VARCHAR) || '|' || t.term", 1024)} AS col
  FROM top t CROSS JOIN rows r
)
SELECT p.term, p.exact_tf, MIN(c.c) AS cms_estimate
FROM probes p JOIN cms c ON p.row = c.row AND p.col = c.col
GROUP BY p.term, p.exact_tf
"""


def td_pipeline_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """The whole corpus-preparation pipeline as ONE composed DataFrame
    plan — what a user actually runs at 100 TB: score (quality + langid)
    → gate (quality ≥ 0.55) → exact-dedup (canonical = min doc_id per
    content fingerprint) → sliding-window chunk → hash split → per
    (split, lang_pred) manifest.  Every stage is the same operator the
    standalone registry queries verify; this entry verifies their
    COMPOSITION end-to-end against one oracle.

    Plan shape (audited via .explain): 4 keyed shuffles (fingerprint
    window, two manifest groupBys, chunk→meta doc_id join — broadcast at
    test SF) and zero nested-loop joins or global windows; chunking is
    array expressions inside codegen.  The canon branch fans out to two
    consumers, so Spark scans the source once per branch — at 100 TB
    persist canon (or materialize the silver table between stages, as
    pipelines/medallion.py does); it stays unpersisted here so the
    oracle comparison covers the full recompute."""
    from tlcn_oer_lakehouse_spark.functions.text import (
        fingerprint,
        lang_id,
        quality_score,
    )
    from tlcn_oer_lakehouse_spark.operators.chunking import token_window_chunks

    docs = load(spark, sf, "documents")
    scored = docs.select(
        "doc_id",
        "text",
        F.round(quality_score(F.col("text")), 9).alias("quality"),
        lang_id(F.col("text")).alias("lang_pred"),
    )
    kept = scored.filter(F.col("quality") >= 0.55)
    w = Window.partitionBy("fp").orderBy("doc_id")
    canon = (
        kept.withColumn("fp", fingerprint(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "fp")
    )
    b = _bucket(F.col("doc_id"), 100)
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    meta = canon.select("doc_id", "quality", "lang_pred", split.alias("split"))
    doc_stats = meta.groupBy("split", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("quality").cast("decimal(18,9)")).cast("string").cast("double")
            / F.count(F.lit(1))
        ).alias("mean_quality"),
    )
    chunks = token_window_chunks(canon, "doc_id", "text", window=50, stride=40)
    chunk_stats = (
        chunks.join(meta.select("doc_id", "split", "lang_pred"), "doc_id")
        .groupBy("split", "lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_tokens").alias("sum_tokens"),
        )
    )
    return (
        doc_stats.join(chunk_stats, ["split", "lang_pred"], "left")
        .select(
            "split",
            "lang_pred",
            "n_docs",
            "mean_quality",
            F.coalesce("n_chunks", F.lit(0).cast("long")).alias("n_chunks"),
            F.coalesce("sum_tokens", F.lit(0).cast("long")).alias("sum_tokens"),
        )
    )


def _pipeline_e2e_sql() -> str:
    from tlcn_oer_lakehouse_spark.functions.text import EN_STOPWORDS, LANG_MARKERS

    score_exprs = []
    for lang, ms in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in ms)
        score_exprs.append(
            f"len(list_filter(tk, t -> list_contains([{lst}], t))) AS s_{lang}"
        )
    langs = sorted(LANG_MARKERS)
    m = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    ladder = " ".join(f"WHEN s_{lang} = {m} THEN '{lang}'" for lang in langs)
    stop_list = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
WITH base AS (
  SELECT doc_id, text,
         length(regexp_replace(text, '\\s', '', 'g')) > 0 AS nonempty,
         string_split({norm}, ' ') AS tk
  FROM documents
), sc AS (
  SELECT doc_id, text, tk, nonempty, {', '.join(score_exprs)},
         len(tk) AS n, len(list_distinct(tk)) AS nd,
         len(list_filter(tk, t -> list_contains([{stop_list}], t))) AS nstop
  FROM base
), scored AS (
  SELECT doc_id, text, tk,
         round(CASE WHEN nonempty THEN
           0.4 * least(n / 100.0, 1.0) + 0.3 * (nd / n) + 0.3 * (1.0 - nstop / n)
         ELSE 0.0 END, 9) AS quality,
         CASE WHEN {m} <= 0 THEN 'und' {ladder} END AS lang_pred
  FROM sc
), kept AS (
  SELECT * FROM scored WHERE quality >= 0.55
), canon AS (
  SELECT doc_id, text, tk, quality, lang_pred FROM (
    SELECT *, row_number() OVER (PARTITION BY md5({norm}) ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
), meta AS (
  SELECT doc_id, quality, lang_pred,
         CASE WHEN {_bucket_sql('doc_id', 100)} < 80 THEN 'train'
              WHEN {_bucket_sql('doc_id', 100)} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM canon
), wins AS (
  SELECT doc_id,
         len(string_split(array_to_string(tk[s:s+49], ' '), ' ')) AS chunk_tokens
  FROM (SELECT doc_id, tk, unnest(generate_series(1, greatest(1, len(tk)), 40)) AS s
        FROM canon)
  WHERE s = 1 OR s - 40 + 50 - 1 < len(tk)
), doc_stats AS (
  SELECT split, lang_pred, COUNT(*) AS n_docs,
         CAST(CAST(SUM(CAST(quality AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE) / COUNT(*)
           AS mean_quality
  FROM meta GROUP BY 1, 2
), chunk_stats AS (
  SELECT split, lang_pred, COUNT(*) AS n_chunks,
         CAST(SUM(chunk_tokens) AS BIGINT) AS sum_tokens
  FROM wins JOIN meta USING (doc_id) GROUP BY 1, 2
)
SELECT split, lang_pred, n_docs, mean_quality,
       coalesce(n_chunks, 0) AS n_chunks,
       coalesce(sum_tokens, 0) AS sum_tokens
FROM doc_stats LEFT JOIN chunk_stats USING (split, lang_pred)
"""


def td_dataset_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-pair content-overlap matrix via KMV (theta) sketch
    algebra: for every pair of document SOURCES, estimate the Jaccard
    overlap, union and intersection of their distinct 5-gram shingle
    sets — the dataset-level report a mixing pipeline reads before
    setting corpus weights (near-identical sources waste epochs;
    Soldaini et al. 2024 Dolma publishes exactly this pairwise table).

    Scale shape — the whole point of sketches: the corpus-sized work is
    ONE distinct-aggregate over (source, shingle-hash) plus a bounded
    per-source k-min (k=64, the ``a_kmv_set_ops`` partition-prefilter
    pattern: per-partition row_number caps each partition's
    contribution at k before the per-source window, so no corpus-sized
    single-partition sort).  Everything pairwise then runs on s×k
    sketch ROWS (s=#sources): merged k-min per pair, θ-estimator for
    the union, ρ/k for Jaccard — O(s²k) work however large the corpus.
    Sketch-membership stands in for set-membership exactly (not
    approximately) inside the merged k-min: every merged value h ≤
    θ_pair ≤ min(θ_a, θ_b), and below its own θ a KMV sketch IS the
    set.  EXACT union/intersection are computed alongside from the
    distinct-hash frame (one self-equi-join on h) so the estimator's
    error is visible in the result — at 100 TB you drop the exact
    columns and keep the O(s²k) sketch path.

    Ref: scale op beyond the reference — LLM-pipeline corpus mixing
    diagnostics (same sketch family as a_kmv_distinct/a_kmv_set_ops,
    lifted from per-type user counts to dataset-pair set algebra)."""
    from tlcn_oer_lakehouse_spark.queries.mlstats import _HASH_SPACE, _KMV_K

    docs = load(spark, sf, "documents")
    h = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
    sh = (
        docs.select(
            "source",
            F.explode(F.array_distinct(shingles(tokens(F.col("text")), 5))).alias(
                "shingle"
            ),
        )
        .select("source", h.alias("h"))
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    pre = (
        sh.withColumn("pid", F.spark_partition_id())
        .withColumn(
            "prn",
            F.row_number().over(Window.partitionBy("source", "pid").orderBy("h")),
        )
        .filter(F.col("prn") <= _KMV_K)
    )
    sk = (
        pre.withColumn(
            "rn", F.row_number().over(Window.partitionBy("source").orderBy("h"))
        )
        .filter(F.col("rn") <= _KMV_K)
        .select("source", "h")
    )
    pairs = sizes.select(
        F.col("source").alias("source_a"), F.col("n").alias("na")
    ).join(
        sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb")),
        F.col("source_a") < F.col("source_b"),
    )
    keys = pairs.select("source_a", "source_b")
    ma = keys.join(sk.withColumnRenamed("source", "source_a"), "source_a").select(
        "source_a", "source_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    mb = keys.join(sk.withColumnRenamed("source", "source_b"), "source_b").select(
        "source_a", "source_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    merged = (
        ma.unionByName(mb)
        .groupBy("source_a", "source_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    km = merged.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("source_a", "source_b").orderBy("h")),
    ).filter(F.col("rn") <= _KMV_K)
    sketch = km.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("k_used"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("hk"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("rho"),
    )
    inter = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x.h") == F.col("y.h")) & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("source_a"), F.col("y.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    est_union = F.when(
        F.col("k_used") < _KMV_K, F.col("k_used").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1))
        * F.lit(_HASH_SPACE)
        / (F.col("hk") + F.lit(1)).cast("double")
    )
    jac = F.col("rho").cast("double") / F.col("k_used")
    return (
        pairs.join(sketch, ["source_a", "source_b"])
        .join(inter, ["source_a", "source_b"], "left")
        .withColumn(
            "exact_intersection", F.coalesce(F.col("exact_intersection"), F.lit(0))
        )
        .select(
            "source_a",
            "source_b",
            "k_used",
            # NO rounding on the estimates: each is a single arithmetic
            # expression over identical integers, so the raw doubles are
            # engine-identical — while round-9 at est_union's sf10
            # magnitude (~2e6) needs 16 significant digits and hits the
            # HALF_UP-vs-nearest-double divergence (the q17 rule; caught
            # by the r9 sf10 probe: …68 vs …69 in the last ulp).
            est_union.alias("est_union"),
            (F.col("na") + F.col("nb") - F.col("exact_intersection")).alias(
                "exact_union"
            ),
            jac.alias("jaccard_est"),
            (jac * est_union).alias("est_intersection"),
            "exact_intersection",
        )
        .orderBy("source_a", "source_b")
    )


def _dataset_overlap_sql(k: int = 64, space: float = 4294967296.0) -> str:
    return f"""
WITH toks AS (
  SELECT source,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
),
sh AS MATERIALIZED (
  SELECT DISTINCT source,
         CAST('0x' || substring(md5(array_to_string(t[i:i+4], ' ')), 1, 8) AS BIGINT) AS h
  FROM (SELECT source, t, unnest(generate_series(1, len(t) - 4)) AS i FROM toks)
),
sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
sk AS MATERIALIZED (
  SELECT source, h FROM (
    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM sh
  ) WHERE rn <= {k}
),
pairs AS (
  SELECT a.source AS source_a, a.n AS na, b.source AS source_b, b.n AS nb
  FROM sizes a JOIN sizes b ON a.source < b.source
),
merged AS (
  SELECT source_a, source_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
  FROM (
    SELECT p.source_a, p.source_b, s.h, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN sk s ON s.source = p.source_a
    UNION ALL
    SELECT p.source_a, p.source_b, s.h, 0 AS in_a, 1 AS in_b
    FROM pairs p JOIN sk s ON s.source = p.source_b
  ) GROUP BY source_a, source_b, h
),
km AS (
  SELECT * FROM (
    SELECT source_a, source_b, h, in_a, in_b,
           row_number() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rn
    FROM merged
  ) WHERE rn <= {k}
),
sketch AS (
  SELECT source_a, source_b, COUNT(*) AS k_used,
         MAX(CASE WHEN rn = {k} THEN h END) AS hk,
         SUM(in_a * in_b) AS rho
  FROM km GROUP BY source_a, source_b
),
inter AS (
  SELECT x.source AS source_a, y.source AS source_b, COUNT(*) AS exact_intersection
  FROM sh x JOIN sh y ON x.h = y.h AND x.source < y.source
  GROUP BY 1, 2
),
est AS (
  SELECT p.source_a, p.source_b, s.k_used,
         CASE WHEN s.k_used < {k} THEN CAST(s.k_used AS DOUBLE)
              ELSE {float(k - 1)} * {space} / CAST(s.hk + 1 AS DOUBLE) END AS eu,
         p.na + p.nb - COALESCE(i.exact_intersection, 0) AS exact_union,
         CAST(s.rho AS DOUBLE) / s.k_used AS jac,
         COALESCE(i.exact_intersection, 0) AS exact_intersection
  FROM pairs p
  JOIN sketch s USING (source_a, source_b)
  LEFT JOIN inter i USING (source_a, source_b)
)
SELECT source_a, source_b, k_used,
       eu AS est_union, exact_union,
       jac AS jaccard_est,
       jac * eu AS est_intersection,
       exact_intersection
FROM est
ORDER BY source_a, source_b
"""


SPECS = [
    QuerySpec("td_train_test_split", train_test_split, SPLIT_SQL,
              ref="new capability (training-data pipeline; hash-deterministic split)",
              doc="80/10/10 hash split summarized per split × lang",
              tags=("traindata",)),
    QuerySpec("td_stratified_sample", stratified_sample, STRATIFIED_SQL,
              ref="new capability (per-stratum deterministic sampling)",
              doc="per-language hash-gated sample (en 20%, others 50%)",
              tags=("traindata",)),
    QuerySpec("td_corpus_mixing", corpus_mixing, MIXING_SQL,
              ref="new capability (weighted epoch mixing)",
              doc="2-epoch upsampling of high-quality sources",
              tags=("traindata",)),
    QuerySpec("td_fractional_epochs", fractional_epochs,
              FRACTIONAL_EPOCHS_SQL,
              ref="scale op: UniMax/LLaMA-recipe fractional epoch "
                  "budgets — deterministic hash gate selects the "
                  "partial-epoch share, map-only + one combinable "
                  "groupBy",
              doc="per-(source, epoch) manifest for e=2.5/1.25 epoch "
                  "budgets with fill ratios",
              tags=("traindata",)),
    QuerySpec("td_temperature_mixing", temperature_mixing, TEMPERATURE_SQL,
              ref="scale op: mT5/UNIMAX-style alpha=0.5 temperature "
                  "resampling of source shares",
              doc="temperature-scaled source mixture with oversample factors",
              tags=("traindata",)),
    QuerySpec("td_token_budget_shards", token_budget_shards, SHARDS_SQL,
              ref="new capability (token-budget packing; prefix-sum window)",
              doc="5k-token shard assignment by cumulative count",
              tags=("traindata",)),
    QuerySpec("td_token_budget_shards_scalable", token_budget_shards_scalable,
              SHARDS_SQL,
              ref="new capability (distributed two-phase prefix sum)",
              doc="same shard assignment without a global-order window",
              tags=("traindata",)),
    QuerySpec("td_vocab_coverage", vocab_coverage, VOCAB_SQL,
              ref="new capability (tokenizer vocabulary sizing curve)",
              doc="top-20 terms with cumulative coverage fraction",
              tags=("traindata",)),
    QuerySpec("td_pack_sequences", pack_sequences, PACK_SQL,
              ref="scale op: training-sequence packing (2048-token rows, boundary offsets)",
              doc="fixed-budget sequence packing with member/boundary manifest",
              tags=("traindata",)),
    QuerySpec("td_data_card", data_card, _data_card_sql(),
              ref="scale op: one-pass corpus datasheet (Datasheets for Datasets)",
              doc="volume/length/quality/duplication card over the augmented corpus",
              tags=("traindata",)),
    QuerySpec("td_contamination_check", contamination_check, CONTAMINATION_SQL,
              ref="new capability (train->test 5-gram contamination)",
              doc="per-test-doc contaminated-shingle rate vs train set",
              tags=("traindata", "bench")),
    QuerySpec("td_contamination_scalable", contamination_check_scalable,
              CONTAMINATION_SQL,
              ref="scale op; the contamination check's 100 TB plan with the "
                  "Bloom gate composed in (bitset broadcast + map-side probe "
                  "→ exact confirm); oracle = the ungated exact computation, "
                  "proving the gate is semantically transparent",
              doc="Bloom-gated train→test contamination (output ≡ "
                  "td_contamination_check)",
              tags=("traindata", "dedup", "bench")),
    QuerySpec("td_dataset_overlap", td_dataset_overlap,
              _dataset_overlap_sql(),
              ref="scale op: pairwise corpus-overlap matrix via KMV "
                  "sketch algebra (Dolma-style mixing diagnostics) — "
                  "O(s²k) pair work however large the corpus",
              doc="per-source-pair shingle-set Jaccard/union/intersection "
                  "estimates with exact counterparts alongside",
              tags=("traindata",)),
    QuerySpec("td_exact_substring_dedup", exact_substring_dedup,
              EXACT_SUBSTRING_SQL,
              ref="scale op: ExactSubstr substring-level dedup (Lee et al. "
                  "2022) — the duplication class doc-level dedup cannot see",
              doc="mask every 5-token span occurring >=2 times corpus-wide; "
                  "map-only masking via higher-order array filter",
              tags=("traindata", "dedup")),
    QuerySpec("td_exact_substring_keepone", exact_substring_keepone,
              EXACT_SUBSTRING_KEEPONE_SQL,
              ref="scale op; Lee et al. 2022 §4 retain-one refinement of "
                  "ExactSubstr — canonical occurrence survives, duplicates "
                  "masked; one window pass over the same h-keyed shuffle",
              doc="substring dedup keeping one canonical copy per dup span",
              tags=("traindata", "dedup")),
    QuerySpec("td_weighted_sample", td_weighted_sample, WEIGHTED_SAMPLE_SQL,
              ref="scale op: Efraimidis-Spirakis weighted sampling without "
                  "replacement — hash-uniform, map-only, resumable",
              doc="length-weighted top-50 sample via ln(u)/w keys",
              tags=("traindata",)),
    QuerySpec("td_dsir_sample", dsir_sample, DSIR_SQL,
              ref="scale op: DSIR importance resampling (Xie et al. 2023) — "
                  "hashed-ngram LLR scoring against a target slice; map-only "
                  "features, <=B-row broadcast ratio table, top-k selection",
              doc="DSIR top-50 target-like docs via hashed-unigram LLR",
              tags=("traindata",)),
    QuerySpec("td_bloom_contamination", bloom_contamination_prefilter, _bloom_sql(),
              ref="scale op: Bloom membership pre-filter — the 100 TB form the "
                  "contamination check's docstring names; bounded bit set, "
                  "broadcastable, zero false negatives",
              doc="3-hash/2^18-bit bloom verdict vs exact train membership",
              tags=("traindata", "sketch")),
    QuerySpec("a_hll_sketch", hll_cardinality, _hll_sql(),
              ref="scale op: portable HyperLogLog (Flajolet et al.) — register-"
                  "exact oracle replay incl. the estimate arithmetic",
              doc="1024-register HLL distinct (doc,term) estimate vs exact",
              tags=("traindata", "sketch")),
    QuerySpec("a_countmin_sketch", countmin_heavy_hitters, CMS_SQL,
              ref="scale op: count-min sketch (Cormode-Muthukrishnan) heavy hitters; "
                  "portable hash family → oracle replays the sketch cell-for-cell",
              doc="depth-4 CMS estimates vs exact top-20 term counts",
              tags=("traindata", "sketch")),
    QuerySpec("td_pipeline_e2e", td_pipeline_e2e, _pipeline_e2e_sql(),
              ref="composition: transformer.py silver flow re-shaped as one plan "
                  "(score→gate→dedup→chunk→split→manifest)",
              doc="whole corpus-prep pipeline composed end-to-end, one oracle",
              tags=("traindata", "pipeline")),
]
