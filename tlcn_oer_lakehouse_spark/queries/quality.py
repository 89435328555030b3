"""Corpus-safety queries: PII scrub and repetition-based quality gating.

Two operators a training-data pipeline runs between ingest and shipping:

- ``pii_scrub`` — typed PII detection counts + placeholder redaction
  (functions/pii.py).  The sf corpora contain no natural PII, so the query
  deterministically injects one PII span per ``doc_id % 6`` class (email /
  ipv4 / phone / ssn / card / none) in BOTH engines, then detects and
  redacts it — every pattern is exercised against both positive and
  negative rows.
- ``td_repetition_quality`` — Gopher-style repetition signals (Rae et al.
  2021, §A1.1) computed on word 2-grams: top-2-gram fraction and
  duplicate-2-gram fraction, plus the pass/fail gate.  Token-count
  fractions stand in for the paper's character fractions — same signal,
  exact integer arithmetic (deterministic across engines).

Scale: ``pii_scrub`` is map-only regex work at scan speed.  The
repetition query is explode → two partial-aggregated ``groupBy``s keyed
by (doc_id, gram) then doc_id — linear in corpus size, map-side combine
on both hops, no driver involvement.  (A shuffle-free array-expression
form exists but is quadratic per document — wrong trade at 100 TB where
single documents reach 10⁵ tokens.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.functions.pii import (
    PII_PATTERNS,
    pii_counts,
    redact_pii,
)
from tlcn_oer_lakehouse_spark.functions.text import shingles, tokens
from tlcn_oer_lakehouse_spark.queries.base import (
    QuerySpec,
    load,
    parquet_num_rows,
)

# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------


def _injected_corpus(spark: SparkSession, sf: str) -> DataFrame:
    d = F.col("doc_id")
    tail = [
        F.concat(F.lit(" contact agent"), d.cast("string"),
                 F.lit("@example.com for details")),
        F.concat(F.lit(" from host 10.0."), (d % 200).cast("string"),
                 F.lit(".17 tonight")),
        F.concat(F.lit(" call 555-867-"),
                 F.lpad((d % 10000).cast("string"), 4, "0")),
        F.concat(F.lit(" ssn 078-05-"),
                 F.lpad((d % 10000).cast("string"), 4, "0")),
        F.concat(F.lit(" card 4111-1111-1111-"),
                 F.lpad((d % 10000).cast("string"), 4, "0")),
    ]
    sel = F.lit("")
    for i, t in enumerate(tail):
        sel = F.when(d % 6 == i, t).otherwise(sel)
    return load(spark, sf, "documents").select(
        "doc_id", F.concat(F.col("text"), sel).alias("text")
    )


PII_CORPUS_SQL = """
corpus AS (
  SELECT doc_id,
         text || CASE doc_id % 6
           WHEN 0 THEN ' contact agent' || CAST(doc_id AS VARCHAR) || '@example.com for details'
           WHEN 1 THEN ' from host 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.17 tonight'
           WHEN 2 THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           WHEN 3 THEN ' ssn 078-05-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           WHEN 4 THEN ' card 4111-1111-1111-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           ELSE '' END AS text
  FROM documents
)
"""


def pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    corpus = _injected_corpus(spark, sf)
    counts = pii_counts(F.col("text"))
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return corpus.select(
        "doc_id",
        *[c.alias(n) for n, c in counts.items()],
        total.alias("n_pii_total"),
        redact_pii(F.col("text")).alias("redacted"),
    )


def _pii_oracle() -> str:
    count_cols = ",\n       ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{kind}"
        for kind, pat, _ in PII_PATTERNS
    )
    total = " + ".join(f"len(regexp_extract_all(text, '{pat}'))"
                       for _, pat, _ in PII_PATTERNS)
    redacted = "text"
    for _, pat, repl in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    return f"""
WITH {PII_CORPUS_SQL.strip()}
SELECT doc_id,
       {count_cols},
       {total} AS n_pii_total,
       {redacted} AS redacted
FROM corpus
"""


# ---------------------------------------------------------------------------
# repetition quality
# ---------------------------------------------------------------------------

TOP_2GRAM_MAX = 0.20  # Gopher table A1: most-common-2-gram fraction cap
DUP_2GRAM_MAX = 0.60  # fraction of 2-gram instances that are repeats


def repetition_quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents").select("doc_id", "text")
    grams = docs.select(
        "doc_id", F.explode(shingles(tokens(F.col("text")), 2)).alias("gram")
    )
    per = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
    agg = per.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_2grams"),
        F.count("*").alias("n_distinct_2grams"),
        F.max("cnt").alias("top_cnt"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup_cnt"),
    )
    top_frac = F.col("top_cnt") / F.col("n_2grams")
    dup_frac = F.col("dup_cnt") / F.col("n_2grams")
    return agg.select(
        "doc_id",
        "n_2grams",
        "n_distinct_2grams",
        F.round(top_frac, 9).alias("top_2gram_frac"),
        F.round(dup_frac, 9).alias("dup_2gram_frac"),
        ((top_frac <= TOP_2GRAM_MAX) & (dup_frac <= DUP_2GRAM_MAX))
        .alias("passes_repetition_gate"),
    )


REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
),
per AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2),
agg AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_2grams,
         COUNT(*) AS n_distinct_2grams,
         CAST(MAX(cnt) AS BIGINT) AS top_cnt,
         CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_cnt
  FROM per GROUP BY 1
)
SELECT doc_id, n_2grams, n_distinct_2grams,
       round(top_cnt / n_2grams, 9) AS top_2gram_frac,
       round(dup_cnt / n_2grams, 9) AS dup_2gram_frac,
       (top_cnt / n_2grams <= {TOP_2GRAM_MAX} AND dup_cnt / n_2grams <= {DUP_2GRAM_MAX})
         AS passes_repetition_gate
FROM agg
"""


# ---------------------------------------------------------------------------
# unigram surprisal (corpus-LM information score)
# ---------------------------------------------------------------------------

INFO_GATE_BITS = 4.0  # mean surprisal below this ≈ stopword/boilerplate soup


def _surprisal_per_token(spark: SparkSession, sf: str) -> DataFrame:
    """Per-token integer surprisal frame (doc_id, sbits) — the shared
    core of ``unigram_surprisal`` and ``td_ccnet_buckets``: explode →
    vocab groupBy → 1:N vocab join (1-row total broadcast)."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    # vocab persisted (bounded, vocabulary-sized): it feeds BOTH the
    # total aggregate and the per-token join — uncached, the corpus
    # explode + groupBy replayed once per consumer (r11, guide §1.2)
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt")).persist()
    totals = vocab.agg(F.sum("cnt").alias("n_total"))
    sbits = F.length(F.bin(F.expr("n_total div cnt"))) - 1
    return (
        tok.join(vocab, "t")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", sbits.alias("sbits"))
    )


def unigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-unigram information score — the deterministic analog of
    LM-perplexity quality filtering (CCNet/KenLM-style): train the
    unigram model on the corpus itself (one groupBy), score every token
    by its surprisal, average per document.

    Surprisal is computed as ``floor(log2(N div cnt))`` via integer bit
    length — transcendental ``log`` differs in the last ulp between JVM
    and libm, which round-to-9 cannot fully mask, so the metric is
    DEFINED on integer arithmetic and replays bit-identically in any
    engine.  Plan: explode → vocab groupBy → 1:N vocab join (1-row
    total broadcast) → per-doc aggregation; linear, never all-pairs."""
    per = _surprisal_per_token(spark, sf)
    mean_bits = F.sum("sbits").cast("double") / F.count(F.lit(1))
    return per.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(mean_bits, 9).alias("avg_surprisal_bits"),
        (mean_bits >= INFO_GATE_BITS).alias("passes_info_gate"),
    )


SURPRISAL_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
  FROM documents
),
vocab AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM vocab),
per AS (
  SELECT doc_id, length(bin(n_total // cnt)) - 1 AS sbits
  FROM tok JOIN vocab USING (t) CROSS JOIN tot
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       round(CAST(SUM(sbits) AS DOUBLE) / COUNT(*), 9) AS avg_surprisal_bits,
       (CAST(SUM(sbits) AS DOUBLE) / COUNT(*) >= {INFO_GATE_BITS}) AS passes_info_gate
FROM per
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# URL extraction + per-domain caps (crawl-curation ops)
# ---------------------------------------------------------------------------

# The sf corpora carry no URLs, so (exactly like pii_scrub's injected
# spans) each doc gets one deterministic URL appended in BOTH engines —
# extraction runs against real mixed text, not a clean url column.
_URL_TAIL = (
    " source https://w{h}.example{d}.org/docs/item{i}?ref=corpus via mirror"
)

MAX_DOCS_PER_DOMAIN = 50  # crawl-pipeline cap: no domain dominates the mix


def _url_corpus(spark: SparkSession, sf: str) -> DataFrame:
    d = F.col("doc_id")
    tail = F.concat(
        F.lit(" source https://w"), (d % 7).cast("string"),
        F.lit(".example"), (d % 5).cast("string"),
        F.lit(".org/docs/item"), d.cast("string"),
        F.lit("?ref=corpus via mirror"),
    )
    return load(spark, sf, "documents").select(
        "doc_id", F.concat(F.col("text"), tail).alias("text")
    )


URL_CORPUS_SQL = """
corpus AS (
  SELECT doc_id,
         text || ' source https://w' || CAST(doc_id % 7 AS VARCHAR)
              || '.example' || CAST(doc_id % 5 AS VARCHAR)
              || '.org/docs/item' || CAST(doc_id AS VARCHAR)
              || '?ref=corpus via mirror' AS text
  FROM documents
)
"""

# RE2-portable (no lookarounds), identical in both engines.
_URL_RE = r"https?://[^\s]+"
_HOST_RE = r"^https?://([^/\s]+)"
_DOMAIN_RE = r"([^.]+\.[^.]+)$"
_PATH_RE = r"^https?://[^/\s]+(/[^?\s]*)"


def url_extract(spark: SparkSession, sf: str) -> DataFrame:
    """URL → host → registered-domain → path extraction from mixed
    text — the parse step ahead of any domain blocklist / per-domain
    cap / crawl-frontier op.  Pure column regexes (map-only, scan
    speed); patterns are RE2-portable so the same expressions run on
    Spark (Java regex) and any RE2 engine."""
    c = _url_corpus(spark, sf)
    url = F.regexp_extract(F.col("text"), _URL_RE, 0)
    host = F.regexp_extract(url, _HOST_RE, 1)
    return c.select(
        "doc_id",
        url.alias("url"),
        host.alias("host"),
        F.regexp_extract(host, _DOMAIN_RE, 1).alias("registered_domain"),
        F.regexp_extract(url, _PATH_RE, 1).alias("path"),
    )


URL_EXTRACT_SQL = f"""
WITH {URL_CORPUS_SQL.strip()}
SELECT doc_id,
       regexp_extract(text, '{_URL_RE}', 0) AS url,
       regexp_extract(regexp_extract(text, '{_URL_RE}', 0), '{_HOST_RE}', 1) AS host,
       regexp_extract(regexp_extract(regexp_extract(text, '{_URL_RE}', 0), '{_HOST_RE}', 1),
                      '{_DOMAIN_RE}', 1) AS registered_domain,
       regexp_extract(regexp_extract(text, '{_URL_RE}', 0), '{_PATH_RE}', 1) AS path
FROM corpus
"""


def domain_caps_scalable(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB form of :func:`domain_caps`, implemented rather than
    just documented: instead of ranking inside each domain (one global
    sort per domain — hot partition under power-law domains), keep each
    document with probability ``cap / n_domain`` via a deterministic
    md5 gate.  Expected survivors per domain = cap, no per-domain sort,
    no hot partition: one groupBy(domain) for counts + one broadcast
    join + a map-only gate — identical topology at any skew.
    ``kept`` differs row-for-row from the rank form by design (expected
    vs exact N); both forms are registered so the trade is explicit."""
    ex = url_extract(spark, sf).select("doc_id", "registered_domain")
    counts = ex.groupBy("registered_domain").agg(
        F.count(F.lit(1)).alias("n_domain")
    )
    from tlcn_oer_lakehouse_spark.queries.traindata import _bucket

    gate = (
        _bucket(F.col("doc_id"), 10000) * F.col("n_domain")
        < MAX_DOCS_PER_DOMAIN * 10000
    )
    return (
        ex.join(F.broadcast(counts), "registered_domain")
        .select("doc_id", "registered_domain", "n_domain", gate.alias("kept"))
        .orderBy("doc_id")
    )


def _domain_caps_scalable_oracle() -> str:
    from tlcn_oer_lakehouse_spark.queries.traindata import _bucket_sql

    return f"""
WITH {URL_CORPUS_SQL.strip()},
ex AS (
  SELECT doc_id,
         regexp_extract(regexp_extract(regexp_extract(text, '{_URL_RE}', 0), '{_HOST_RE}', 1),
                        '{_DOMAIN_RE}', 1) AS registered_domain
  FROM corpus
),
counts AS (SELECT registered_domain, COUNT(*) AS n_domain FROM ex GROUP BY registered_domain)
SELECT doc_id, registered_domain, n_domain,
       ({_bucket_sql('doc_id', 10000)}) * n_domain < {MAX_DOCS_PER_DOMAIN} * 10000 AS kept
FROM ex JOIN counts USING (registered_domain)
ORDER BY doc_id
"""


def domain_caps(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain document cap (the C4/RefinedWeb "no domain dominates"
    rule): rank documents within registered_domain by doc_id and keep
    the first ``MAX_DOCS_PER_DOMAIN``.  One window shuffle keyed by
    domain.  Scale note: a power-law domain (10⁸ pages) makes its
    partition hot — at 100 TB swap the global rank for a deterministic
    hash gate sized from a per-domain count (same shape as
    dedup_soft_sample's 1/k gate: one groupBy + broadcast join, no
    per-domain sort), keeping an *expected* N per domain."""
    from pyspark.sql import Window

    ex = url_extract(spark, sf).select("doc_id", "registered_domain")
    w = Window.partitionBy("registered_domain").orderBy("doc_id")
    return (
        ex.withColumn("rank_in_domain", F.row_number().over(w))
        .withColumn("kept", F.col("rank_in_domain") <= MAX_DOCS_PER_DOMAIN)
        .orderBy("doc_id")
    )


DOMAIN_CAPS_SQL = f"""
WITH {URL_CORPUS_SQL.strip()},
ex AS (
  SELECT doc_id,
         regexp_extract(regexp_extract(regexp_extract(text, '{_URL_RE}', 0), '{_HOST_RE}', 1),
                        '{_DOMAIN_RE}', 1) AS registered_domain
  FROM corpus
)
SELECT doc_id, registered_domain,
       row_number() OVER (PARTITION BY registered_domain ORDER BY doc_id)
         AS rank_in_domain,
       row_number() OVER (PARTITION BY registered_domain ORDER BY doc_id)
         <= {MAX_DOCS_PER_DOMAIN} AS kept
FROM ex
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# bigram conditional surprisal (order-sensitive LM score)
# ---------------------------------------------------------------------------

BIGRAM_GATE_BITS = 2.0  # mean conditional surprisal below this ≈ rote text


def bigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram conditional surprisal — the order-sensitive upgrade of
    ``td_unigram_surprisal`` (a unigram model scores a shuffled document
    identically; a bigram model does not, which is what makes it a
    repetition-and-boilerplate detector à la CCNet's KenLM filter).

    Each token is scored by ``floor(log2(P(tok|prev)^-1))`` =
    ``bits(c1_ctx(prev) div c2(prev,tok))`` under the corpus-trained
    bigram model; document-initial tokens back off to the unigram model
    ``bits(N div c_uni(tok))``.  All-integer arithmetic (binary length
    of an integer quotient), so the score replays bit-identically in
    the oracle — see unigram_surprisal for why ``log`` itself cannot be
    used.

    Plan: one posexplode → lag window keyed by doc (one shuffle) →
    bigram/context/unigram count groupBys (map-side combined) → keyed
    count joins → per-doc aggregation.  Linear in corpus tokens; the
    count tables are vocab- and bigram-vocab-sized."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "t")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    seq = tok.withColumn("prev", F.lag("t").over(w))
    uni = seq.groupBy("t").agg(F.count(F.lit(1)).alias("c_uni"))
    n_total = uni.agg(F.sum("c_uni").alias("n_total"))
    bigrams = seq.filter(F.col("prev").isNotNull())
    big = bigrams.groupBy("prev", "t").agg(F.count(F.lit(1)).alias("c2"))
    ctx = big.groupBy("prev").agg(F.sum("c2").alias("c1_ctx"))

    def _bits(q):  # floor(log2(q)) for q >= 1, as integer binary length
        return F.length(F.bin(q)) - 1

    cond_bits = _bits(F.expr("c1_ctx div c2"))
    uni_bits = _bits(F.expr("n_total div c_uni"))
    scored = (
        seq.join(big, ["prev", "t"], "left")
        .join(ctx, "prev", "left")
        .join(uni, "t")
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            F.when(F.col("prev").isNotNull(), cond_bits)
            .otherwise(uni_bits)
            .alias("sbits"),
        )
    )
    mean_bits = F.sum("sbits").cast("double") / F.count(F.lit(1))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(mean_bits, 9).alias("avg_bigram_surprisal_bits"),
        (mean_bits >= BIGRAM_GATE_BITS).alias("passes_bigram_gate"),
    )


BIGRAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, i AS pos, t[i] AS t
  FROM (SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM documents),
       unnest(generate_series(1, len(t))) AS g(i)
),
seq AS (
  SELECT doc_id, pos, t,
         lag(t) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM tok
),
uni AS (SELECT t, COUNT(*) AS c_uni FROM seq GROUP BY t),
tot AS (SELECT CAST(SUM(c_uni) AS BIGINT) AS n_total FROM uni),
big AS (SELECT prev, t, COUNT(*) AS c2 FROM seq WHERE prev IS NOT NULL GROUP BY prev, t),
ctx AS (SELECT prev, CAST(SUM(c2) AS BIGINT) AS c1_ctx FROM big GROUP BY prev),
scored AS (
  SELECT seq.doc_id,
         CASE WHEN seq.prev IS NOT NULL
              THEN length(bin(c1_ctx // c2)) - 1
              ELSE length(bin(n_total // c_uni)) - 1 END AS sbits
  FROM seq
  LEFT JOIN big ON seq.prev = big.prev AND seq.t = big.t
  LEFT JOIN ctx ON seq.prev = ctx.prev
  JOIN uni ON seq.t = uni.t
  CROSS JOIN tot
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       round(CAST(SUM(sbits) AS DOUBLE) / COUNT(*), 9) AS avg_bigram_surprisal_bits,
       (CAST(SUM(sbits) AS DOUBLE) / COUNT(*) >= {BIGRAM_GATE_BITS}) AS passes_bigram_gate
FROM scored
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Gopher rule battery (document-shape quality filters)
# ---------------------------------------------------------------------------

# Rae et al. 2021 (Gopher), table A1 bounds; the stopword presence rule
# uses the paper's 8-word list.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WLEN = 3.0
GOPHER_MAX_MEAN_WLEN = 10.0
GOPHER_MAX_SYMBOL_FRAC = 0.10
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_MIN_STOPWORDS = 2
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_SYMBOL_RE = r"#|\.\.\."  # hash or ellipsis tokens (Gopher symbol rule)


def gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/C4-style document-shape filter battery (Rae et al. 2021
    table A1): word-count bounds, mean-word-length bounds, symbol-to-word
    ratio, alphabetic-word fraction, and distinct-stopword presence, each
    as its own flag plus the conjunction gate.

    Every rule is a pure array expression over the tokenized text —
    map-only, zero shuffle, scan-speed at any corpus size (contrast the
    repetition signals above, which need per-gram aggregation).  All
    ratios divide exact integer counts, so round-to-9 doubles replay
    bit-identically in the oracle."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    t = tokens(F.col("text"))
    n_words = F.size(t)
    sum_len = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    nz = F.when(n_words > 0, n_words.cast("double"))  # else NULL, as SQL NULLIF
    mean_wlen = sum_len / nz
    symbol_frac = F.size(F.filter(t, lambda x: x.rlike(_SYMBOL_RE))) / nz
    alpha_frac = F.size(F.filter(t, lambda x: x.rlike("[a-z]"))) / nz
    stop_frac = F.size(F.filter(t, lambda x: x.isin(*GOPHER_STOPWORDS))) / nz
    n_stop = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(t, s),
        )
    )
    pass_wc = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    pass_wl = (mean_wlen >= GOPHER_MIN_MEAN_WLEN) & (
        mean_wlen <= GOPHER_MAX_MEAN_WLEN
    )
    pass_sym = symbol_frac <= GOPHER_MAX_SYMBOL_FRAC
    pass_alpha = alpha_frac >= GOPHER_MIN_ALPHA_FRAC
    pass_stop = n_stop >= GOPHER_MIN_STOPWORDS
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wlen, 9).alias("mean_word_len"),
        F.round(symbol_frac, 9).alias("symbol_frac"),
        F.round(alpha_frac, 9).alias("alpha_frac"),
        F.round(stop_frac, 9).alias("stopword_frac"),
        n_stop.alias("n_stopwords_present"),
        pass_wc.alias("pass_word_count"),
        pass_wl.alias("pass_mean_word_len"),
        pass_sym.alias("pass_symbol_frac"),
        pass_alpha.alias("pass_alpha_frac"),
        pass_stop.alias("pass_stopwords"),
        (pass_wc & pass_wl & pass_sym & pass_alpha & pass_stop).alias(
            "pass_gopher"
        ),
    )


_SW_SQL = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)

GOPHER_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
),
m AS (
  SELECT doc_id,
         len(t) AS n_words,
         CAST(NULLIF(len(t), 0) AS DOUBLE) AS nz,
         CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_len,
         len(list_filter(t, x -> regexp_matches(x, '{_SYMBOL_RE}'))) AS n_symbol,
         len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
         len(list_filter(t, x -> x IN ({_SW_SQL}))) AS n_stop_tokens,
         len(list_filter([{_SW_SQL}], s -> list_contains(t, s))) AS n_stop
  FROM toks
)
SELECT doc_id, n_words,
       round(sum_len / nz, 9) AS mean_word_len,
       round(n_symbol / nz, 9) AS symbol_frac,
       round(n_alpha / nz, 9) AS alpha_frac,
       round(n_stop_tokens / nz, 9) AS stopword_frac,
       n_stop AS n_stopwords_present,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}) AS pass_word_count,
       (sum_len / nz BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN}) AS pass_mean_word_len,
       (n_symbol / nz <= {GOPHER_MAX_SYMBOL_FRAC}) AS pass_symbol_frac,
       (n_alpha / nz >= {GOPHER_MIN_ALPHA_FRAC}) AS pass_alpha_frac,
       (n_stop >= {GOPHER_MIN_STOPWORDS}) AS pass_stopwords,
       ((n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
        AND (sum_len / nz BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN})
        AND (n_symbol / nz <= {GOPHER_MAX_SYMBOL_FRAC})
        AND (n_alpha / nz >= {GOPHER_MIN_ALPHA_FRAC})
        AND (n_stop >= {GOPHER_MIN_STOPWORDS})) AS pass_gopher
FROM m
"""


# ---------------------------------------------------------------------------
# curriculum ordering
# ---------------------------------------------------------------------------

N_CURRICULUM_PHASES = 4


def curriculum_order(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum data ordering (easy→hard): rank documents by the
    corpus-unigram surprisal difficulty score and cut into
    ``N_CURRICULUM_PHASES`` training phases — low-surprisal (easy,
    predictable) text first, high-information text last.  Composes the
    ``td_unigram_surprisal`` scorer; the only addition is one ntile
    window with a doc_id tie-break (deterministic total order).  Scale
    note: like w11's quintiles, the global ntile swaps for
    approx-percentile phase cutoffs at 100 TB."""
    from pyspark.sql import Window

    scored = unigram_surprisal(spark, sf)
    w = Window.orderBy(
        F.col("avg_surprisal_bits").asc(), F.col("doc_id").asc()
    )
    return (
        scored.select(
            "doc_id",
            "avg_surprisal_bits",
            F.ntile(N_CURRICULUM_PHASES).over(w).alias("phase"),
        )
        .orderBy("doc_id")
    )


CURRICULUM_SQL = f"""
WITH scored AS ({SURPRISAL_SQL.strip()})
SELECT doc_id, avg_surprisal_bits,
       ntile({N_CURRICULUM_PHASES})
         OVER (ORDER BY avg_surprisal_bits ASC, doc_id ASC) AS phase
FROM scored
ORDER BY doc_id
"""


def td_ccnet_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style head/middle/tail quality bucketing (Wenzek et al.
    2020, LREC — the pipeline behind CCNet/cc_net): score every
    document with the corpus-LM quality signal, then split EACH
    LANGUAGE into three quality terciles, the bucket labels the paper
    ships its corpus under.  The LM score is the engine-exact integer
    unigram surprisal (``_surprisal_per_token``; CCNet uses KenLM
    perplexity — same signal class, deterministic here), scaled to an
    integer ``score = (1000·Σsbits) div n_tokens`` so every boundary
    comparison is integer arithmetic in both engines.  Orientation
    FOLLOWS THE PAPER (ADVICE r8): Wenzek et al. define head = lowest
    perplexity (most fluent, most LM-like), tail = highest — so here
    head = the LOW-surprisal tercile and tail = the high-surprisal one.
    Downstream consumers expecting CCNet semantics (e.g. "train on
    head+middle") read these labels as published.

    Scale shape — the histogram-quantile form, NOT a per-language sort:
    ``td_curriculum_order``'s global ntile is the documented
    swap-for-approx-at-100TB compromise; this query is the scale-right
    alternative.  Per-language tercile boundaries come from a
    (lang, score) HISTOGRAM: distinct integer scores per language are
    bounded by 1000·64 regardless of corpus size, so the cumulative
    window runs over a provably tiny frame (bounded-histogram class —
    never the corpus-sized hot-key window the r7 sf10 probe killed),
    and the O(#langs) boundary table broadcasts back onto the linear
    doc-score frame.  Exact order statistics, zero corpus-sized sorts:
    boundary b1 = k1-th smallest score (k1 = ⌈n/3⌉, integer
    ``(n+2) div 3``), b2 = ⌈2n/3⌉-th; ties land whole score-values in
    one bucket (value-threshold semantics — CCNet's cutoffs are values
    too), so bucket sizes are approximate but the rule is exactly
    replayable.

    Ref: scale op beyond the reference — LLM-pipeline corpus curation
    (the bucketing step between quality scoring and mixing)."""
    per = _surprisal_per_token(spark, sf)
    doc = per.groupBy("doc_id").agg(
        F.expr("(1000 * sum(sbits)) div count(1)").alias("score")
    )
    langs = load(spark, sf, "documents").select("doc_id", "lang")
    scored = doc.join(langs, "doc_id")
    return _lang_tercile_buckets(scored).orderBy("doc_id")


def _lang_tercile_buckets(scored: DataFrame) -> DataFrame:
    """Shared tercile core of ``td_ccnet_buckets`` and
    ``td_curation_model_e2e``: given (doc_id, lang, score∈int), label
    each doc head/middle/tail per language via the bounded-histogram
    exact order statistics (see td_ccnet_buckets' docstring for the
    scale argument).  Paper orientation: head = LOWEST score tercile."""
    from pyspark.sql import Window

    hist = scored.groupBy("lang", "score").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "lang", "score",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy("lang")).alias("n"),
    )
    bounds = cum.groupBy("lang").agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 2) div 3"), F.col("score"))
        ).alias("b1"),
        F.min(
            F.when(F.col("cum") >= F.expr("(2 * n + 2) div 3"), F.col("score"))
        ).alias("b2"),
    )
    return scored.join(F.broadcast(bounds), "lang").select(
        "doc_id", "lang", "score",
        F.when(F.col("score") <= F.col("b1"), F.lit("head"))
        .when(F.col("score") <= F.col("b2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


CCNET_SQL = """
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
  FROM documents
),
vocab AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM vocab),
per AS (
  SELECT doc_id, length(bin(n_total // cnt)) - 1 AS sbits
  FROM tok JOIN vocab USING (t) CROSS JOIN tot
),
doc AS (
  SELECT doc_id, CAST((1000 * SUM(sbits)) // COUNT(*) AS BIGINT) AS score
  FROM per GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id, m.lang, d.score FROM doc d JOIN documents m USING (doc_id)
),
hist AS (SELECT lang, score, COUNT(*) AS c FROM scored GROUP BY 1, 2),
cum AS (
  SELECT lang, score,
         SUM(c) OVER (PARTITION BY lang ORDER BY score) AS cum,
         SUM(c) OVER (PARTITION BY lang) AS n
  FROM hist
),
bounds AS (
  SELECT lang,
         MIN(CASE WHEN cum >= (n + 2) // 3 THEN score END) AS b1,
         MIN(CASE WHEN cum >= (2 * n + 2) // 3 THEN score END) AS b2
  FROM cum GROUP BY lang
)
SELECT s.doc_id, s.lang, s.score,
       CASE WHEN s.score <= b.b1 THEN 'head'
            WHEN s.score <= b.b2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s JOIN bounds b USING (lang)
ORDER BY s.doc_id
"""


def boilerplate_strip(spark: SparkSession, sf: str) -> DataFrame:
    """HTML boilerplate removal — the main-content extraction step of a
    web-corpus pipeline (trafilatura/jusText territory, the structural
    core): drop <script>/<style> payloads and <nav>/<header>/<footer>
    chrome blocks, strip remaining tags, unescape the basic entities,
    collapse whitespace.  Each document is wrapped in a deterministic
    page template (title, nav with 3 links, inline style, footer with 2
    links — built from the doc's own fields, no randomness), so the
    query is a ROUND TRIP: extraction must recover exactly the
    whitespace-normalized article text, and ``clean_roundtrip`` proves
    it per row.  All pure column regexes — map-only, scan speed, zero
    shuffles; (?s) non-greedy block patterns are RE2-portable so the
    identical expressions run on Spark's Java regex and DuckDB's RE2.

    At 100 TB this is the shape that matters: boilerplate removal is a
    per-row function of the raw page, so it rides the scan — the
    chrome-link count and retention ratio it emits are exactly the
    quality signals (link density, text share) the downstream Gopher
    gates consume."""
    docs = load(spark, sf, "documents").select("doc_id", "text", "source")
    body = F.regexp_replace(F.col("text"), r"\s+", " ")
    page = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit("</title><style>body{margin:0} .x{color:red}</style>"
              "<script>var t=1;</script></head><body>"
              "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> "
              "<a href=\"/c\">Contact</a></nav><header><h1>"),
        F.col("source"),
        F.lit("</h1></header><article><p>"),
        body,
        F.lit("</p></article><footer><a href=\"/t\">Terms</a> "
              "<a href=\"/p\">Privacy</a> &copy; corp</footer></body></html>"),
    )
    # strip order matters: payload blocks first (their text must not
    # leak), then chrome blocks, then remaining tags, then entities
    no_script = F.regexp_replace(page, r"(?s)<script.*?</script>", " ")
    no_style = F.regexp_replace(no_script, r"(?s)<style.*?</style>", " ")
    no_chrome = F.regexp_replace(
        no_style, r"(?s)<(nav|header|footer).*?</(nav|header|footer)>", " "
    )
    no_tags = F.regexp_replace(no_chrome, r"<[^>]*>", " ")
    unescaped = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(no_tags, r"&amp;", "&"),
            r"&(lt|gt);", " "),
        r"&[a-z]+;", " ")
    extracted = F.trim(F.regexp_replace(unescaped, r"\s+", " "))
    expected = F.trim(
        F.regexp_replace(
            F.concat(F.lit("Doc "), F.col("doc_id").cast("string"),
                     F.lit(" "), body),
            r"\s+", " ",
        )
    )
    n_links = F.size(F.split(page, "<a ")) - 1
    return (
        docs.select(
            "doc_id",
            extracted.alias("extracted"),
            (extracted == expected).alias("clean_roundtrip"),
            n_links.cast("int").alias("n_chrome_links"),
            F.length(extracted).alias("n_extracted_chars"),
            F.length(page).alias("n_page_chars"),
            F.round(F.length(extracted) / F.length(page).cast("double"), 9)
            .alias("retention_ratio"),
        )
        .orderBy("doc_id")
    )


BOILERPLATE_SQL = r"""
WITH base AS (
  SELECT doc_id, source, regexp_replace(text, '\s+', ' ', 'g') AS body
  FROM documents
),
pages AS (
  SELECT doc_id, body,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || '</title><style>body{margin:0} .x{color:red}</style>'
         || '<script>var t=1;</script></head><body>'
         || '<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav><header><h1>'
         || source || '</h1></header><article><p>' || body
         || '</p></article><footer><a href="/t">Terms</a> <a href="/p">Privacy</a> &copy; corp</footer></body></html>'
           AS page
  FROM base
),
stripped AS (
  SELECT doc_id, body, page,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(page, '(?s)<script.*?</script>', ' ', 'g'),
                       '(?s)<style.*?</style>', ' ', 'g'),
                     '(?s)<(nav|header|footer).*?</(nav|header|footer)>', ' ', 'g'),
                   '<[^>]*>', ' ', 'g'),
                 '&amp;', '&', 'g'),
               '&(lt|gt);', ' ', 'g'),
             '&[a-z]+;', ' ', 'g'),
           '\s+', ' ', 'g')) AS extracted
  FROM pages
)
SELECT doc_id,
       extracted,
       extracted = trim(regexp_replace('Doc ' || CAST(doc_id AS VARCHAR) || ' ' || body,
                                       '\s+', ' ', 'g')) AS clean_roundtrip,
       CAST(len(string_split(page, '<a ')) - 1 AS INT) AS n_chrome_links,
       CAST(length(extracted) AS BIGINT) AS n_extracted_chars,
       CAST(length(page) AS BIGINT) AS n_page_chars,
       round(length(extracted) / CAST(length(page) AS DOUBLE), 9) AS retention_ratio
FROM stripped
ORDER BY doc_id
"""


_QC_BUCKETS = 4096


def td_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based quality filtering, DCLM/fastText-shape (Li et al.
    2024, DataComp-LM; Joulin et al. 2017): train a linear classifier
    over HASHED unigram features against a weak-supervision label, then
    score every document with the learned weights — the pipeline stage
    that separates "heuristic gates" (Gopher rules) from "model-based"
    curation.  Both phases are ONE query here: in production the
    weights table is persisted and inference runs alone.

    Design: features are md5-prefix hash buckets (t → b ∈ [0, 4096),
    the fastText hashing trick — vocabulary never materializes, memory
    is O(4096) regardless of corpus); the weak label is the ``lang =
    'en'`` seed slice (the same curated-target convention as
    ``td_dsir_sample`` — production swaps in real curated seeds, e.g.
    Wikipedia-vs-crawl; an earlier type-token-ratio label was DROPPED
    because synthetic token identities are nearly independent of TTR —
    KL ≈ 0, every doc scored the smoothing bias, a degenerate
    all-negative classifier).  Per-bucket weight is the α=1/B-smoothed
    naive-Bayes log-odds ``ln((pos_b+α)/(pos_t+1)) −
    ln((neg_b+α)/(neg_t+1))`` under the dsir_sample determinism
    discipline: round-9 THEN DECIMAL(20,9), so the per-doc sum is
    exact and order-independent; α = 2⁻¹² is binary-exact in both
    engines.  Measured in-sample accuracy at sf0.01: 63% (182+132 of
    500) — a genuinely learned, non-degenerate separation on a corpus
    whose languages share most vocabulary.

    Scale shape: training = one explode → 4096-row groupBy (map-side
    combinable, output O(1); corpus totals reduce the stats frame via
    an O(B) unpartitioned window, never the corpus); inference =
    broadcast join of the 4096-row weight table onto the token stream
    + a doc-keyed combinable sum.  Two linear passes, zero corpus-sized
    shuffles beyond the doc-keyed aggregation.

    Ref: scale op beyond the reference — LLM-pipeline model-based
    quality curation (DCLM §4.4's winning filter class)."""
    scored = _qc_doc_scores(spark, sf)
    return scored.select(
        "doc_id",
        "n_tokens",
        # NO further rounding: the DECIMAL(20,9) sum is exact and its
        # VARCHAR-hopped double is engine-identical; rounding it to 6dp
        # is the q17 hazard — sums landing exactly on ...x500 hit the
        # HALF_UP-vs-nearest-double disagreement (caught by the r9
        # sf0.1 strict sweep: 0.252958500 -> .252959 vs .252958).
        F.col("sdec").cast("string").cast("double").alias("score"),
        (F.col("sdec") > 0).alias("quality_pred"),
    )


def _qc_doc_scores(spark: SparkSession, sf: str) -> DataFrame:
    """The classifier's shared train+score core: (doc_id, n_tokens,
    sdec) where sdec is the exact DECIMAL(20,9) sum of the doc's
    9-dp-rounded naive-Bayes bucket weights.  Kept decimal so consumers
    (the classifier query, the calibration table) can keep aggregating
    EXACTLY and only hop to double at presentation."""
    from pyspark.sql import Window

    docs = load(spark, sf, "documents").select("doc_id", "lang", "text")
    base = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_pos"),
        F.explode(tokens(F.col("text"))).alias("t"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long"),
        F.lit(_QC_BUCKETS),
    )
    feats = base.select("doc_id", "is_pos", bucket.alias("b"))
    counts = feats.groupBy("b").agg(
        F.sum(F.col("is_pos").cast("long")).alias("pos_c"),
        F.sum((~F.col("is_pos")).cast("long")).alias("neg_c"),
    )
    alpha = 1.0 / _QC_BUCKETS  # 2^-12, binary-exact
    wall = Window.partitionBy()  # O(B)-bounded stats reduce, as in dsir
    weights = counts.select(
        "b",
        F.round(
            F.log((F.col("pos_c") + F.lit(alpha))
                  / (F.sum("pos_c").over(wall) + F.lit(1.0)))
            - F.log((F.col("neg_c") + F.lit(alpha))
                    / (F.sum("neg_c").over(wall) + F.lit(1.0))),
            9,
        ).cast("decimal(20,9)").alias("w"),
    )
    return (
        feats.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("w").alias("sdec"))
    )


def td_quality_classifier_sorted(spark: SparkSession, sf: str) -> DataFrame:
    return td_quality_classifier(spark, sf).orderBy("doc_id")


# the q-prefixed CTE chain is shared verbatim with CURATION_E2E_SQL —
# a weight-formula fix lands in both oracles or neither
_QC_CTES = f"""qfeats AS MATERIALIZED (
  SELECT doc_id, lang = 'en' AS is_pos,
         CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) % {_QC_BUCKETS} AS b
  FROM (
    SELECT doc_id, lang,
           unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
    FROM documents
  )
),
qcounts AS (
  SELECT b, SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS pos_c,
         SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS neg_c
  FROM qfeats GROUP BY b
),
qtots AS (
  SELECT CAST(SUM(pos_c) AS BIGINT) AS pos_t, CAST(SUM(neg_c) AS BIGINT) AS neg_t
  FROM qcounts
),
qweights AS (
  SELECT b,
         CAST(round(ln((CAST(pos_c AS DOUBLE) + 0.000244140625) / CAST(pos_t + 1 AS DOUBLE))
                  - ln((CAST(neg_c AS DOUBLE) + 0.000244140625) / CAST(neg_t + 1 AS DOUBLE)), 9)
              AS DECIMAL(20,9)) AS w
  FROM qcounts CROSS JOIN qtots
),
qdoc AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(w) AS sdec
  FROM qfeats JOIN qweights USING (b) GROUP BY doc_id
)"""

QUALITY_CLASSIFIER_SQL = f"""
WITH {_QC_CTES}
SELECT doc_id, n_tokens,
       CAST(CAST(sdec AS VARCHAR) AS DOUBLE) AS score,
       sdec > 0 AS quality_pred
FROM qdoc ORDER BY doc_id
"""


_CAL_BINS = 10


def ml_calibration_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier reliability table — the eval every model-based
    curation gate needs before its threshold is trusted: bin the
    quality classifier's log-odds scores into 10 equal-width bins over
    the observed [min, max] and report each bin's empirical positive
    rate next to its mean score.  A well-calibrated (monotone) ranker
    shows pos_rate rising with mean_score; a flat profile means the
    gate is thresholding noise.  (Probability-space ECE needs the
    sigmoid — a transcendental that isn't bit-portable across engines —
    but monotone-rank calibration is threshold-equivalent, so the
    log-odds-domain table carries the same decision signal.)

    Determinism: bin edges derive from the VARCHAR-hopped double of the
    exact DECIMAL(20,9) score sum (engine-identical by construction);
    the bin index is floor(((score-mn)/(mx-mn))*10) — identical IEEE
    doubles through identical operation order; per-bin mean_score sums
    the DECIMAL scores exactly and hops once at presentation.

    Scale shape: scoring is the classifier's two linear passes; min/max
    is a 1-row broadcast; the table is a 10-group combinable aggregate.

    Ref: scale op beyond the reference — curation-model eval
    (reliability/calibration table for the DCLM-style gate)."""
    scored = _qc_doc_scores(spark, sf)
    labels = load(spark, sf, "documents").select(
        "doc_id", (F.col("lang") == "en").alias("is_pos")
    )
    sc = scored.select(
        "doc_id",
        "sdec",
        F.col("sdec").cast("string").cast("double").alias("score"),
    ).join(labels, "doc_id")
    mm = sc.agg(F.min("score").alias("mn"), F.max("score").alias("mx"))
    binned = sc.crossJoin(F.broadcast(mm)).select(
        "sdec",
        "is_pos",
        F.least(
            F.floor(
                (F.col("score") - F.col("mn"))
                / (F.col("mx") - F.col("mn"))
                * F.lit(_CAL_BINS)
            ),
            F.lit(_CAL_BINS - 1).cast("long"),
        ).alias("bin_id"),
    )
    return (
        binned.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("is_pos").cast("long")).alias("n_pos"),
            F.sum("sdec").alias("ssum"),
        )
        .select(
            "bin_id",
            "n_docs",
            "n_pos",
            F.round(F.col("n_pos").cast("double") / F.col("n_docs"), 9).alias(
                "pos_rate"
            ),
            F.round(
                F.col("ssum").cast("string").cast("double") / F.col("n_docs"), 9
            ).alias("mean_score"),
        )
        .orderBy("bin_id")
    )


CALIBRATION_SQL = f"""
WITH {_QC_CTES},
sc AS (
  SELECT q.doc_id, q.sdec, CAST(CAST(q.sdec AS VARCHAR) AS DOUBLE) AS score,
         d.lang = 'en' AS is_pos
  FROM qdoc q JOIN documents d USING (doc_id)
),
mm AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM sc),
binned AS (
  SELECT sdec, is_pos,
         LEAST(CAST(floor((score - mn) / (mx - mn) * {_CAL_BINS}) AS BIGINT),
               {_CAL_BINS - 1}) AS bin_id
  FROM sc CROSS JOIN mm
)
SELECT bin_id, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       round(CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 9)
         AS pos_rate,
       round(CAST(CAST(SUM(sdec) AS VARCHAR) AS DOUBLE) / COUNT(*), 9) AS mean_score
FROM binned
GROUP BY bin_id
ORDER BY bin_id
"""


def td_curation_model_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based corpus curation as ONE composed plan — the round-9
    additions chained the way a pretraining pipeline runs them: train
    the hashed-feature quality classifier on the corpus and GATE on its
    prediction (the DCLM step) → score survivors with the corpus-LM
    surprisal signal and tercile them per language (the CCNet step,
    boundaries computed on the SURVIVOR population — composition, not
    concatenation) → roll up the (lang, bucket) mixing manifest with
    token counts and corpus shares (what the sampler consumes).  Every
    stage is the same operator its standalone query verifies
    (``td_quality_classifier``, ``_lang_tercile_buckets``); this entry
    certifies their COMPOSITION against one oracle, the
    ``td_pipeline_e2e``/``medallion_e2e`` pattern.

    Plan shape: two token explodes (classifier features, surprisal) —
    each one linear scan with combinable aggregates; the tercile
    windows stay histogram-bounded on the survivor frame; the manifest
    is a 1-row-broadcast share division.  Zero corpus-sized sorts or
    windows anywhere.

    Ref: scale op beyond the reference — composed LLM-pipeline
    curation (DCLM gate → CCNet buckets → mixing manifest)."""
    qc = td_quality_classifier(spark, sf)
    survivors = qc.filter(F.col("quality_pred")).select("doc_id", "n_tokens")
    per = _surprisal_per_token(spark, sf)
    sdoc = per.groupBy("doc_id").agg(
        F.expr("(1000 * sum(sbits)) div count(1)").alias("score")
    )
    langs = load(spark, sf, "documents").select("doc_id", "lang")
    scored = survivors.select("doc_id").join(sdoc, "doc_id").join(langs, "doc_id")
    buck = _lang_tercile_buckets(scored.select("doc_id", "lang", "score"))
    man = (
        buck.select("doc_id", "lang", "bucket")
        .join(survivors, "doc_id")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )
    tot = man.agg(F.sum("sum_tokens").alias("tot"))
    return (
        man.crossJoin(F.broadcast(tot))
        .select(
            "lang", "bucket", "n_docs", "sum_tokens",
            F.round(
                F.col("sum_tokens").cast("double") / F.col("tot"), 9
            ).alias("token_share"),
        )
        .orderBy("lang", "bucket")
    )


CURATION_E2E_SQL = f"""
WITH {_QC_CTES},
survivors AS MATERIALIZED (SELECT doc_id, n_tokens FROM qdoc WHERE sdec > 0),
stok AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
  FROM documents
),
svocab AS (SELECT t, COUNT(*) AS cnt FROM stok GROUP BY t),
stot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM svocab),
sper AS (
  SELECT doc_id, length(bin(n_total // cnt)) - 1 AS sbits
  FROM stok JOIN svocab USING (t) CROSS JOIN stot
),
sdoc AS (
  SELECT doc_id, CAST((1000 * SUM(sbits)) // COUNT(*) AS BIGINT) AS score
  FROM sper GROUP BY doc_id
),
scored AS MATERIALIZED (
  SELECT s.doc_id, d.lang, sd.score
  FROM survivors s JOIN sdoc sd USING (doc_id) JOIN documents d USING (doc_id)
),
hist AS (SELECT lang, score, COUNT(*) AS c FROM scored GROUP BY 1, 2),
cum AS (
  SELECT lang, score,
         SUM(c) OVER (PARTITION BY lang ORDER BY score) AS cum,
         SUM(c) OVER (PARTITION BY lang) AS n
  FROM hist
),
bounds AS (
  SELECT lang,
         MIN(CASE WHEN cum >= (n + 2) // 3 THEN score END) AS b1,
         MIN(CASE WHEN cum >= (2 * n + 2) // 3 THEN score END) AS b2
  FROM cum GROUP BY lang
),
buck AS (
  SELECT s.doc_id, s.lang,
         CASE WHEN s.score <= b.b1 THEN 'head'
              WHEN s.score <= b.b2 THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM scored s JOIN bounds b USING (lang)
),
man AS (
  SELECT b.lang, b.bucket, COUNT(*) AS n_docs,
         CAST(SUM(sv.n_tokens) AS BIGINT) AS sum_tokens
  FROM buck b JOIN survivors sv USING (doc_id) GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(sum_tokens) AS BIGINT) AS tot FROM man)
SELECT lang, bucket, n_docs, sum_tokens,
       round(CAST(sum_tokens AS DOUBLE) / tot, 9) AS token_share
FROM man CROSS JOIN tot
ORDER BY lang, bucket
"""


# ---------------------------------------------------------------------------
# k-anonymity generalization ladder
# ---------------------------------------------------------------------------

_KANON_K = 10


def pii_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-record k-anonymity generalization (Sweeney 2002; the ladder
    step of Mondrian-style release pipelines): each customer is
    published at the FIRST generalization level of its quasi-identifier
    (nation, market segment) whose equivalence class reaches k=10 —
    level 0 = (nation, segment), level 1 = nation only, level 2 =
    global suppress.  Generalized QI columns are nulled past the
    chosen level, so the output itself satisfies k-anonymity.

    Scale shape: the equivalence classes are two COMBINABLE groupBys
    whose output is bounded by the QI domain (nations × segments), not
    by row count; records pick their level through broadcast joins
    against those class tables — one corpus scan, zero windows, zero
    row-pairwise work.  The global count comes from the parquet footer
    (parquet_num_rows, required=True — must equal the oracle's
    COUNT(*) or parity would silently break)."""
    total = parquet_num_rows(sf, "customer", required=True)
    cust = load(spark, sf, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    g0 = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n0")
    )
    g1 = cust.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n1"))
    k = F.lit(_KANON_K)
    lvl = (
        F.when(F.col("n0") >= k, F.lit(0))
        .when(F.col("n1") >= k, F.lit(1))
        .otherwise(F.lit(2))
    )
    size = (
        F.when(F.col("n0") >= k, F.col("n0"))
        .when(F.col("n1") >= k, F.col("n1"))
        .otherwise(F.lit(total).cast("long"))
    )
    return (
        cust.join(F.broadcast(g0), ["c_nationkey", "c_mktsegment"])
        .join(F.broadcast(g1), "c_nationkey")
        .select(
            "c_custkey",
            lvl.alias("anon_level"),
            size.alias("class_size"),
            F.when(lvl <= 1, F.col("c_nationkey")).alias("qi_nation"),
            F.when(lvl == 0, F.col("c_mktsegment")).alias("qi_segment"),
        )
        .orderBy("c_custkey")
    )


PII_KANON_SQL = f"""
WITH g0 AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n0
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
g1 AS (SELECT c_nationkey, COUNT(*) AS n1 FROM customer GROUP BY c_nationkey),
t AS (SELECT COUNT(*) AS nt FROM customer)
SELECT c.c_custkey,
       CASE WHEN n0 >= {_KANON_K} THEN 0
            WHEN n1 >= {_KANON_K} THEN 1 ELSE 2 END AS anon_level,
       CASE WHEN n0 >= {_KANON_K} THEN n0
            WHEN n1 >= {_KANON_K} THEN n1 ELSE t.nt END AS class_size,
       CASE WHEN n0 >= {_KANON_K} OR n1 >= {_KANON_K}
            THEN c.c_nationkey END AS qi_nation,
       CASE WHEN n0 >= {_KANON_K} THEN c.c_mktsegment END AS qi_segment
FROM customer c
JOIN g0 ON g0.c_nationkey = c.c_nationkey AND g0.c_mktsegment = c.c_mktsegment
JOIN g1 ON g1.c_nationkey = c.c_nationkey
CROSS JOIN t
ORDER BY c_custkey
"""


SPECS = [
    QuerySpec("pii_k_anonymity", pii_k_anonymity, PII_KANON_SQL,
              ref="scale op: k-anonymity generalization ladder (Sweeney "
                  "2002) — domain-bounded class tables via combinable "
                  "groupBys + broadcast level pick; footer-sourced "
                  "global count (required=True parity discipline)",
              doc="per-record minimal QI generalization to k=10 classes",
              tags=("privacy",)),
    QuerySpec("qual_boilerplate_strip", boilerplate_strip, BOILERPLATE_SQL,
              ref="scale op: main-content extraction from HTML chrome "
                  "(trafilatura-shape) — pure column regexes, map-only, "
                  "round-trip-proven per row",
              doc="script/style/nav/footer strip + entity unescape with "
                  "exact round-trip flag and link-density signals",
              tags=("text",)),
    QuerySpec("pii_scrub", pii_scrub, _pii_oracle(),
              ref="scale op; completes the reference's metadata-only PII handling "
                  "(transformer.py dc.contributor fields are stored unscrubbed)",
              doc="typed PII detection + placeholder redaction", tags=("text",)),
    QuerySpec("td_repetition_quality", repetition_quality, REPETITION_SQL,
              ref="scale op; Gopher repetition signals (Rae et al. 2021 A1.1) "
                  "as token-fraction analogs",
              doc="top/dup 2-gram fractions + repetition gate", tags=("text",)),
    QuerySpec("td_unigram_surprisal", unigram_surprisal, SURPRISAL_SQL,
              ref="scale op; CCNet-style LM quality filtering with an "
                  "engine-exact integer-surprisal unigram model",
              doc="per-doc mean unigram surprisal + low-information gate",
              tags=("text",)),
    QuerySpec("f_url_extract", url_extract, URL_EXTRACT_SQL,
              ref="scale op: URL/host/domain/path parse from mixed text "
                  "(RE2-portable regexes, map-only)",
              doc="URL extraction ahead of domain blocklists and caps",
              tags=("text",)),
    QuerySpec("td_domain_caps", domain_caps, DOMAIN_CAPS_SQL,
              ref="scale op: C4/RefinedWeb per-domain document cap; "
                  "hash-gate swap documented for power-law domains",
              doc="rank-within-domain cap keeping first N docs per domain",
              tags=("traindata",)),
    QuerySpec("td_domain_caps_scalable", domain_caps_scalable,
              _domain_caps_scalable_oracle(),
              ref="scale op: the hash-gate form of td_domain_caps — "
                  "expected-N retention, no per-domain sort, skew-immune",
              doc="probabilistic per-domain cap via deterministic md5 gate",
              tags=("traindata",)),
    QuerySpec("td_bigram_surprisal", bigram_surprisal, BIGRAM_SQL,
              ref="scale op; order-sensitive CCNet/KenLM-analog LM filter "
                  "(bigram conditional surprisal, unigram backoff at BOS)",
              doc="per-doc mean bigram conditional surprisal + gate",
              tags=("text",)),
    QuerySpec("td_ccnet_buckets", td_ccnet_buckets, CCNET_SQL,
              ref="scale op: CCNet head/middle/tail per-language quality "
                  "terciles (Wenzek et al. 2020) via bounded-histogram "
                  "exact order statistics — no corpus-sized sort",
              doc="per-language quality tercile bucketing on the "
                  "integer-surprisal LM score, boundaries broadcast",
              tags=("traindata",)),
    QuerySpec("td_curriculum_order", curriculum_order, CURRICULUM_SQL,
              ref="scale op: easy-to-hard curriculum phases from the "
                  "unigram-surprisal difficulty score",
              doc="deterministic curriculum ordering into training phases",
              tags=("traindata",)),
    QuerySpec("td_quality_classifier", td_quality_classifier_sorted,
              QUALITY_CLASSIFIER_SQL,
              ref="scale op: DCLM/fastText-shape model-based quality "
                  "filter — hashed-unigram features, integer NB "
                  "log-odds training + broadcast-weight inference in "
                  "one plan",
              doc="train + apply a hashed-feature linear quality "
                  "classifier over the documents corpus",
              tags=("traindata",)),
    QuerySpec("ml_calibration_bins", ml_calibration_bins, CALIBRATION_SQL,
              ref="scale op: curation-model eval — equal-width "
                  "reliability table over the classifier's log-odds "
                  "scores (10-group combinable aggregate, 1-row "
                  "min/max broadcast)",
              doc="per-bin positive rate vs mean score for the "
                  "quality classifier",
              tags=("traindata", "eval")),
    QuerySpec("td_curation_model_e2e", td_curation_model_e2e,
              CURATION_E2E_SQL,
              ref="scale op: composed model-based curation — DCLM "
                  "classifier gate → survivor-population CCNet "
                  "terciles → (lang, bucket) mixing manifest, one "
                  "oracle-checked plan",
              doc="model-gated per-language quality-bucket mixing "
                  "manifest with token shares",
              tags=("traindata",)),
    QuerySpec("qual_gopher_rules", gopher_rules, GOPHER_SQL,
              ref="scale op; Gopher document-shape filter battery "
                  "(Rae et al. 2021 table A1) as zero-shuffle array exprs",
              doc="word-count/word-length/symbol/alpha/stopword rules + gate",
              tags=("text",)),
]
