"""Distributed BPE tokenizer training — byte-pair-encoding merge
learning as iterative DataFrame algebra.

The missing piece of a training-data engine's text stack: everything
else (chunking, token budgets, packing) consumes a tokenizer; this
learns one.  Algorithm: Sennrich et al. 2016 ("Neural Machine
Translation of Rare Words with Subword Units") — repeatedly find the
most frequent adjacent symbol pair and merge it everywhere.

Why this scales to 100 TB where a naive port would not:

- **Learn on the word-frequency table, not the corpus.**  The classic
  implementation trick (Sennrich's own reference code does this): one
  corpus-wide ``explode → groupBy(word)`` reduces 100 TB of text to a
  vocab-sized table (Heaps' law: ~10⁷ rows even at web scale), and every
  subsequent iteration touches only that table, weighted by ``freq``.
- **Per iteration: one vocab-sized explode+groupBy + a 1-row argmax.**
  The pair-count aggregation partial-aggregates map-side; the argmax is
  a ``TakeOrdered(1)`` — a single scalar row to the driver per merge
  step, the same driver traffic as one Lloyd iteration of k-means
  (``operators/clustering.py``), not a data collect.
- **Merge application is map-only** (a literal ``replace`` over the
  vocab table) and each round is ``localCheckpoint``-ed so the plan
  stays one-round shallow (see ``operators/components.py`` for why).

Engine-portable greedy-merge encoding: a word's symbol sequence is the
concatenation of ``STX + symbol + US`` (STX = ``\\x02``, US = ``\\x1f``,
both absent from whitespace-tokenized text).  The pair pattern
``STX+l+US+STX+r+US → STX+l+r+US`` then makes standard left-to-right
non-overlapping ``replace`` exactly the greedy BPE merge, because the
frame closes BOTH failure modes of single-delimiter encodings
(property-tested, including a hypothesis comparison against an
independent sequential reference):

- the leading STX anchors every match to a token START, so ``l`` can
  never match the *suffix* of a longer token (``[cb, b]`` with pair
  (b,b) must not merge — a suffix-only ``l+US+r+US`` pattern wrongly
  fires inside ``cb␟b␟``), and the trailing US prevents ``r`` from
  matching a token *prefix* (``[a, bc]`` with pair (a,b));
- the pattern ends with US while the next candidate starts with STX —
  different characters, so consecutive matches never share a boundary
  byte and runs merge greedily: ``a a a a a`` → ``aa aa a``
  identically in Spark, DuckDB, and Python (a space-separated encoding
  gets this wrong: the shared boundary space makes replace skip
  alternate pairs).

Pair counting counts all adjacent occurrences (overlapping runs count
twice), matching the reference BPE implementation.

Oracle: the DuckDB SQL replays every iteration exactly — K unrolled
CTE stages of pair-count → argmax (same ``cnt DESC, l, r`` tie-break)
→ replace — so the driver's hash gate checks the full training
trajectory, not just the last step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.functions.text import tokens
from tlcn_oer_lakehouse_spark.queries.base import QuerySpec, load

STX = "\x02"  # start-of-text: symbol PREFIX (anchors matches to token starts)
US = "\x1f"   # unit separator: symbol SUFFIX (blocks prefix-of-next matches)
N_MERGES = 6


def _enc0_expr() -> F.Column:
    """word → its char-level encoding: each char wrapped STX+c+US."""
    return F.regexp_replace(F.col("word"), "(.)", STX + "$1" + US)


def _merge_pattern(l: str, r: str) -> tuple[str, str]:
    return STX + l + US + STX + r + US, STX + l + r + US


def _word_freqs(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _symbols_expr() -> F.Column:
    """enc → array of bare symbols: split on US (dropping the trailing
    empty element), then strip each token's leading STX."""
    sl = F.split(F.col("enc"), US)
    raw = F.slice(sl, 1, F.size(sl) - 1)
    return F.transform(raw, lambda x: x.substr(F.lit(2), F.length(x)))


def _adjacent_pair_counts(words: DataFrame) -> DataFrame:
    """(l, r, cnt) for every adjacent symbol pair, weighted by word
    frequency."""
    syms = _symbols_expr()
    # sequence(1, 0) would generate a DESCENDING [1, 0] in Spark — guard
    # single-symbol words to an empty pair array explicitly.
    pair_idx = F.when(
        F.size(syms) >= 2, F.sequence(F.lit(1), F.size(syms) - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = words.select(
        "freq",
        syms.alias("s"),
        F.explode(pair_idx).alias("i"),
    ).select(
        "freq",
        F.element_at("s", F.col("i")).alias("l"),
        F.element_at("s", F.col("i") + 1).alias("r"),
    )
    return pairs.groupBy("l", "r").agg(F.sum("freq").alias("cnt"))


def _train(
    spark: SparkSession, words: DataFrame, n_merges: int
) -> tuple[list[tuple], DataFrame]:
    """Run the merge-learning loop.  Returns (merge list, final vocab) —
    the vocab frame keeps (word, freq, enc) so the trained segmentation
    is directly joinable by the tokenize-apply step.

    Scale bound (stated, not hidden): each merge re-aggregates ALL
    adjacent-pair counts over the word-frequency table, so training is
    O(n_merges × distinct-words) — fine at the registered N_MERGES and
    at any corpus size (the word table after the frequency rollup is
    vocabulary-sized, ~millions of rows at 100 TB, not corpus-sized),
    but a 32k-merge production vocabulary wants DELTA-MAINTAINED pair
    counts: only words containing the merged pair change between steps
    (filter `array_contains`-style on (l,r)), so the upgrade is
    subtract-old/add-new pair counts for that slice instead of a full
    re-aggregate — same 1-row argmax per step, same join shapes.  The
    apply step is unaffected either way (ONE vocab-sized join, no
    per-merge replay over the corpus)."""
    vocab = words.select(
        "word", "freq", _enc0_expr().alias("enc")
    ).localCheckpoint()
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        best = (
            _adjacent_pair_counts(vocab)
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, cnt = best[0].l, best[0].r, int(best[0].cnt)
        merges.append((step, l, r, cnt))
        pat, rep = _merge_pattern(l, r)
        vocab = vocab.withColumn(
            "enc", F.replace(F.col("enc"), F.lit(pat), F.lit(rep))
        ).localCheckpoint()
    return merges, vocab


def _train_delta(
    spark: SparkSession, words: DataFrame, n_merges: int
) -> tuple[list[tuple], DataFrame]:
    """The 100 TB trainer: DELTA-MAINTAINED pair counts (the upgrade
    :func:`_train`'s docstring specifies).  The full adjacent-pair
    aggregate runs ONCE; each merge then touches only the words whose
    encoding contains the merged pair — their old pair contributions
    are subtracted and their re-encoded contributions added back, so
    per-merge work is O(affected words), not O(all words).  At a 32k-
    merge production vocabulary the affected slice shrinks rapidly
    (late merges touch a handful of words), which is what makes large
    vocabularies trainable.  Same 1-row argmax per step, same merge
    list, byte-identical final vocab — pinned equivalent to the full
    re-aggregate by test_bpe.py and by sharing td_bpe_merges' oracle."""
    vocab = words.select(
        "word", "freq", _enc0_expr().alias("enc")
    ).localCheckpoint()
    counts = _adjacent_pair_counts(vocab).localCheckpoint()
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        best = (
            counts.filter(F.col("cnt") > 0)
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, cnt = best[0].l, best[0].r, int(best[0].cnt)
        merges.append((step, l, r, cnt))
        pat, rep = _merge_pattern(l, r)
        affected = vocab.filter(F.col("enc").contains(pat))
        re_encoded = affected.withColumn(
            "enc", F.replace(F.col("enc"), F.lit(pat), F.lit(rep))
        )
        delta = (
            _adjacent_pair_counts(affected)
            .select("l", "r", (-F.col("cnt")).alias("cnt"))
            .unionByName(_adjacent_pair_counts(re_encoded))
        )
        counts = (
            counts.unionByName(delta)
            .groupBy("l", "r")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") != 0)
            .localCheckpoint()
        )
        vocab = (
            vocab.filter(~F.col("enc").contains(pat))
            .unionByName(re_encoded)
            .localCheckpoint()
        )
    return merges, vocab


def learn_bpe_merges(
    spark: SparkSession, words: DataFrame, n_merges: int = N_MERGES
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a (word, freq) table.  Returns
    the merge table (step, merge_left, merge_right, pair_count) — K rows
    of scalars, each the result of a distributed argmax (the only
    driver-side values in the loop, exactly like k-means centroids)."""
    merges, _ = _train(spark, words, n_merges)
    return spark.createDataFrame(
        merges, "step int, merge_left string, merge_right string, pair_count long"
    )


def bpe_learn_merges(spark: SparkSession, sf: str) -> DataFrame:
    return learn_bpe_merges(spark, _word_freqs(spark, sf)).orderBy("step")


def bpe_learn_merges_delta(spark: SparkSession, sf: str) -> DataFrame:
    """The delta-maintained trainer over the same corpus — result-
    identical to td_bpe_merges by construction (shared oracle, shared
    argmax tie-break), different cost model: per-merge work scales with
    the affected-word slice instead of the whole vocabulary."""
    merges, _ = _train_delta(spark, _word_freqs(spark, sf), N_MERGES)
    return spark.createDataFrame(
        merges, "step int, merge_left string, merge_right string, pair_count long"
    ).orderBy("step")


def _symbol_counts(words: DataFrame) -> DataFrame:
    """(s, scnt): freq-weighted occurrences of every symbol across the
    vocab — the denominator terms of the WordPiece likelihood score."""
    return (
        words.select("freq", F.explode(_symbols_expr()).alias("s"))
        .groupBy("s")
        .agg(F.sum("freq").alias("scnt"))
    )


def learn_wordpiece_merges(
    spark: SparkSession, words: DataFrame, n_merges: int = N_MERGES
) -> DataFrame:
    """WordPiece merge learning (Schuster & Nakajima 2012; the HF
    trainer's selection rule) on the same machinery as BPE — only the
    argmax criterion changes: instead of raw pair count, maximize the
    likelihood score ``count(l,r) / (count(l) · count(r))``, which
    prefers pairs whose co-occurrence is high *relative to* their parts
    (BPE's raw count always grabs the most frequent pair; WordPiece
    grabs the most *surprising* one).  Score determinism: one division
    of exact BIGINTs → correctly-rounded double, identical in both
    engines; ties break on (l, r).  Per iteration this adds one
    vocab-sized symbol-count aggregation and two small joins to the BPE
    loop — same asymptotics, same 1-row argmax."""
    vocab = words.select(
        "word", "freq", _enc0_expr().alias("enc")
    ).localCheckpoint()
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        pc = _adjacent_pair_counts(vocab)
        sc = _symbol_counts(vocab)
        scored = (
            pc.join(
                sc.withColumnRenamed("s", "l").withColumnRenamed("scnt", "lcnt"),
                "l",
            )
            .join(
                sc.withColumnRenamed("s", "r").withColumnRenamed("scnt", "rcnt"),
                "r",
            )
            .select(
                "l", "r", "cnt",
                (F.col("cnt") / (F.col("lcnt") * F.col("rcnt"))).alias("score"),
            )
        )
        best = (
            scored.orderBy(
                F.col("score").desc(), F.col("l").asc(), F.col("r").asc()
            )
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r = best[0].l, best[0].r
        merges.append((step, l, r, int(best[0].cnt), round(best[0].score, 9)))
        pat, rep = _merge_pattern(l, r)
        vocab = vocab.withColumn(
            "enc", F.replace(F.col("enc"), F.lit(pat), F.lit(rep))
        ).localCheckpoint()
    return spark.createDataFrame(
        merges,
        "step int, merge_left string, merge_right string, "
        "pair_count long, score double",
    )


def wordpiece_learn_merges(spark: SparkSession, sf: str) -> DataFrame:
    return learn_wordpiece_merges(spark, _word_freqs(spark, sf)).orderBy("step")


def bpe_tokenize_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Apply the trained tokenizer: per-document token counts under the
    learned subword vocabulary — the "how many training tokens is this
    corpus" question every data pipeline answers before a run, asked of
    the tokenizer it just trained rather than a whitespace proxy.

    The segmentation lives on the vocab table (word → n_subwords after
    K merges), so application is ONE keyed join from exploded corpus
    words to a vocab-sized side — no per-document merge replay.  At 100
    TB the vocab side is millions of rows (broadcastable or
    bucket-joinable); the corpus side streams through map-side."""
    merges, vocab = _train(spark, _word_freqs(spark, sf), N_MERGES)
    seg = vocab.select(
        "word", (F.size(F.split(F.col("enc"), US)) - 1).alias("n_subwords")
    )
    doc_words = load(spark, sf, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    )
    return (
        doc_words.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_subwords").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


# SQL fragments of the STX+sym+US encoding (chr(2) / chr(31)):
_SQL_WORDS0 = """words0 AS (
  SELECT word, COUNT(*) AS freq
  FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
        FROM documents)
  GROUP BY word
)"""
_SQL_ENC0 = (
    "enc0 AS (SELECT word, freq, "
    "regexp_replace(word, '(.)', chr(2) || '\\1' || chr(31), 'g') AS enc "
    "FROM words0)"
)
_SQL_REPLACE = (
    "replace(enc, chr(2) || b.l || chr(31) || chr(2) || b.r || chr(31), "
    "chr(2) || b.l || b.r || chr(31))"
)


def _sql_pairs(k: int, prev: str) -> str:
    # sl[i] carries the leading STX — stripped with substring(_, 2)
    return f"""pairs{k} AS (
  SELECT freq, substring(sl[i], 2) AS l, substring(sl[i + 1], 2) AS r
  FROM (SELECT freq, string_split(enc, chr(31)) AS sl FROM {prev}),
       unnest(generate_series(1, len(sl) - 2)) AS g(i)
)"""


def _training_ctes(n_merges: int) -> list[str]:
    """The shared CTE chain replaying the training loop; ``word`` rides
    through every enc stage so the final segmentation is joinable."""
    parts = [_SQL_WORDS0, _SQL_ENC0]
    for k in range(1, n_merges + 1):
        prev = f"enc{k - 1}"
        parts.append(_sql_pairs(k, prev))
        parts.append(
            f"best{k} AS (SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt "
            f"FROM pairs{k} GROUP BY l, r ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)"
        )
        parts.append(
            f"enc{k} AS (SELECT word, freq, {_SQL_REPLACE} AS enc "
            f"FROM {prev}, best{k} b)"
        )
    return parts


def _bpe_oracle(n_merges: int = N_MERGES) -> str:
    """K unrolled CTE stages replaying the exact training loop."""
    selects = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, l AS merge_left, r AS merge_right, cnt AS pair_count FROM best{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(_training_ctes(n_merges)) + f"\n{selects}\nORDER BY step"


def _bpe_tokenize_oracle(n_merges: int = N_MERGES) -> str:
    parts = _training_ctes(n_merges) + [
        f"seg AS (SELECT word, len(string_split(enc, chr(31))) - 1 AS n_subwords FROM enc{n_merges})",
        """docw AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents)""",
    ]
    return (
        "WITH " + ",\n".join(parts)
        + """
SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(n_subwords) AS BIGINT) AS n_bpe_tokens
FROM docw JOIN seg USING (word)
GROUP BY doc_id
ORDER BY doc_id"""
    )


def _wordpiece_oracle(n_merges: int = N_MERGES) -> str:
    """K unrolled stages replaying the WordPiece loop: pair counts +
    symbol counts + likelihood argmax + replace, per stage."""
    parts = [_SQL_WORDS0, _SQL_ENC0]
    for k in range(1, n_merges + 1):
        prev = f"enc{k - 1}"
        parts.append(_sql_pairs(k, prev))
        parts.append(
            f"pc{k} AS (SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt "
            f"FROM pairs{k} GROUP BY l, r)"
        )
        parts.append(
            f"""sc{k} AS (
  SELECT s, CAST(SUM(freq) AS BIGINT) AS scnt
  FROM (SELECT freq, substring(s_raw, 2) AS s
        FROM (SELECT freq, unnest(sl[1:len(sl) - 1]) AS s_raw
              FROM (SELECT freq, string_split(enc, chr(31)) AS sl FROM {prev})))
  GROUP BY s
)"""
        )
        parts.append(
            f"best{k} AS (SELECT pc.l, pc.r, pc.cnt, "
            f"pc.cnt / (lc.scnt * rc.scnt) AS score "
            f"FROM pc{k} pc JOIN sc{k} lc ON pc.l = lc.s "
            f"JOIN sc{k} rc ON pc.r = rc.s "
            f"ORDER BY score DESC, pc.l ASC, pc.r ASC LIMIT 1)"
        )
        # MATERIALIZED: every stage reads enc{k} three times, and DuckDB
        # inlining it into each consumer grows the plan exponentially in k
        parts.append(
            f"enc{k} AS MATERIALIZED (SELECT word, freq, {_SQL_REPLACE} AS enc "
            f"FROM {prev}, best{k} b)"
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, l AS merge_left, r AS merge_right, "
        f"cnt AS pair_count, round(score, 9) AS score FROM best{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(parts) + f"\n{selects}\nORDER BY step"


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) Viterbi segmentation
# ---------------------------------------------------------------------------

_UNI_MAXLEN = 20   # word-length cap (longer words excluded, both engines)
_UNI_PIECE_L = 4   # max piece length
_UNI_TOPK = 300    # multi-char vocab size (all single chars always kept)
_UNI_TOPW = 100    # output rows: top words by (freq desc, word)


def unigram_viterbi_segment(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM subword segmentation (the third canonical tokenizer
    family after BPE's greedy merges and WordPiece's likelihood merges):
    exact Viterbi minimum-cost segmentation of every word under a
    frequency-seeded piece model — the inference core of SentencePiece
    (Kudo 2018).  EM piece-reweighting is deliberately omitted: float EM
    is not cross-engine reproducible, so the model is DEFINED as the
    integer-surprisal seed model (piece cost = bits(total div cnt), the
    same transcendental-free device as td_unigram_surprisal) and the
    oracle replays vocab seeding, costs, and the full DP bit-for-bit.

    Scale shape: everything runs on the VOCAB-sized word-frequency
    table, never the corpus — substring explode is ≤ 4·len pieces per
    distinct word; the candidate lookup is one keyed equi-join against
    the (≤ 300 + alphabet)-piece vocab; the Viterbi DP is 20 chained
    column expressions over a per-word cost map (map-only, no shuffle,
    no per-position joins).  Output: the top-100 words with their
    minimal segmentation cost in bits."""
    words = (
        _word_freqs(spark, sf)
        .filter(F.length("word") <= _UNI_MAXLEN)
        .persist()
    )
    pos = F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i")
    ln = F.explode(F.sequence(F.lit(1), F.lit(_UNI_PIECE_L))).alias("l")
    subs = (
        words.select("word", "freq", pos)
        .select("word", "freq", "i", ln)
        .filter(F.col("i") + F.col("l") - 1 <= F.length("word"))
        .select(F.expr("substring(word, i, l)").alias("piece"),
                "freq", "i", "l", "word")
    )
    piece_counts = subs.groupBy("piece").agg(F.sum("freq").alias("wcnt"))
    singles = piece_counts.filter(F.length("piece") == 1)
    multi = (
        piece_counts.filter(F.length("piece") > 1)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("wcnt").desc(), F.col("piece").asc())
            ),
        )
        .filter(F.col("rn") <= _UNI_TOPK)
        .drop("rn")
    )
    vocab = singles.unionByName(multi)
    tot = vocab.agg(F.sum("wcnt").alias("t"))
    scored = (
        vocab.crossJoin(F.broadcast(tot))
        .select("piece",
                (F.length(F.bin(F.expr("t div wcnt"))) - F.lit(1)).alias("bits"))
    )
    # (word, e, l) is unique by construction (e = i + l - 1 pins i), so
    # no distinct is needed and map_from_entries sees duplicate-free keys
    cand = subs.join(scored, "piece").select(
        "word", (F.col("i") + F.col("l") - 1).alias("e"), "l", "bits"
    )
    cost_map = cand.groupBy("word").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct((F.col("e") * 8 + F.col("l")).alias("k"),
                         F.col("bits").alias("v"))
            )
        ).alias("m")
    )
    dp = words.join(cost_map, "word").withColumn("b0", F.lit(0))
    for i in range(1, _UNI_MAXLEN + 1):
        terms = [
            F.col(f"b{i - l}") + F.element_at(F.col("m"), F.lit(i * 8 + l))
            for l in range(1, min(_UNI_PIECE_L, i) + 1)
        ]
        dp = dp.withColumn(f"b{i}", F.least(*terms) if len(terms) > 1 else terms[0])
    min_bits = F.col(f"b{_UNI_MAXLEN}")
    for i in range(_UNI_MAXLEN - 1, 0, -1):
        min_bits = F.when(F.length("word") == i, F.col(f"b{i}")).otherwise(min_bits)
    ranked = (
        dp.select("word", "freq", F.length("word").alias("word_len"),
                  min_bits.alias("min_bits"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("freq").desc(), F.col("word").asc())
            ),
        )
        .filter(F.col("rn") <= _UNI_TOPW)
        .drop("rn")
    )
    return ranked


def _unigram_oracle() -> str:
    b = _UNI_PIECE_L
    ctes = [
        f"""words AS MATERIALIZED (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
    FROM documents)
  GROUP BY word HAVING length(word) <= {_UNI_MAXLEN})""",
        """subs AS MATERIALIZED (
  SELECT word, freq, i, l, substring(word, i, l) AS piece
  FROM (SELECT word, freq, unnest(generate_series(1, length(word))) AS i
        FROM words)
  CROSS JOIN (VALUES (1), (2), (3), (4)) ls(l)
  WHERE i + l - 1 <= length(word))""",
        "pc AS MATERIALIZED (SELECT piece, SUM(freq) AS wcnt FROM subs GROUP BY piece)",
        f"""vocab AS MATERIALIZED (
  SELECT piece, wcnt FROM pc WHERE length(piece) = 1
  UNION ALL
  SELECT piece, wcnt FROM (
    SELECT piece, wcnt, row_number() OVER (ORDER BY wcnt DESC, piece ASC) AS rn
    FROM pc WHERE length(piece) > 1) WHERE rn <= {_UNI_TOPK})""",
        "tot AS (SELECT SUM(wcnt) AS t FROM vocab)",
        """scored AS MATERIALIZED (
  SELECT piece, length(bin(t // wcnt)) - 1 AS bits FROM vocab CROSS JOIN tot)""",
        """cand AS MATERIALIZED (
  SELECT s.word, s.i + s.l - 1 AS e, s.l, sc.bits
  FROM subs s JOIN scored sc ON sc.piece = s.piece)""",
        "b0 AS MATERIALIZED (SELECT word, 0 AS c FROM words)",
    ]
    for i in range(1, _UNI_MAXLEN + 1):
        joins, terms = [], []
        for l in range(1, min(b, i) + 1):
            joins.append(
                f"LEFT JOIN cand c{l} ON c{l}.word = b0.word "
                f"AND c{l}.e = {i} AND c{l}.l = {l}"
            )
            terms.append(f"b{i - l}.c + c{l}.bits")
        prev_joins = " ".join(
            f"LEFT JOIN b{i - l} ON b{i - l}.word = b0.word"
            for l in range(1, min(b, i) + 1)
            if i - l != 0
        )
        least = terms[0] if len(terms) == 1 else f"LEAST({', '.join(terms)})"
        ctes.append(
            f"b{i} AS MATERIALIZED (SELECT b0.word, {least} AS c "
            f"FROM b0 {prev_joins} {' '.join(joins)})"
        )
    case = " ".join(
        f"WHEN {i} THEN b{i}.c" for i in range(1, _UNI_MAXLEN + 1)
    )
    ans_joins = " ".join(
        f"LEFT JOIN b{i} ON b{i}.word = w.word"
        for i in range(1, _UNI_MAXLEN + 1)
    )
    ctes.append(
        f"""ans AS (
  SELECT w.word, w.freq, length(w.word) AS word_len,
         CASE length(w.word) {case} END AS min_bits,
         row_number() OVER (ORDER BY w.freq DESC, w.word ASC) AS rn
  FROM words w {ans_joins})"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT word, freq, word_len, min_bits FROM ans WHERE rn <= {_UNI_TOPW}"
    )


def td_unigram_segment(spark: SparkSession, sf: str) -> DataFrame:
    return unigram_viterbi_segment(spark, sf)


SPECS = [
    QuerySpec(
        "td_bpe_merges",
        bpe_learn_merges,
        _bpe_oracle(),
        ref="scale op: BPE subword-vocab training (Sennrich et al. 2016) "
            "on the word-frequency table; oracle replays all iterations",
        doc="distributed BPE merge learning, K=6 merge steps",
        tags=("text",),
    ),
    QuerySpec(
        "td_bpe_merges_delta",
        bpe_learn_merges_delta,
        _bpe_oracle(),
        ref="scale op: DELTA-MAINTAINED BPE pair counts — the 32k-merge "
            "production trainer (per-merge cost O(affected words)); "
            "shares td_bpe_merges' oracle, proving result identity",
        doc="BPE merge learning via incremental pair-count maintenance",
        tags=("text",),
    ),
    QuerySpec(
        "td_bpe_tokenize",
        bpe_tokenize_counts,
        _bpe_tokenize_oracle(),
        ref="scale op: trained-tokenizer token counting — segmentation "
            "applied via one vocab-sized keyed join, no per-doc replay",
        doc="per-document subword token counts under the learned BPE vocab",
        tags=("text",),
    ),
    QuerySpec(
        "td_wordpiece_merges",
        wordpiece_learn_merges,
        _wordpiece_oracle(),
        ref="scale op: WordPiece likelihood-scored merge learning "
            "(Schuster & Nakajima 2012) on the shared BPE machinery",
        doc="WordPiece tokenizer training, K=6 merge steps with scores",
        tags=("text",),
    ),
    QuerySpec(
        "td_unigram_segment",
        td_unigram_segment,
        _unigram_oracle(),
        ref="scale op: unigram-LM Viterbi segmentation (Kudo 2018 "
            "inference core) under an integer-surprisal piece model — "
            "completes the BPE/WordPiece/Unigram tokenizer trilogy",
        doc="exact min-cost subword segmentation, full DP oracle-replayed",
        tags=("text",),
    ),
]
