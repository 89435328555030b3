"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine. The scale-path family a 100 TB training-data pipeline
needs; the reference only has exact-fingerprint incremental dedup
(transformer.py:310-337 record_fingerprint + W1 latest-wins window).

All operators are DataFrame→DataFrame compositions of built-in functions —
hashing via md5 expressions (portable: the same signatures are computable
in any engine, so every operator is oracle-verifiable), aggregation via
hash-agg, candidate generation via equi-joins on hash buckets.

Scale design:
- exact:   one groupBy(fingerprint) shuffle; fingerprints are uniformly
           distributed so no skew.
- minhash: explode(shingles) → groupBy(doc) [shuffle 1] → explode(bands)
           → self-join on (band, band_hash) [shuffle 2, bucket-sized] →
           verify only candidates. Never all-pairs.
- simhash: one groupBy(doc) for the signature; candidate pairing joins on
           signature prefix bands (here: all-pairs fallback below a row
           threshold, prefix-band join above it).
- ngram-jaccard: exact verify path; pairs come from a shared-shingle
           equi-join, not a cross join.
- embedding: all-pairs only within sign-buckets (see similarity.py) —
           brute force is the correctness baseline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.functions.text import fingerprint, shingles, tokens
from tlcn_oer_lakehouse_spark.functions.vectors import cosine


def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content fingerprint: one row per duplicate group with
    the canonical (minimum) id, member list, and group size."""
    return (
        df.select(F.col(id_col).alias("member_id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("member_id").alias("canonical_id"),
            F.sort_array(F.collect_list("member_id")).alias("member_ids"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .filter(F.col("group_size") > 1)
    )


# Affine universal-hash family over one md5 base hash:
#   h_i(s) = (A_i * base(s) + B_i) mod P,  base(s) = int(md5(s)[0:8], 16)
# One md5 per shingle instead of num_hashes md5s; the affine step is
# integer codegen.  P = 2^31-1 keeps every product < 2^63 (A_i < 2^17,
# base < 2^32).  Portable: the same arithmetic runs in any SQL engine.
# (At production scale swap base() for xxhash64 — same structure, no
# cross-engine-oracle constraint there.)
MINHASH_P = 2_147_483_647


def _minhash_a(i: int) -> int:
    return i * 4097 + 1


def _minhash_b(i: int) -> int:
    return i * 12289


def _base_hash(shingle: Column) -> Column:
    return F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("long")


def minhash_lsh_candidate_pairs(
    sigs: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_hashes // bands`` rows, hash each band, and equi-join documents
    sharing any band hash. Returns distinct (doc_a, doc_b) with
    doc_a < doc_b. The join key is (band_no, band_hash) — bucket-sized,
    never a cross product."""
    rows = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band_no"),
            F.md5(F.concat_ws(",", *[F.col(f"h{b * rows + r}") for r in range(rows)])).alias("band_hash"),
        )
        for b in range(bands)
    ]
    banded = sigs.select(
        F.col("doc"), F.explode(F.array(*band_structs)).alias("band")
    ).select("doc", "band.band_no", "band.band_hash")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates()
    )


def shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Exploded distinct shingles per document: (doc, shingle, bh) where
    bh is the base hash.  The shared intermediate of the minhash
    pipeline — computed (and persisted) ONCE, then reused by signature
    aggregation, candidate banding and exact verify, instead of
    re-deriving the tokenize→shingle→distinct→hash chain per consumer.

    ``hash_fn``: 'md5' (default — md5-prefix integers, replayable in any
    SQL engine, the oracle-checkable form) or 'xxhash64' (the production
    form: one JVM intrinsic per shingle instead of a cryptographic hash
    + hex parse; same positive-31-bit range so the affine family is
    unchanged).  Exact-duplicate behavior is hash-independent; marginal
    near-dup candidates may differ between families, which is why the
    registered queries pin md5."""
    if hash_fn == "xxhash64":
        bh = F.pmod(F.xxhash64(F.col("shingle")), F.lit(MINHASH_P)).cast("long")
    else:
        bh = _base_hash(F.col("shingle"))
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array_distinct(shingles(tokens(F.col(text_col)), shingle_n))
        ).alias("shingle"),
    ).withColumn("bh", bh)


def jaccard_verify_from(
    sh: DataFrame, pairs: DataFrame, sizes: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for candidate pairs:
    |A∩B| via a shared-shingle join, |A∪B| = |A|+|B|-|A∩B|. Integer
    counts → double division: deterministic.  ``sh`` is a (doc, shingle)
    DataFrame, ideally persisted by the caller.  ``sizes`` (doc,
    n_shingles) may be supplied when the caller already aggregated per
    doc (e.g. alongside minhash signatures) — saves one wide shuffle
    over the shingle table."""
    if sizes is None:
        sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = (
        pairs.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
        .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))).alias("jaccard"),
        )
    )


def minhash_doc_arrays(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """Per-doc distinct shingle ARRAYS: (doc, tok_arr) — UNFILTERED.
    The array-form shared intermediate of the minhash pipeline: one
    tokenize→shingle→distinct pass per document, no explode, no
    shuffle.  Callers persist this frame and filter empties FROM THE
    CACHE: a ``filter(size(tok_arr) > 0)`` placed below the persist
    gets pushed under the projection by Catalyst and re-evaluates the
    whole array expression a second time per row in the Filter node
    (measured 1.3 s → 8.3 s at sf0.1 — shingles() contains lambda
    expressions, which fall back to interpreted evaluation)."""
    arr = F.array_distinct(shingles(tokens(F.col(text_col)), shingle_n))
    return df.select(F.col(id_col).alias("doc"), arr.alias("tok_arr"))


def jaccard_verify_arrays(pairs: DataFrame, docs_arr: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs via per-pair array intersection:
    two doc-keyed equi-joins fetch the distinct-shingle arrays and
    |A∩B| is a map-side ``array_intersect`` — no exploded-row fan-out
    joins, no per-pair aggregation shuffle.  Value-identical to
    :func:`jaccard_verify_from` (same distinct sets, same integer
    counts, same double division).  ``docs_arr`` must carry
    (doc, tok_arr, n_shingles)."""
    inter = F.size(F.array_intersect("ta", "tb"))
    return (
        pairs.join(
            docs_arr.select(
                F.col("doc").alias("doc_a"),
                F.col("tok_arr").alias("ta"),
                F.col("n_shingles").alias("na"),
            ),
            "doc_a",
        )
        .join(
            docs_arr.select(
                F.col("doc").alias("doc_b"),
                F.col("tok_arr").alias("tb"),
                F.col("n_shingles").alias("nb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (inter / (F.col("na") + F.col("nb") - inter)).alias("jaccard"),
        )
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    hash_fn: str = "md5",
    doc_arrays: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline, array form (r11): one
    persisted per-doc array frame → map-side fold signatures → banded
    candidate pairs → per-pair ``array_intersect`` exact verify →
    threshold filter.

    vs the r7-r10 exploded form (shingle explode + groupBy signatures +
    two exploded-row verify joins + per-pair count aggregate): the
    tokenize→shingle→distinct pass runs once into the persisted array
    frame, signatures explode FROM THE CACHE (codegen'd base hash +
    map-side-combined min aggregate — higher-order per-element hashing
    measured slower: lambdas evaluate interpreted), and the verify
    moves one array row per pair side instead of ~|A| skinny rows per
    candidate.  Output is value-identical (same distinct shingle sets,
    same affine mins, same integer intersection counts).
    ``hash_fn='xxhash64'`` selects the production hash (see
    :func:`shingle_rows`).  ``doc_arrays`` lets a caller that already
    persisted the :func:`minhash_doc_arrays` frame for the SAME
    (df, id_col, text_col, shingle_n) hand it in, sharing one cache and
    one tokenize pass (dedup_recall_eval's truth side does)."""
    if doc_arrays is not None:
        base = doc_arrays
    else:
        base = minhash_doc_arrays(df, id_col, text_col, shingle_n).persist()
    # filter + size evaluate against the CACHED column (see
    # minhash_doc_arrays on why the filter must sit above the persist)
    docs_arr = base.filter(F.size("tok_arr") > 0).select(
        "doc", "tok_arr", F.size("tok_arr").alias("n_shingles")
    )
    if hash_fn == "xxhash64":
        bh = F.pmod(F.xxhash64(F.col("shingle")), F.lit(MINHASH_P)).cast("long")
    else:
        bh = _base_hash(F.col("shingle"))
    sh = docs_arr.select("doc", F.explode("tok_arr").alias("shingle")).select(
        "doc", bh.alias("bh")
    )
    sigs = sh.groupBy("doc").agg(
        *[
            F.min((F.col("bh") * _minhash_a(i) + _minhash_b(i)) % MINHASH_P).alias(
                f"h{i}"
            )
            for i in range(num_hashes)
        ]
    )
    cands = minhash_lsh_candidate_pairs(sigs, num_hashes, bands)
    verified = jaccard_verify_arrays(cands, docs_arr)
    return verified.filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup: candidates = pairs sharing ≥1
    RARE shingle (document frequency ≤ ``max_df``), then exact Jaccard
    over the FULL shingle sets.

    The df cap is the skew guard: without it, one stop-phrase shingle
    shared by 10⁶ docs produces ~10¹² candidate rows on that single join
    key (quadratic in the hot key's df).  Capping df bounds per-key
    candidate fan-out at max_df², and standard practice (Lee et al. 2022
    "Deduplicating Training Data", SlimPajama) drops shingles appearing
    in more than ~100 docs — a pair sharing ONLY ubiquitous shingles is
    overwhelmingly below any useful Jaccard threshold anyway.  The exact
    verify step still uses every shingle, so reported Jaccard values are
    uncapped; only candidate *generation* is df-limited.

    Array form (r11, same rework as :func:`minhash_near_duplicates`):
    the persisted intermediate is the per-doc distinct-shingle ARRAY
    frame; the df aggregate and the rare-shingle pairing explode FROM
    THE CACHE (they genuinely need exploded rows), but the verify is
    :func:`jaccard_verify_arrays` — one array row per pair side and a
    map-side ``array_intersect`` instead of two exploded-row joins plus
    a per-pair count aggregate.  Value-identical: same distinct sets,
    same integer counts, same double division."""
    base = minhash_doc_arrays(df, id_col, text_col, shingle_n).persist()
    docs_arr = base.filter(F.size("tok_arr") > 0).select(
        "doc", "tok_arr", F.size("tok_arr").alias("n_shingles")
    )
    sh = docs_arr.select("doc", F.explode("tok_arr").alias("shingle"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("shingle")
    )
    sh_rare = sh.join(rare, "shingle")
    pairs = (
        sh_rare.alias("a")
        .join(
            sh_rare.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates()
    )
    return jaccard_verify_arrays(pairs, docs_arr).filter(
        F.col("jaccard") >= threshold
    )


def _tau_fraction(threshold: float) -> tuple[int, int]:
    """EXACT-RATIONAL threshold (ADVICE r9): the prefix length n−⌈τn⌉+1
    and the PPJoin required overlap ⌈τ/(1+τ)·(na+nb)⌉ must never round
    the wrong way — a float ⌈0.55·n⌉ whose double product lands just
    above an exact integer overshoots the ceil, shortening the prefix
    and silently breaking the EXACT guarantee.  τ is therefore read as
    the decimal the caller wrote (Fraction of its shortest repr, e.g.
    0.55 → 11/20) and every ceil becomes integer ceil-division
    ((p·n + q − 1) div q) — pure BIGINT arithmetic on both sides of
    every comparison, no float ever touches a bound."""
    from fractions import Fraction

    tau_f = Fraction(str(float(threshold)))
    if not 0 < tau_f <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    p, q = tau_f.numerator, tau_f.denominator
    if q > 1_000_000:
        raise ValueError(
            f"threshold {threshold} has no short exact decimal form "
            f"(denominator {q}); pass a rounded decimal so the exact "
            f"integer bounds stay within BIGINT range"
        )
    return p, q


def _df_ordered_arrays(sh: DataFrame, freq: DataFrame, how: str = "inner") -> DataFrame:
    """Per-doc shingle arrays sorted by the (df, shingle) global order
    ``freq`` defines.  ``how='left'`` admits shingles absent from
    ``freq`` at df=0 — rarer than everything observed, so a frozen
    standing-index order extends consistently to batch-only tokens
    (any TOTAL order preserves prefix-filter exactness; df-freshness
    only affects pruning power)."""
    df_key = F.coalesce(F.col("df"), F.lit(0)) if how == "left" else F.col("df")
    return (
        sh.join(freq, "shingle", how)
        .groupBy("doc")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(df_key.alias("df"), F.col("shingle").alias("shingle"))
                )
            ).alias("toks")
        )
        .select(
            "doc",
            F.transform("toks", lambda s: s["shingle"]).alias("tok_arr"),
            F.size("toks").alias("n"),
        )
    )


def _prefix_rows(ordered: DataFrame, p: int, q: int) -> DataFrame:
    """Explode each doc's first n − ⌈p·n/q⌉ + 1 ordered shingles (the
    prefix-filter theorem's window), ceil as integer ceil-division."""
    plen = (
        F.col("n")
        - F.expr(f"({p}L * n + {q - 1}) div {q}").cast("int")
        + F.lit(1)
    )
    return ordered.select(
        F.col("doc"),
        F.col("n"),
        F.posexplode(F.slice("tok_arr", F.lit(1), plen)).alias("pos0", "shingle"),
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (Chaudhuri et
    al. ICDE'06; PPJoin, Xiao et al. WWW'08; distributed form: Vernica
    et al. SIGMOD'10): every pair with Jaccard ≥ τ is returned, with a
    correctness GUARANTEE on candidate generation — unlike
    :func:`ngram_jaccard_pairs`' df-cap heuristic (which bounds skew by
    dropping hot shingles and documents the semantic change) and unlike
    MinHash (probabilistic recall).

    Prefix-filter theorem: order each document's shingles by a global
    total order; if J(A,B) ≥ τ, A and B must share a shingle within
    their first |s| − ⌈τ·|s|⌉ + 1 shingles.  Candidates therefore come
    from an equi-join on PREFIX shingles only, plus the length filter
    τ·max(|A|,|B|) ≤ min(|A|,|B|); the exact Jaccard verify over full
    sets keeps the output identical to all-pairs.

    The global order is ascending document frequency (ties by shingle
    string) — the rarest shingles land in prefixes, which is ALSO the
    skew guard: a stop-phrase shingle shared by 10⁶ docs enters a
    prefix only for documents made of nothing but ubiquitous shingles,
    so the candidate join's per-key fan-out collapses without any
    semantic cap.

    PPJoin POSITIONAL filter (also lossless): because both prefixes are
    sorted by the same global order, a pair's shared tokens appear in
    the same relative order on both sides, so its FIRST prefix-prefix
    match (min position on either side — the same physical token) has
    no shared token before it; the total overlap is therefore at most
    1 + min(|A|−i, |B|−j), and any candidate whose bound falls below
    the Jaccard-required overlap ⌈τ/(1+τ)·(|A|+|B|)⌉ is pruned BEFORE
    the verify.  The pair-level min-position aggregate replaces the
    dropDuplicates shuffle one-for-one (measured at sf0.1: 425k raw
    candidate rows → 170k pairs after the filter).

    Verify is ARRAY-INTERSECT, not exploded joins: candidates fetch the
    two per-doc sorted token arrays (two doc-keyed equi-joins against
    the one persisted corpus frame) and |A∩B| is a map-side
    ``array_intersect`` per pair — the exploded alternative shuffles
    ~100 skinny rows per candidate through two joins (measured at
    sf0.1: 11.5 s → ~3.5-4 s cold end-to-end).

    Plan shape: two combinable groupBys (df counts, per-doc ordered
    arrays — the single persisted frame), one equi-join on prefix
    shingles, a combinable pair aggregate, two doc-keyed array-fetch
    joins — no cartesian, no window."""
    p, q = _tau_fraction(threshold)
    # persisted: the tokenize→shingle→distinct→explode scan feeds BOTH
    # the df aggregate and the ordering join — uncached it runs twice,
    # and the scan (not the joins) dominates the build (sf1.0: 18 s →
    # 11 s for the ordered frame after caching)
    sh = (
        shingle_rows(df, id_col, text_col, shingle_n).select("doc", "shingle").persist()
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ordered = _df_ordered_arrays(sh, freq).persist()
    prefix = _prefix_rows(ordered, p, q)
    # length filter τ·max ≤ min as cross-multiplied integers:
    # q·na ≥ p·nb ∧ q·nb ≥ p·na
    matches = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (F.col("a.n").cast("long") * q >= F.col("b.n").cast("long") * p)
            & (F.col("b.n").cast("long") * q >= F.col("a.n").cast("long") * p),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
            (F.col("a.pos0") + 1).alias("ia"),
            (F.col("b.pos0") + 1).alias("jb"),
        )
    )
    cand = (
        matches.groupBy("doc_a", "doc_b")
        .agg(
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
            F.min("ia").alias("ia"),
            F.min("jb").alias("jb"),
        )
        .filter(
            # required overlap ⌈τ/(1+τ)·(na+nb)⌉ = ⌈p·(na+nb)/(p+q)⌉,
            # again as integer ceil-division
            F.lit(1) + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("jb"))
            >= F.expr(f"({p}L * (na + nb) + {p + q - 1}) div {p + q}")
        )
        .select("doc_a", "doc_b")
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    return (
        cand.join(
            ordered.select(
                F.col("doc").alias("doc_a"),
                F.col("tok_arr").alias("ta"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            ordered.select(
                F.col("doc").alias("doc_b"),
                F.col("tok_arr").alias("tb"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (inter / (F.col("na") + F.col("nb") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_filter_incremental_pairs(
    existing: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    persist=None,
) -> DataFrame:
    """Ingest-time EXACT set-similarity: all Jaccard ≥ τ pairs touching
    the NEW batch (new×existing ∪ new×new) — the O(delta) incremental
    form of :func:`prefix_filter_jaccard_pairs`, completing the dedup
    family's incrementality story for the exact tier the way
    :func:`minhash_incremental_pairs` does for the probabilistic one.

    THE GLOBAL ORDER IS FROZEN AT INDEX-BUILD TIME: prefix filtering
    needs one total order shared by every doc in a candidate pair, so
    the standing corpus's (df, shingle) order — its document
    frequencies as of the last full build — ranks BOTH sides.  Batch
    shingles join the standing vocabulary with ``how='left'`` and
    unseen tokens take df=0 (rarer than everything observed, ties by
    shingle string).  Exactness holds under ANY fixed total order (the
    prefix theorem never references df); freshness of the frequencies
    affects only pruning power, so a deployment refreshes the order at
    compaction time, exactly like rewriting the banded MinHash index.

    Scale shape: only the batch is shingled, ordered, and
    prefix-exploded in full; the standing side contributes (a) its df
    vocabulary (one combinable groupBy — on a deployment a persisted
    table keyed by shingle), (b) its prefix rows for the candidate
    probe (likewise a persisted, shingle-bucketed index in production;
    derived in-plan here, the :func:`minhash_incremental_pairs`
    convention), and (c) full token arrays for ONLY the candidate docs
    (semi-join pruned).  Per-ingest work scales with the batch and its
    collision set.  Candidate generation, the positional filter, and
    the array-intersect verify are the full operator's, bounds in
    exact integer arithmetic."""
    if persist is None:
        persist = lambda _key, frame: frame.persist()  # noqa: E731
    p, q = _tau_fraction(threshold)
    sh_e = persist(
        "sh_e",
        shingle_rows(existing, id_col, text_col, shingle_n).select("doc", "shingle"),
    )
    sh_b = persist(
        "sh_b",
        shingle_rows(batch, id_col, text_col, shingle_n).select("doc", "shingle"),
    )
    # frozen standing-index order: df over the EXISTING corpus only
    freq = sh_e.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ordered_e = persist("ordered_e", _df_ordered_arrays(sh_e, freq))
    ordered_b = persist("ordered_b", _df_ordered_arrays(sh_b, freq, how="left"))
    pref_b = _prefix_rows(ordered_b, p, q)
    pref_all = pref_b.unionByName(_prefix_rows(ordered_e, p, q))
    # probe: batch prefixes against ALL prefixes.  a.doc != b.doc keeps
    # batch×batch pairs once per orientation; canonicalization below
    # collapses them in the min-aggregate (positions swap with docs, so
    # the aggregate stays side-consistent).
    lo_is_a = F.col("a.doc") < F.col("b.doc")
    matches = (
        pref_b.alias("a")
        .join(
            pref_all.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") != F.col("b.doc"))
            & (F.col("a.n").cast("long") * q >= F.col("b.n").cast("long") * p)
            & (F.col("b.n").cast("long") * q >= F.col("a.n").cast("long") * p),
        )
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("doc_b"),
            F.when(lo_is_a, F.col("a.n")).otherwise(F.col("b.n")).alias("na"),
            F.when(lo_is_a, F.col("b.n")).otherwise(F.col("a.n")).alias("nb"),
            (F.when(lo_is_a, F.col("a.pos0")).otherwise(F.col("b.pos0")) + 1).alias("ia"),
            (F.when(lo_is_a, F.col("b.pos0")).otherwise(F.col("a.pos0")) + 1).alias("jb"),
        )
    )
    cand = (
        matches.groupBy("doc_a", "doc_b")
        .agg(
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
            F.min("ia").alias("ia"),
            F.min("jb").alias("jb"),
        )
        .filter(
            F.lit(1) + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("jb"))
            >= F.expr(f"({p}L * (na + nb) + {p + q - 1}) div {p + q}")
        )
        .select("doc_a", "doc_b")
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc"))
        .unionByName(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    # existing-side arrays only for candidate docs; batch arrays in full
    arrs = ordered_b.unionByName(ordered_e.join(cand_docs, "doc", "leftsemi"))
    inter = F.size(F.array_intersect("ta", "tb"))
    return (
        cand.join(
            arrs.select(
                F.col("doc").alias("doc_a"),
                F.col("tok_arr").alias("ta"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc").alias("doc_b"),
                F.col("tok_arr").alias("tb"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (inter / (F.col("na") + F.col("nb") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, nbits: int = 64
) -> DataFrame:
    """Per-document SimHash: each token hashes to up to 64 bits; bit j of
    the signature is the sign of Σ_tokens (±1 per token's bit j).
    Portable md5-based token hash (two 32-bit halves, so the 64-bit form
    replays in any SQL engine without unsigned-long gymnastics); one
    explode + one groupBy.

    Signature width is a SCALE parameter, not a tuning knob: the chance
    a random pair lands within hamming ≤ 6 is Σ C(nbits,i)/2^nbits —
    ~2.4e-4 at 32 bits, which at 50k docs already yields ~10⁵
    birthday-paradox pairs and grows quadratically with corpus size
    (the round-6 sf1.0 sweep measured 53.6M pairs, 1000× the true
    near-dup count).  At 64 bits the same figure is ~5e-12 — no chance
    pairs at any realistic corpus.  Default is therefore 64."""
    if not 1 <= nbits <= 64:
        raise ValueError(f"nbits must be 1..64, got {nbits}")
    tok = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).withColumn(
        "h_lo", F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    ).withColumn(
        "h_hi", F.conv(F.substring(F.md5(F.col("tok")), 9, 8), 16, 10).cast("long")
    )

    def _bit(j: int):
        half, b = ("h_lo", j) if j < 32 else ("h_hi", j - 32)
        return F.col(half).bitwiseAND(F.lit(1 << b))

    bit_sums = tok.groupBy("doc").agg(
        *[
            F.sum(F.when(_bit(j) != 0, 1).otherwise(-1)).alias(f"b{j}")
            for j in range(nbits)
        ]
    )
    sig = F.lit(0).cast("long")
    for j in range(nbits):
        # bit 63 is the long's sign bit: its two's-complement value is
        # -2^63, which both engines add identically
        weight = -(1 << 63) if j == 63 else (1 << j)
        sig = sig + F.when(F.col(f"b{j}") > 0, F.lit(weight)).otherwise(
            F.lit(0)
        ).cast("long")
    return bit_sums.select("doc", sig.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 6, nbits: int = 64
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius — banded candidate
    generation, NOT all-pairs.

    Pigeonhole: split the signature into ``max_hamming + 1`` disjoint bit
    segments; any pair with ≤ ``max_hamming`` differing bits has at least
    one segment with zero differences, so an equi-join on
    (segment_no, segment_value) finds every qualifying pair (no false
    negatives) and the exact ``bit_count(xor)`` filter removes false
    positives.  Result set is provably identical to the all-pairs scan
    the DuckDB oracle runs, but the join is bucket-sized — at 100 TB the
    cross product never materializes."""
    sigs = simhash_signatures(df, id_col, text_col, nbits).persist()
    n_segments = max_hamming + 1
    seg_width = (nbits + n_segments - 1) // n_segments

    def _segment(s: int) -> Column:
        shifted = F.shiftrightunsigned(F.col("simhash"), s * seg_width)
        return shifted.bitwiseAND(F.lit((1 << seg_width) - 1))

    segments = sigs.select(
        "doc",
        "simhash",
        F.posexplode(F.array(*[_segment(s) for s in range(n_segments)])).alias(
            "seg_no", "seg_val"
        ),
    )
    a, b = segments.alias("a"), segments.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.seg_no") == F.col("b.seg_no"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cands


def embedding_near_duplicates(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.9
) -> DataFrame:
    """Embedding-cosine near-dup pairs. All-pairs fold — the correctness
    baseline ONLY (oracle cross-check in tests); the registered / scale
    path is :func:`embedding_near_duplicates_blocked`."""
    a, b = df.alias("a"), df.alias("b")
    cos = cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_near_duplicates_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    nbits: int = 64,
    bands: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via sign-band LSH blocking — the
    100 TB path (random-hyperplane LSH, Charikar 2002, with coordinate
    hyperplanes).

    Each vector gets ``nbits`` sign bits (component >= 0), split into
    ``bands`` bands of ``nbits/bands`` bits; candidates are pairs that
    agree on at least one FULL band (equi-join on (band_no, band_value)
    — bucket-sized, never a cross product), then the exact cosine filter
    runs on candidates only.  For a near-dup pair at cosine c, a single
    hyperplane disagrees with probability arccos(c)/π (≈0.10 at c=0.95),
    so an 8-bit band fully agrees with probability ≈0.43 and ≥1 of 8
    bands agrees with probability ≈0.99 — while two random vectors
    (cos≈0) collide on a band with probability 2^-8 per band, keeping
    candidate volume linear.  Recall < 1 in general (documented; the
    all-pairs operator is the oracle); tests pin blocked == all-pairs on
    the duplicate-construction corpus."""
    w = nbits // bands

    def _band(k: int) -> Column:
        bit_exprs = [
            F.when(
                F.element_at(F.col(vec_col), k * w + j + 1) >= 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
            for j in range(w)
        ]
        out = bit_exprs[0]
        for e in bit_exprs[1:]:
            out = out + e
        return out.cast("long")

    banded = df.select(
        F.col(id_col).alias("__bid"),
        F.posexplode(F.array(*[_band(k) for k in range(bands)])).alias(
            "band_no", "band_val"
        ),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.__bid") < F.col("b.__bid")),
        )
        .select(F.col("a.__bid").alias("id_a"), F.col("b.__bid").alias("id_b"))
        .dropDuplicates()
    )
    vecs = df.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v"))
    return (
        cand.join(vecs.alias("va"), F.col("id_a") == F.col("va.__vid"))
        .join(vecs.alias("vb"), F.col("id_b") == F.col("vb.__vid"))
        .select(
            "id_a",
            "id_b",
            cosine(F.col("va.__v"), F.col("vb.__v")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def minhash_incremental_pairs(
    existing: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    persist=None,
) -> DataFrame:
    """Ingest-time near-dup detection: pairs involving the NEW batch only
    (new×existing ∪ new×new) — the incremental form of
    :func:`minhash_near_duplicates`.

    Re-running the full pipeline per ingest re-pairs the whole corpus:
    O(corpus) shuffles every batch.  Here only the batch is shingled and
    banded in full; the existing side contributes (a) its band table for
    the candidate probe and (b) shingles for ONLY the candidate docs
    (semi-join pruned) for exact verification — so per-ingest work
    scales with the batch and its collision set, not the corpus.  On a
    deployment, the existing band/signature/shingle tables are the
    persisted outputs of earlier runs (bucketed by band hash), making
    the probe a co-located join; here they are derived in-plan.

    Result is identical to the full pipeline's pairs restricted to pairs
    touching a batch document (pinned by test).

    ``persist`` — (key, frame) -> persisted frame, same contract as
    :func:`prefix_filter_incremental_pairs`: streaming callers pass a
    tracking callback so per-trigger caches (notably the corpus-sized
    ``arr_e``) are unpersisted at the end of each micro-batch instead of
    accumulating for the lifetime of the stream (ADVICE r10).

    Array form (r11, same rework as :func:`minhash_near_duplicates`):
    the persisted per-side intermediates are per-doc distinct-shingle
    ARRAY frames (smaller than the exploded rows they replace — no
    ~8 B/shingle row overhead), signatures explode FROM THE CACHE with
    a codegen'd base hash, and the verify is
    :func:`jaccard_verify_arrays` over batch arrays ∪ semi-join-pruned
    candidate existing arrays.  Value-identical (same distinct sets,
    affine mins, integer counts)."""
    if persist is None:
        persist = lambda _key, frame: frame.persist()  # noqa: E731

    def _arr_side(side: DataFrame, key: str) -> DataFrame:
        base = persist(key, minhash_doc_arrays(side, id_col, text_col, shingle_n))
        return base.filter(F.size("tok_arr") > 0).select(
            "doc", "tok_arr", F.size("tok_arr").alias("n_shingles")
        )

    def _sigs(docs_arr: DataFrame) -> DataFrame:
        sh = docs_arr.select("doc", F.explode("tok_arr").alias("shingle")).select(
            "doc", _base_hash(F.col("shingle")).alias("bh")
        )
        return sh.groupBy("doc").agg(
            *[
                F.min(
                    (F.col("bh") * _minhash_a(i) + _minhash_b(i)) % MINHASH_P
                ).alias(f"h{i}")
                for i in range(num_hashes)
            ]
        )

    docs_b = _arr_side(batch, "arr_b")
    sigs_b = _sigs(docs_b)
    docs_e = _arr_side(existing, "arr_e")
    sigs_e = _sigs(docs_e)

    def _banded(sigs: DataFrame) -> DataFrame:
        rows = num_hashes // bands
        structs = [
            F.struct(
                F.lit(b).alias("band_no"),
                F.md5(
                    F.concat_ws(
                        ",", *[F.col(f"h{b * rows + r}") for r in range(rows)]
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
        return sigs.select(
            "doc", F.explode(F.array(*structs)).alias("band")
        ).select("doc", "band.band_no", "band.band_hash")

    b_bands = _banded(sigs_b)
    all_bands = b_bands.unionByName(_banded(sigs_e))
    cands = (
        b_bands.alias("a")
        .join(
            all_bands.alias("b"),
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("doc_b"),
        )
        .dropDuplicates()
    )
    cand_docs = cands.select(F.col("doc_a").alias("doc")).unionByName(
        cands.select(F.col("doc_b").alias("doc"))
    ).distinct()
    docs_needed = docs_b.unionByName(docs_e.join(cand_docs, "doc", "leftsemi"))
    verified = jaccard_verify_arrays(cands, docs_needed)
    return verified.filter(F.col("jaccard") >= threshold)
