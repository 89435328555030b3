"""Property-based tests (hypothesis) for the text/chunking/dedup cores —
SURVEY §5's "property tests for idempotence" requirement, broadened:
invariants must hold for ARBITRARY text, not just the synthetic corpus.

One shared SparkSession; hypothesis drives small row batches through the
same column expressions the queries use."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.functions.text import (
    fingerprint,
    normalize_text,
    quality_score,
    shingles,
    tokens,
)

# printable-ish text incl. whitespace runs and unicode
texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FF),
    min_size=0,
    max_size=120,
)

# examples kept small: each drives a Spark job; 10 × 7 properties ≈ 70 s
SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _one(spark, text, col):
    return spark.createDataFrame([(text,)], ["t"]).select(col.alias("v")).first().v


@pytest.mark.usefixtures("spark")
class TestTextProperties:
    @SETTINGS
    @given(t=texts)
    def test_normalize_idempotent(self, spark, t):
        once = _one(spark, t, normalize_text(F.col("t")))
        twice = _one(spark, once, normalize_text(F.col("t")))
        assert once == twice

    @SETTINGS
    @given(t=texts)
    def test_fingerprint_whitespace_invariant(self, spark, t):
        a = _one(spark, t, fingerprint(F.col("t")))
        b = _one(spark, "  " + re.sub(r" ", "   ", t) + "\t", fingerprint(F.col("t")))
        assert a == b

    @SETTINGS
    @given(t=texts)
    def test_quality_score_bounded(self, spark, t):
        q = _one(spark, t, quality_score(F.col("t")))
        assert 0.0 <= q <= 1.0

    def test_quality_score_empty_doc_is_zero(self, spark):
        # ADVICE r02 #3: split('') yields [''] so an empty/whitespace doc
        # used to score ~0.6; it must score exactly 0
        for t in ("", "   ", "\t\n"):
            assert _one(spark, t, quality_score(F.col("t"))) == 0.0

    @SETTINGS
    @given(t=texts, n=st.integers(min_value=2, max_value=4))
    def test_shingle_count(self, spark, t, n):
        toks, sh = (
            spark.createDataFrame([(t,)], ["t"])
            .select(
                F.size(tokens(F.col("t"))).alias("nt"),
                F.size(shingles(tokens(F.col("t")), n)).alias("ns"),
            )
            .first()
        )
        assert sh == max(0, toks - n + 1) or (toks == 0 and sh == 0)


@pytest.mark.usefixtures("spark")
class TestChunkerProperties:
    @SETTINGS
    @given(
        t=st.text(alphabet="ab cd", min_size=1, max_size=80),
        w=st.integers(min_value=2, max_value=8),
    )
    def test_token_windows_reconstruct_prefixes(self, spark, t, w):
        """Every chunk is a contiguous token slice of the normalized text."""
        from tlcn_oer_lakehouse_spark.operators.chunking import token_window_chunks

        df = spark.createDataFrame([(1, t)], ["doc_id", "text"])
        chunks = token_window_chunks(df, "doc_id", "text", window=w, stride=w)
        norm = _one(spark, t, normalize_text(F.col("t")))
        all_toks = norm.split(" ") if norm else []
        for r in chunks.collect():
            assert r.chunk_text in " ".join(all_toks) or r.chunk_text == norm

    @SETTINGS
    @given(t=st.text(alphabet="xy z", min_size=1, max_size=60))
    def test_char_budget_reassembly(self, spark, t):
        from tlcn_oer_lakehouse_spark.operators.chunking import char_budget_chunks

        df = spark.createDataFrame([(1, t)], ["doc_id", "text"])
        packed = char_budget_chunks(df, "doc_id", "text", max_chars=10)
        rebuilt = " ".join(
            r.chunk_text for r in sorted(packed.collect(), key=lambda r: r.chunk_no)
        )
        assert rebuilt == _one(spark, t, normalize_text(F.col("t")))


@pytest.mark.usefixtures("spark")
class TestMergeProperties:
    @SETTINGS
    @given(
        vals=st.lists(
            st.tuples(st.integers(0, 9), st.text("abc", min_size=1, max_size=3)),
            min_size=1,
            max_size=8,
        )
    )
    def test_merge_upsert_last_writer_wins(self, spark, vals):
        """The snapshot of classify_changes(existing, batch) keeps exactly
        one row per key, preferring the batch."""
        from tlcn_oer_lakehouse_spark.operators.incremental import (
            classify_changes,
            next_snapshot,
        )

        existing = spark.createDataFrame([(k, "old") for k in range(3)], ["id", "v"])
        batch = spark.createDataFrame(vals, ["id", "v"]).dropDuplicates(["id"])
        merged = next_snapshot(classify_changes(existing, batch, "id", "v"))
        rows = {r.id: r.v for r in merged.collect()}
        batch_rows = {r.id: r.v for r in batch.collect()}
        assert merged.count() == len(rows)  # unique keys
        for k, v in batch_rows.items():
            assert rows[k] == v
        for k in range(3):
            if k not in batch_rows:
                assert rows[k] == "old"


# ---------------------------------------------------------------------------
# PDF codec round-trip properties (no Spark needed — pure Python)
# ---------------------------------------------------------------------------

# printable latin-1 lines incl. the PDF-delimiter characters ( ) \ < > [ ]
_pdf_line = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0xFF,
                           exclude_characters="\x7f\xad"),
    min_size=0, max_size=60,
)
_pdf_pages = st.lists(
    st.lists(_pdf_line, min_size=1, max_size=5), min_size=1, max_size=4
)


class TestPdfCodecProperties:
    @settings(deadline=None, max_examples=60)
    @given(pages=_pdf_pages, compress=st.booleans())
    def test_write_read_round_trip(self, pages, compress):
        """read_pdf(write_pdf(pages)) == pages for ANY latin-1 content —
        string escaping, stream framing and FlateDecode are lossless."""
        from tlcn_oer_lakehouse_spark.functions.pdfio import read_pdf, write_pdf

        texts, outline = read_pdf(write_pdf(pages, compress=compress))
        assert texts == ["\n".join(p) for p in pages]
        assert outline == []

    @settings(deadline=None, max_examples=30)
    @given(pages=_pdf_pages,
           titles=st.lists(
               st.text(alphabet=st.characters(min_codepoint=0x20,
                                              max_codepoint=0x7E),
                       min_size=1, max_size=30).filter(str.strip),
               min_size=1, max_size=3))
    def test_outline_round_trip(self, pages, titles):
        from tlcn_oer_lakehouse_spark.functions.pdfio import read_pdf, write_pdf

        ol = [(0, t, (i % len(pages)) + 1) for i, t in enumerate(titles)]
        _texts, outline = read_pdf(write_pdf(pages, outline=ol))
        assert outline == [(t, p) for _l, t, p in ol]
