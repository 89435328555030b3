"""Multimodal queries: binary payload metadata (column expressions) and
the Arrow-batched mapInPandas decode/frame-sample stages, each verified
against byte-level DuckDB oracles.

The documents corpus is pure ASCII (verified: max code point 121,
char length == byte length), so UTF-8 payload bytes equal character
codes and every byte-level operator is exactly expressible in SQL via
``ascii``/``substring`` — keeping the Python mapInPandas path honest."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.operators.multimodal import (
    fake_image_features,
    frame_sample,
    with_binary_payload,
)
from tlcn_oer_lakehouse_spark.queries.base import QuerySpec, load


def _doc_ids(spark: SparkSession, sf: str) -> DataFrame:
    """doc_id spine for the synthetic binary fixtures, hash-repartitioned
    to the session's parallelism (r12).  documents.parquet arrives as 1-2
    input splits (tiny compressed text table), which serialized the
    CPU-bound synth+decode mapInPandas fan-out on 2 of N cores — the
    codec work, not the scan, is these queries' cost.  The exchanged
    rows are single 8-byte ids (guide §2.3/§8: shuffle keys, never
    payloads; the payloads are SYNTHESIZED after the exchange), and the
    partition count tracks ``defaultParallelism``, not a local constant.
    Hash on the unique doc_id, not round-robin: retry-deterministic with
    no sortBeforeRepartition pass (the augmented_corpus precedent)."""
    docs = load(spark, sf, "documents").select("doc_id")
    return docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")


def mm_binary_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """S7/U4 metadata enrichment: size, checksum, mime — pure column
    expressions over the binary payload."""
    docs = with_binary_payload(load(spark, sf, "documents"))
    return docs.select(
        "doc_id",
        F.col("asset_meta.size_bytes").alias("size_bytes"),
        F.col("asset_meta.checksum").alias("checksum"),
        F.col("asset_meta.mime_type").alias("mime_type"),
    )


MM_META_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS size_bytes,
       md5(text) AS checksum,
       'text/plain' AS mime_type
FROM documents
"""


def mm_image_features(spark: SparkSession, sf: str) -> DataFrame:
    """U5-shaped decode stage via Arrow mapInPandas (deterministic fake:
    first-two-byte dims + mean-byte brightness)."""
    docs = with_binary_payload(load(spark, sf, "documents"))
    return fake_image_features(docs, "doc_id")


MM_FEATURES_SQL = """
SELECT doc_id,
       ascii(substring(text, 1, 1)) AS width,
       ascii(substring(text, 2, 1)) AS height,
       CAST(list_sum(list_transform(generate_series(1, length(text)),
                                    i -> ascii(substring(text, i, 1)))) AS DOUBLE)
         / length(text) AS brightness,
       octet_length(encode(text)) AS size_bytes
FROM documents
"""


def mm_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Video-frame-sampling shape: 4 evenly spaced 64-byte slices per
    payload, fingerprinted — 1→N fan-out inside the task."""
    docs = with_binary_payload(load(spark, sf, "documents"))
    return frame_sample(docs, "doc_id", n_frames=4, frame_bytes=64)


MM_FRAMES_SQL = """
WITH sized AS (
  SELECT doc_id, text, length(text) AS n,
         greatest(1, length(text) // 4) AS step
  FROM documents
),
frames AS (
  SELECT doc_id, f AS frame_no, f * step AS byte_offset, text
  FROM sized, unnest(generate_series(0, 3)) AS t(f)
  WHERE f * step < n
)
SELECT doc_id, CAST(frame_no AS INT) AS frame_no, byte_offset,
       md5(substring(text, CAST(byte_offset AS INT) + 1, 64)) AS frame_md5
FROM frames
"""


def _doc_pdf_pages(text: str, tokens_per_page: int = 30, tokens_per_line: int = 6):
    """Deterministic pagination: 30-token pages of 6-token lines —
    the shared construction both the PDF builder and the oracle use."""
    toks = text.split(" ")
    pages = []
    n_pages = max(1, -(-len(toks) // tokens_per_page))
    for p in range(n_pages):
        pt = toks[p * tokens_per_page:(p + 1) * tokens_per_page]
        lines = [
            " ".join(pt[g * tokens_per_line:(g + 1) * tokens_per_line])
            for g in range(max(1, -(-len(pt) // tokens_per_line)))
        ]
        pages.append(lines)
    return pages


def mm_pdf_pages(spark: SparkSession, sf: str) -> DataFrame:
    """U5 end-to-end through REAL PDF bytes: each document is typeset
    into an actual PDF (page tree, Helvetica Tj streams; FlateDecode for
    even doc_ids) inside an Arrow batch stage, then decoded back by the
    pure-Python parser with the reference's normalization
    (transformer.py:697-709).  The oracle reconstructs the expected page
    texts from the same 30-token/6-line pagination — so a hash match
    proves the writer→parser→normalizer path is byte-faithful on both
    compressed and uncompressed streams."""
    from collections.abc import Iterator

    import pandas as pd

    from tlcn_oer_lakehouse_spark.functions.pdfio import write_pdf
    from tlcn_oer_lakehouse_spark.operators.multimodal import pdf_page_texts

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 60)

    def _typeset(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "payload": [
                        write_pdf(_doc_pdf_pages(t), compress=(int(d) % 2 == 0))
                        for d, t in zip(b["doc_id"], b["text"])
                    ],
                }
            )

    pdfs = docs.select("doc_id", "text").mapInPandas(
        _typeset, schema="doc_id long, payload binary"
    )
    return pdf_page_texts(pdfs).orderBy("doc_id", "page_no")


MM_PDF_PAGES_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE doc_id < 60
),
pages AS (
  SELECT doc_id, p,
         t[(p-1)*30+1 : least(p*30, len(t))] AS pt
  FROM (SELECT doc_id, t,
               unnest(generate_series(1, greatest(1, CAST(ceil(len(t)/30.0) AS BIGINT)))) AS p
        FROM toks)
)
SELECT doc_id,
       CAST(p AS INT) AS page_no,
       array_to_string(
         list_transform(generate_series(1, greatest(1, CAST(ceil(len(pt)/6.0) AS BIGINT))),
                        g -> array_to_string(pt[(g-1)*6+1 : least(g*6, len(pt))], ' ')),
         chr(10)) AS page_text,
       'ok' AS decode_status
FROM pages
ORDER BY doc_id, page_no
"""


def mm_pdf_hierarchical(spark: SparkSession, sf: str) -> DataFrame:
    """U5→U7 end-to-end as one registered query: typeset each document
    into real PDF bytes, parse the pages back, reassemble the document,
    and run the 3-tier hierarchical chunker on the extracted text.

    Oracle: the tier algebra over the ORIGINAL text — valid because the
    chunker tokenizes with whitespace normalization, and the
    typeset→parse round trip is token-preserving (page/line splits only
    introduce whitespace), which is exactly the property this query
    proves end-to-end."""
    from collections.abc import Iterator

    import pandas as pd

    from tlcn_oer_lakehouse_spark.functions.pdfio import write_pdf
    from tlcn_oer_lakehouse_spark.operators.chunking import hierarchical_chunks
    from tlcn_oer_lakehouse_spark.operators.multimodal import pdf_page_texts

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 40)

    def _typeset(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "payload": [
                        write_pdf(_doc_pdf_pages(t), compress=(int(d) % 2 == 0))
                        for d, t in zip(b["doc_id"], b["text"])
                    ],
                }
            )

    pdfs = docs.select("doc_id", "text").mapInPandas(
        _typeset, schema="doc_id long, payload binary"
    )
    pages = pdf_page_texts(pdfs)
    reassembled = (
        pages.filter(F.col("decode_status") == "ok")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("page_no", "page_text"))),
                    lambda s: s.getField("page_text"),
                ),
            ).alias("text")
        )
    )
    return hierarchical_chunks(reassembled, "doc_id", "text")


def _pdf_hierarchical_oracle() -> str:
    from tlcn_oer_lakehouse_spark.queries.chunking import HIERARCHICAL_SQL

    return HIERARCHICAL_SQL.replace(
        "FROM documents", "FROM (SELECT * FROM documents WHERE doc_id < 40)", 1
    )


def mm_pdf_toc(spark: SparkSession, sf: str) -> DataFrame:
    """U8 end-to-end: structured PDFs exercising all four cascade
    methods (doc_id % 4 → outline / printed-Contents page / body
    headings / no structure), decoded and TOC-extracted by
    operators/toc.py; one row per chapter with method + confidence.
    The oracle derives the expected chapters from the same doc_id
    arithmetic — including the printed-TOC page-offset estimation
    (toc_extractor.py:302-328): the Contents entry points at logical
    page 2, the heading physically sits on page 2, offset resolves to
    0 (TOC pages are excluded from the offset scan — see
    operators/toc.py:_estimate_offset)."""
    from collections.abc import Iterator

    import pandas as pd

    from tlcn_oer_lakehouse_spark.functions.pdfio import write_pdf
    from tlcn_oer_lakehouse_spark.operators.toc import toc_from_pdfs

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 40)

    def _typeset(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            payloads = []
            for d in b["doc_id"]:
                d = int(d)
                n_pages = 4 + d % 5
                variant = d % 4
                filler = ["plain body text alpha beta", "more filler words here"]
                if variant == 0:  # embedded outline
                    n_ch = (n_pages + 1) // 2
                    pages = [filler[:] for _ in range(n_pages)]
                    outline = [
                        (0, f"Chapter {k} Overview", 2 * k - 1)
                        for k in range(1, n_ch + 1)
                    ]
                    payloads.append(write_pdf(pages, outline=outline))
                elif variant == 1:  # printed Contents page
                    pages = [["Contents", "Chapter 1 .... 2"]]
                    pages += [["Chapter 1", *filler]]
                    pages += [filler[:] for _ in range(n_pages - 2)]
                    payloads.append(write_pdf(pages))
                elif variant == 2:  # body headings -> regex scan
                    n_ch = (n_pages + 1) // 2
                    pages = []
                    for p in range(1, n_pages + 1):
                        if p % 2 == 1 and (p + 1) // 2 <= n_ch:
                            pages.append([f"Chapter {(p + 1) // 2}", *filler])
                        else:
                            pages.append(filler[:])
                    payloads.append(write_pdf(pages))
                else:  # no structure -> flat fallback
                    pages = [filler[:] for _ in range(n_pages)]
                    payloads.append(write_pdf(pages))
            yield pd.DataFrame({"doc_id": b["doc_id"], "payload": payloads})

    pdfs = docs.select("doc_id", "text").mapInPandas(
        _typeset, schema="doc_id long, payload binary"
    )
    return toc_from_pdfs(pdfs).orderBy("doc_id", "chapter_number")


MM_PDF_TOC_SQL = """
WITH d AS (
  SELECT doc_id, 4 + (doc_id % 5) AS np, doc_id % 4 AS v
  FROM documents WHERE doc_id < 40
),
sized AS (
  SELECT doc_id, np, v,
         CASE WHEN v IN (0, 2) THEN (np + 1) // 2 ELSE 1 END AS n_ch
  FROM d
),
chap AS (
  SELECT doc_id, np, v, n_ch, unnest(generate_series(1, n_ch)) AS k
  FROM sized
)
SELECT doc_id,
       CASE v WHEN 0 THEN 'pdf_outline' WHEN 1 THEN 'toc_page'
              WHEN 2 THEN 'regex' ELSE 'flat' END AS method,
       CAST(CASE v WHEN 0 THEN 0.95 WHEN 1 THEN 0.85
                   WHEN 2 THEN 0.70 ELSE 0.50 END AS DOUBLE) AS confidence,
       CAST(np AS INT) AS total_pages,
       printf('ch%02d', k) AS chapter_id,
       CAST(k AS INT) AS chapter_number,
       CASE v WHEN 0 THEN 'Chapter ' || k || ' Overview'
              WHEN 1 THEN 'Chapter 1'
              WHEN 2 THEN 'Chapter ' || k
              ELSE 'Part 1' END AS chapter_title,
       CAST(CASE WHEN v IN (0, 2) THEN 2 * k - 1
                 WHEN v = 1 THEN 2 ELSE 1 END AS INT) AS page_start,
       CAST(CASE WHEN v IN (0, 2) AND k < n_ch THEN 2 * k ELSE np END AS INT) AS page_end,
       0 AS n_sections
FROM chap
ORDER BY doc_id, chapter_number
"""


def mm_wav_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio decode round-trip: per-doc PCM WAV payloads are
    synthesized from a closed-form integer waveform (sample i of doc d is
    ``((d*31 + i*7) % 2001) - 1000``, sample rate ``8000 + (d%3)*4000``,
    ``200 + (d%57)*10`` samples), encoded to RIFF bytes with
    functions/wavio.py, then decoded back by the wav_features operator.
    The oracle replays the closed form directly — if either the encoder
    or the chunk-walking decoder is wrong, features cannot match."""
    import numpy as np
    import pandas as pd

    from tlcn_oer_lakehouse_spark.functions.wavio import write_wav
    from tlcn_oer_lakehouse_spark.operators.multimodal import wav_features

    def _synth(batches):
        for b in batches:
            payloads = []
            for d in b["doc_id"]:
                d = int(d)
                sr = 8000 + (d % 3) * 4000
                n = 200 + (d % 57) * 10
                i = np.arange(n, dtype=np.int64)
                smp = ((d * 31 + i * 7) % 2001 - 1000).astype("<i2")
                payloads.append(write_wav(smp, sr))
            yield pd.DataFrame({"doc_id": b["doc_id"], "payload": payloads})

    docs = _doc_ids(spark, sf)
    wavs = docs.mapInPandas(_synth, schema="doc_id long, payload binary")
    return wav_features(wavs)


MM_WAV_SQL = """
WITH p AS (
  SELECT doc_id,
         8000 + (doc_id % 3) * 4000 AS sr,
         200 + (doc_id % 57) * 10 AS n
  FROM documents
),
v AS (
  SELECT doc_id, sr, n, ((doc_id * 31 + i * 7) % 2001) - 1000 AS smp
  FROM (SELECT doc_id, sr, n, unnest(generate_series(0, n - 1)) AS i FROM p)
)
SELECT doc_id,
       CAST(sr AS INT) AS sample_rate,
       1 AS channels,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n AS DOUBLE) / sr AS duration_sec,
       sqrt(CAST(SUM(smp * smp) AS DOUBLE) / n) AS rms_amplitude,
       CAST(MAX(abs(smp)) AS BIGINT) AS peak_amplitude,
       'ok' AS decode_status
FROM v
GROUP BY doc_id, sr, n
"""


def mm_wav_windows(spark: SparkSession, sf: str) -> DataFrame:
    """1→N audio windowing on real decoded PCM: the same closed-form
    waveform as mm_wav_decode, fanned out to 256-sample windows with
    exact per-window energy — oracle replays the closed form grouped by
    ``i // 256``."""
    import numpy as np
    import pandas as pd

    from tlcn_oer_lakehouse_spark.functions.wavio import write_wav
    from tlcn_oer_lakehouse_spark.operators.multimodal import wav_window_energy

    def _synth(batches):
        for b in batches:
            payloads = []
            for d in b["doc_id"]:
                d = int(d)
                sr = 8000 + (d % 3) * 4000
                n = 200 + (d % 57) * 10
                i = np.arange(n, dtype=np.int64)
                smp = ((d * 31 + i * 7) % 2001 - 1000).astype("<i2")
                payloads.append(write_wav(smp, sr))
            yield pd.DataFrame({"doc_id": b["doc_id"], "payload": payloads})

    docs = _doc_ids(spark, sf)
    wavs = docs.mapInPandas(_synth, schema="doc_id long, payload binary")
    return wav_window_energy(wavs, window_samples=256)


def mm_wav_quadrature(spark: SparkSession, sf: str) -> DataFrame:
    """REAL spectral features on decoded PCM: per-window DFT bin powers
    at DC / fs/4 / fs/2, where the basis is ±1/0-valued so the whole
    spectrum is integer arithmetic (operators/multimodal.py:
    wav_quadrature_features) — the engine-exact slice of a Goertzel
    filter bank.  Same closed-form waveform as mm_wav_decode; the oracle
    replays waveform, windowing, and all three bins."""
    import numpy as np
    import pandas as pd

    from tlcn_oer_lakehouse_spark.functions.wavio import write_wav
    from tlcn_oer_lakehouse_spark.operators.multimodal import (
        wav_quadrature_features,
    )

    def _synth(batches):
        for b in batches:
            payloads = []
            for d in b["doc_id"]:
                d = int(d)
                sr = 8000 + (d % 3) * 4000
                n = 200 + (d % 57) * 10
                i = np.arange(n, dtype=np.int64)
                smp = ((d * 31 + i * 7) % 2001 - 1000).astype("<i2")
                payloads.append(write_wav(smp, sr))
            yield pd.DataFrame({"doc_id": b["doc_id"], "payload": payloads})

    docs = _doc_ids(spark, sf)
    wavs = docs.mapInPandas(_synth, schema="doc_id long, payload binary")
    return wav_quadrature_features(wavs, window_samples=256)


MM_WAV_QUADRATURE_SQL = """
WITH p AS (
  SELECT doc_id, 200 + (doc_id % 57) * 10 AS n FROM documents
),
v AS (
  SELECT doc_id, i // 256 AS window_no, i % 256 AS j,
         ((doc_id * 31 + i * 7) % 2001) - 1000 AS smp
  FROM (SELECT doc_id, unnest(generate_series(0, n - 1)) AS i FROM p)
),
a AS (
  SELECT doc_id, window_no, COUNT(*) AS n_samples,
         SUM(smp) AS s_dc,
         SUM(smp * (1 - 2 * (j % 2))) AS s_ny,
         SUM(smp * (CASE j % 4 WHEN 0 THEN 1 WHEN 2 THEN -1 ELSE 0 END)) AS s_c,
         SUM(smp * (CASE j % 4 WHEN 1 THEN 1 WHEN 3 THEN -1 ELSE 0 END)) AS s_s
  FROM v GROUP BY doc_id, window_no
)
SELECT doc_id,
       CAST(window_no AS INT) AS window_no,
       n_samples,
       CAST(s_dc * s_dc AS BIGINT) AS p_dc,
       CAST(s_ny * s_ny AS BIGINT) AS p_nyquist,
       CAST(s_c * s_c + s_s * s_s AS BIGINT) AS p_quadrature
FROM a
"""


MM_WAV_WINDOWS_SQL = """
WITH p AS (
  SELECT doc_id, 200 + (doc_id % 57) * 10 AS n FROM documents
),
v AS (
  SELECT doc_id, i // 256 AS window_no,
         ((doc_id * 31 + i * 7) % 2001) - 1000 AS smp
  FROM (SELECT doc_id, unnest(generate_series(0, n - 1)) AS i FROM p)
)
SELECT doc_id,
       CAST(window_no AS INT) AS window_no,
       COUNT(*) AS n_samples,
       sqrt(CAST(SUM(smp * smp) AS DOUBLE) / COUNT(*)) AS rms,
       CAST(MAX(abs(smp)) AS BIGINT) AS peak
FROM v
GROUP BY doc_id, window_no
"""


def mm_image_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image decode round-trip: per-doc P5 (grayscale netpbm)
    rasters are synthesized from a closed-form pixel function
    (``pixel(y, x) = (d*7 + y*w + x) * 31 % 256`` at ``w = 8 + d%13``,
    ``h = 6 + d%11``), encoded with functions/netpbm.py, decoded back by
    the image_features operator (dims, exact mean luma, nearest-neighbor
    thumbnail).  The oracle replays the closed form, including the
    thumbnail's stride selection — the md5 column is dropped only because
    SQL engines hash VARCHARs, not raw blobs; thumb_pixel_sum pins the
    same content."""
    import numpy as np
    import pandas as pd

    from tlcn_oer_lakehouse_spark.functions.netpbm import write_pgm
    from tlcn_oer_lakehouse_spark.operators.multimodal import image_features

    def _synth(batches):
        for b in batches:
            payloads = []
            for d in b["doc_id"]:
                d = int(d)
                w, h = 8 + d % 13, 6 + d % 11
                yy, xx = np.mgrid[0:h, 0:w]
                px = ((d * 7 + yy * w + xx) * 31 % 256).astype(np.uint8)
                payloads.append(write_pgm(px))
            yield pd.DataFrame({"doc_id": b["doc_id"], "payload": payloads})

    docs = _doc_ids(spark, sf)
    imgs = docs.mapInPandas(_synth, schema="doc_id long, payload binary")
    return image_features(imgs, thumb_side=4).drop("thumb_md5")


MM_IMAGE_SQL = """
WITH p AS (
  SELECT doc_id, 8 + doc_id % 13 AS w, 6 + doc_id % 11 AS h,
         CAST(ceil(greatest(8 + doc_id % 13, 6 + doc_id % 11) / 4.0) AS BIGINT) AS k
  FROM documents
),
px AS (
  SELECT doc_id, w, h, k, y, x,
         (doc_id * 7 + y * w + x) * 31 % 256 AS v
  FROM (SELECT doc_id, w, h, k, unnest(generate_series(0, h - 1)) AS y FROM p),
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x)
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       1 AS channels,
       CAST(SUM(v) AS DOUBLE) / (w * h) AS mean_luma,
       CAST(CAST(ceil(w / CAST(k AS DOUBLE)) AS BIGINT) AS INT) AS thumb_width,
       CAST(CAST(ceil(h / CAST(k AS DOUBLE)) AS BIGINT) AS INT) AS thumb_height,
       CAST(SUM(CASE WHEN y % k = 0 AND x % k = 0 THEN v ELSE 0 END) AS BIGINT)
         AS thumb_pixel_sum,
       'ok' AS decode_status
FROM px
GROUP BY doc_id, w, h, k
"""


def mm_png_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL *compressed* image decode round-trip: per-doc RGB rasters
    from a closed-form pixel function (``v(y, x, c) = (d*7 + (y*w + x)*3
    + c) * 17 % 256`` at ``w = 7 + d%12``, ``h = 5 + d%9``) are
    PNG-encoded with functions/pngio.py using a *different scanline
    filter per row* (y % 5 — Sub/Up/Average/Paeth all exercised), then
    DEFLATE-inflated, unfiltered and feature-extracted by the same
    image_features operator as netpbm.  The oracle replays the closed
    form — a value mismatch anywhere in chunk parsing, inflation or any
    of the five unfilter paths shifts mean_luma/thumb_pixel_sum."""
    import numpy as np
    import pandas as pd

    from tlcn_oer_lakehouse_spark.functions.pngio import write_png
    from tlcn_oer_lakehouse_spark.operators.multimodal import image_features

    def _synth(batches):
        for b in batches:
            payloads = []
            for d in b["doc_id"]:
                d = int(d)
                w, h = 7 + d % 12, 5 + d % 9
                yy, xx, cc = np.mgrid[0:h, 0:w, 0:3]
                px = ((d * 7 + (yy * w + xx) * 3 + cc) * 17 % 256).astype(np.uint8)
                payloads.append(write_png(px, filter_mode="mixed"))
            yield pd.DataFrame({"doc_id": b["doc_id"], "payload": payloads})

    docs = _doc_ids(spark, sf)
    imgs = docs.mapInPandas(_synth, schema="doc_id long, payload binary")
    return image_features(imgs, thumb_side=4).drop("thumb_md5")


MM_PNG_SQL = """
WITH p AS (
  SELECT doc_id, 7 + doc_id % 12 AS w, 5 + doc_id % 9 AS h,
         CAST(ceil(greatest(7 + doc_id % 12, 5 + doc_id % 9) / 4.0) AS BIGINT) AS k
  FROM documents
),
px AS (
  SELECT doc_id, w, h, k, y, x, c,
         (doc_id * 7 + (y * w + x) * 3 + c) * 17 % 256 AS v
  FROM (SELECT doc_id, w, h, k, unnest(generate_series(0, h - 1)) AS y FROM p),
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x),
       LATERAL (SELECT unnest(generate_series(0, 2)) AS c)
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       3 AS channels,
       CAST(SUM(v) AS DOUBLE) / (w * h * 3) AS mean_luma,
       CAST(CAST(ceil(w / CAST(k AS DOUBLE)) AS BIGINT) AS INT) AS thumb_width,
       CAST(CAST(ceil(h / CAST(k AS DOUBLE)) AS BIGINT) AS INT) AS thumb_height,
       CAST(SUM(CASE WHEN y % k = 0 AND x % k = 0 THEN v ELSE 0 END) AS BIGINT)
         AS thumb_pixel_sum,
       'ok' AS decode_status
FROM px
GROUP BY doc_id, w, h, k
"""


def mm_jpeg_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL *lossy* compressed decode round-trip: per-doc grayscale
    rasters built from constant 8×8 blocks (block (i, j) has value
    ``(d*13 + (i*A + j)*29) % 256`` on an A×B block grid, A = 2 + d%3,
    B = 1 + d%2) are JPEG-encoded by functions/jpegio.py (real DCT →
    quantize → Huffman baseline JFIF) and decoded back through the same
    image_features stage as png/netpbm.  Constant blocks are DC-only,
    so the decoded value has the exact closed form
    ``clamp(floor(floor((v-128)*8/q + .5) * q/8 + 128 + .5), 0, 255)``
    (q = 16, the quality-50 luma DC quantizer) — the oracle replays it
    per pixel, pinning marker parsing, Huffman decode, dequantization
    and the IDCT in one hash.  General-content accuracy is covered by
    error-bound tests in test_media_codecs.py."""
    import numpy as np
    import pandas as pd

    from tlcn_oer_lakehouse_spark.functions.jpegio import write_jpeg
    from tlcn_oer_lakehouse_spark.operators.multimodal import image_features

    def _synth(batches):
        for b in batches:
            payloads = []
            for d in b["doc_id"]:
                d = int(d)
                a_blk, b_blk = 2 + d % 3, 1 + d % 2
                ii, jj = np.mgrid[0:b_blk, 0:a_blk]
                vals = (d * 13 + (ii * a_blk + jj) * 29) % 256
                px = np.kron(vals, np.ones((8, 8), dtype=np.int64)).astype(
                    np.uint8
                )
                payloads.append(write_jpeg(px, quality=50))
            yield pd.DataFrame({"doc_id": b["doc_id"], "payload": payloads})

    docs = _doc_ids(spark, sf)
    imgs = docs.mapInPandas(_synth, schema="doc_id long, payload binary")
    return image_features(imgs, thumb_side=4).drop("thumb_md5")


MM_JPEG_SQL = """
WITH p AS (
  SELECT doc_id, 2 + doc_id % 3 AS a_blk, 1 + doc_id % 2 AS b_blk,
         (2 + doc_id % 3) * 8 AS w, (1 + doc_id % 2) * 8 AS h,
         CAST(ceil(greatest((2 + doc_id % 3) * 8, (1 + doc_id % 2) * 8) / 4.0)
              AS BIGINT) AS k
  FROM documents
),
px AS (
  SELECT doc_id, w, h, k, y, x,
         (doc_id * 13 + ((y // 8) * a_blk + (x // 8)) * 29) % 256 AS v
  FROM (SELECT doc_id, a_blk, w, h, k, unnest(generate_series(0, h - 1)) AS y
        FROM p),
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x)
),
dec AS (
  SELECT doc_id, w, h, k, y, x,
         least(255, greatest(0,
           floor(floor((v - 128) * 8 / 16.0 + 0.5) * 16 / 8.0 + 128 + 0.5)
         )) AS dv
  FROM px
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       1 AS channels,
       CAST(SUM(dv) AS DOUBLE) / (w * h) AS mean_luma,
       CAST(CAST(ceil(w / CAST(k AS DOUBLE)) AS BIGINT) AS INT) AS thumb_width,
       CAST(CAST(ceil(h / CAST(k AS DOUBLE)) AS BIGINT) AS INT) AS thumb_height,
       CAST(SUM(CASE WHEN y % k = 0 AND x % k = 0 THEN dv ELSE 0 END) AS BIGINT)
         AS thumb_pixel_sum,
       'ok' AS decode_status
FROM dec
GROUP BY doc_id, w, h, k
"""


def mm_gif_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL LZW-compressed decode round-trip: per-doc 16-level gray
    rasters (``v(y, x) = ((d + y*w + x) * 37 % 16) * 17`` at
    ``w = 6 + d%10``, ``h = 4 + d%8``) are GIF-encoded with real LZW
    compression (functions/gifio.py) and decoded back through
    image_features.  GIF is lossless (palette-exact), so the oracle
    replays the pixel closed form directly — decode returns RGB with
    three equal channels, hence channels = 3 and sums scale by 3."""
    import numpy as np
    import pandas as pd

    from tlcn_oer_lakehouse_spark.functions.gifio import write_gif
    from tlcn_oer_lakehouse_spark.operators.multimodal import image_features

    def _synth(batches):
        for b in batches:
            payloads = []
            for d in b["doc_id"]:
                d = int(d)
                w, h = 6 + d % 10, 4 + d % 8
                yy, xx = np.mgrid[0:h, 0:w]
                px = (((d + yy * w + xx) * 37 % 16) * 17).astype(np.uint8)
                payloads.append(write_gif(px))
            yield pd.DataFrame({"doc_id": b["doc_id"], "payload": payloads})

    docs = _doc_ids(spark, sf)
    imgs = docs.mapInPandas(_synth, schema="doc_id long, payload binary")
    return image_features(imgs, thumb_side=4).drop("thumb_md5")


MM_GIF_SQL = """
WITH p AS (
  SELECT doc_id, 6 + doc_id % 10 AS w, 4 + doc_id % 8 AS h,
         CAST(ceil(greatest(6 + doc_id % 10, 4 + doc_id % 8) / 4.0) AS BIGINT) AS k
  FROM documents
),
px AS (
  SELECT doc_id, w, h, k, y, x,
         ((doc_id + y * w + x) * 37 % 16) * 17 AS v
  FROM (SELECT doc_id, w, h, k, unnest(generate_series(0, h - 1)) AS y FROM p),
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x)
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       3 AS channels,
       CAST(SUM(v) * 3 AS DOUBLE) / (w * h * 3) AS mean_luma,
       CAST(CAST(ceil(w / CAST(k AS DOUBLE)) AS BIGINT) AS INT) AS thumb_width,
       CAST(CAST(ceil(h / CAST(k AS DOUBLE)) AS BIGINT) AS INT) AS thumb_height,
       CAST(SUM(CASE WHEN y % k = 0 AND x % k = 0 THEN v * 3 ELSE 0 END) AS BIGINT)
         AS thumb_pixel_sum,
       'ok' AS decode_status
FROM px
GROUP BY doc_id, w, h, k
"""


def mm_video_frames(spark: SparkSession, sf: str) -> DataFrame:
    """REAL video decode round-trip: per doc, ``2 + d % 4`` constant-
    block grayscale frames (frame f, block j ∈ {0,1} on a 2×1 block
    grid → 16×8 px, value ``(d*13 + f*71 + j*29) % 256``) are each
    JPEG-encoded, wrapped in a spec-complete MJPEG AVI container
    (functions/aviio.py: RIFF tree, avih/strh/strf headers, word-aligned
    00dc chunks, idx1), then decoded back through the full container
    walk + per-frame Huffman/IDCT JPEG decode.  Constant blocks are
    DC-only, so each frame's mean luma has the exact closed form of
    mm_jpeg_decode averaged over the two blocks — the oracle replays
    container metadata (frame counts, dimensions) AND every sampled
    frame's decoded value in one hash."""
    import numpy as np
    import pandas as pd

    from tlcn_oer_lakehouse_spark.functions.aviio import write_avi_mjpeg
    from tlcn_oer_lakehouse_spark.functions.jpegio import write_jpeg
    from tlcn_oer_lakehouse_spark.operators.multimodal import (
        video_frame_features,
    )

    def _synth(batches):
        for b in batches:
            payloads = []
            for d in b["doc_id"]:
                d = int(d)
                frames = []
                for f in range(2 + d % 4):
                    vals = np.array(
                        [[(d * 13 + f * 71 + j * 29) % 256 for j in range(2)]],
                        dtype=np.int64,
                    )
                    px = np.kron(vals, np.ones((8, 8), dtype=np.int64)).astype(
                        np.uint8
                    )
                    frames.append(write_jpeg(px, quality=50))
                payloads.append(write_avi_mjpeg(frames, width=16, height=8))
            yield pd.DataFrame({"doc_id": b["doc_id"], "payload": payloads})

    docs = _doc_ids(spark, sf)
    vids = docs.mapInPandas(_synth, schema="doc_id long, payload binary")
    # persist the (n_frames-sized) feature rows before the global sort:
    # rangepartitioning SAMPLES its child, so an unpersisted orderBy ran
    # the whole synth+decode upstream twice (r12; guide §1.2)
    feats = video_frame_features(vids).persist()
    return feats.orderBy("doc_id", "frame_no")


MM_VIDEO_SQL = """
WITH f AS (
  SELECT doc_id, unnest(generate_series(0, (2 + doc_id % 4) - 1)) AS frame_no
  FROM documents
),
b AS (SELECT doc_id, frame_no, unnest([0, 1]) AS j FROM f),
dec AS (
  SELECT doc_id, frame_no,
         least(255, greatest(0,
           floor(floor(((doc_id * 13 + frame_no * 71 + j * 29) % 256 - 128) * 8 / 16.0 + 0.5)
                 * 16 / 8.0 + 128 + 0.5)
         )) AS dv
  FROM b
)
SELECT doc_id,
       CAST(frame_no AS INT) AS frame_no,
       16 AS width,
       8 AS height,
       CAST(SUM(dv) AS DOUBLE) / 2 AS mean_luma,
       CAST(2 + doc_id % 4 AS INT) AS n_frames,
       'ok' AS decode_status
FROM dec
GROUP BY doc_id, frame_no
ORDER BY doc_id, frame_no
"""


def mm_mp4_frames(spark: SparkSession, sf: str) -> DataFrame:
    """REAL MP4 decode round-trip: per doc, ``2 + d % 3`` constant-block
    grayscale frames (16×8 px, two 8×8 blocks, value
    ``(d*17 + f*53 + j*31) % 256``) are JPEG-encoded, wrapped in a
    spec-complete ISO BMFF container (functions/mp4io.py: ftyp/mdat/
    moov box tree, 'jpeg' visual sample entry, stts/stsc/stsz/stco
    sample tables, every-2nd-frame stss sync marks), then decoded back
    through the full box walk + per-frame Huffman/IDCT JPEG decode.
    Beyond the AVI twin (mm_video_frames), the MP4 sample tables yield
    ``is_sync`` and ``dts`` — both oracle-replayed in closed form
    (sync ⇔ even frame_no; dts = frame_no at timescale=fps)."""
    import numpy as np
    import pandas as pd

    from tlcn_oer_lakehouse_spark.functions.jpegio import write_jpeg
    from tlcn_oer_lakehouse_spark.functions.mp4io import write_mp4_mjpeg
    from tlcn_oer_lakehouse_spark.operators.multimodal import (
        mp4_frame_features,
    )

    def _synth(batches):
        for b in batches:
            payloads = []
            for d in b["doc_id"]:
                d = int(d)
                frames = []
                for f in range(2 + d % 3):
                    vals = np.array(
                        [[(d * 17 + f * 53 + j * 31) % 256 for j in range(2)]],
                        dtype=np.int64,
                    )
                    px = np.kron(vals, np.ones((8, 8), dtype=np.int64)).astype(
                        np.uint8
                    )
                    frames.append(write_jpeg(px, quality=50))
                payloads.append(
                    write_mp4_mjpeg(frames, width=16, height=8, sync_every=2)
                )
            yield pd.DataFrame({"doc_id": b["doc_id"], "payload": payloads})

    docs = _doc_ids(spark, sf)
    vids = docs.mapInPandas(_synth, schema="doc_id long, payload binary")
    # same persist-before-sort as mm_video_frames (sampling double-eval)
    feats = mp4_frame_features(vids).persist()
    return feats.orderBy("doc_id", "frame_no")


def mm_phash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash image dedup — the multimodal near-dup primitive
    (every multimodal corpus dedups images before training): decode the
    REAL raster (netpbm bytes through the in-repo codec), average-hash
    it (aHash: per-cell mean vs global mean → one bit per cell over an
    8×4 grid), then cluster by exact hash bucket.  Synthesized images
    give every ``doc_id // 5`` cohort the same base pattern, with a +2
    luma shift on ``doc_id % 5 == 1`` members — a near-duplicate the
    bit threshold absorbs — so clusters of ~5 are recovered from
    genuinely different bytes.

    100 TB design: the hash is computed per asset inside the decode
    mapInPandas (no shuffle), and clustering is ONE groupBy on the
    64-bit hash — the banded-bucket shape every dedup op here uses,
    never an all-pairs compare; Hamming-near buckets would band the
    hash into 4×16-bit keys the same way SimHash does
    (operators/dedup.py:simhash pigeonhole banding).  The oracle
    replays decode (netpbm is lossless), cell means, threshold bits and
    the bucket aggregation in closed form."""
    import numpy as np
    import pandas as pd

    from tlcn_oer_lakehouse_spark.functions.netpbm import read_netpbm, write_pgm

    GW, GH, CELL = 8, 4, 4  # 8×4 grid of 4×4 cells → 32×16 px, 32 bits

    def _synth(batches):
        for b in batches:
            payloads = []
            for d in b["doc_id"]:
                d = int(d)
                base, member = d // 5, d % 5
                cells = np.array(
                    [[(base * 1009 + (y * GW + x) * 757
                       + base * (y * GW + x) * 31) % 240
                      for x in range(GW)] for y in range(GH)],
                    dtype=np.int64,
                )
                if member == 1:
                    cells = cells + 2  # near-duplicate: small luma shift
                px = np.kron(cells, np.ones((CELL, CELL), dtype=np.int64))
                payloads.append(write_pgm(px.astype(np.uint8)))
            yield pd.DataFrame({"doc_id": b["doc_id"], "payload": payloads})

    def _ahash(batches):
        for pdf in batches:
            ids, hashes = [], []
            for i, p in zip(pdf["doc_id"], pdf["payload"]):
                arr = read_netpbm(bytes(p)).astype(np.int64)
                cells = arr.reshape(GH, CELL, GW, CELL).mean(axis=(1, 3))
                mean = cells.mean()
                bits = (cells >= mean).astype(np.int64).ravel()
                ids.append(i)
                hashes.append(int((bits << np.arange(bits.size)).sum()))
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "ahash": pd.Series(hashes, dtype="int64")}
            )

    docs = _doc_ids(spark, sf)
    imgs = docs.mapInPandas(_synth, schema="doc_id long, payload binary")
    hashed = imgs.mapInPandas(_ahash, schema="doc_id long, ahash long")
    return (
        hashed.groupBy("ahash")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_members") >= 2)
        .orderBy("ahash")
    )


# constant cells mean per-cell average == the cell value, so the whole
# decode+hash chain reduces to integer arithmetic on the cell formula;
# the +2 near-dup shift adds 2 to every cell AND to the global mean, so
# the threshold bits are provably identical — that is the aHash
# robustness claim, replayed rather than assumed
MM_PHASH_SQL = """
WITH cells AS (
  SELECT doc_id, doc_id // 5 AS base, i,
         ((doc_id // 5) * 1009 + i * 757 + (doc_id // 5) * i * 31) % 240
           + CASE WHEN doc_id % 5 = 1 THEN 2 ELSE 0 END AS v
  FROM documents, LATERAL (SELECT unnest(generate_series(0, 31)) AS i)
),
means AS (
  SELECT doc_id, CAST(SUM(v) AS DOUBLE) / 32 AS m FROM cells GROUP BY doc_id
),
hashes AS (
  SELECT c.doc_id,
         CAST(SUM(CASE WHEN c.v >= m.m THEN CAST(1 AS BIGINT) << c.i ELSE 0 END) AS BIGINT) AS ahash
  FROM cells c JOIN means m ON c.doc_id = m.doc_id
  GROUP BY c.doc_id
)
SELECT ahash, COUNT(*) AS n_members, MIN(doc_id) AS canonical_doc
FROM hashes
GROUP BY ahash
HAVING COUNT(*) >= 2
ORDER BY ahash
"""


# the JPEG DC-only closed form is shared with mm_video_frames; only the
# value formula, frame count, and the two MP4-specific columns differ
MM_MP4_SQL = """
WITH f AS (
  SELECT doc_id, unnest(generate_series(0, (2 + doc_id % 3) - 1)) AS frame_no
  FROM documents
),
b AS (SELECT doc_id, frame_no, unnest([0, 1]) AS j FROM f),
dec AS (
  SELECT doc_id, frame_no,
         least(255, greatest(0,
           floor(floor(((doc_id * 17 + frame_no * 53 + j * 31) % 256 - 128) * 8 / 16.0 + 0.5)
                 * 16 / 8.0 + 128 + 0.5)
         )) AS dv
  FROM b
)
SELECT doc_id,
       CAST(frame_no AS INT) AS frame_no,
       16 AS width,
       8 AS height,
       CAST(SUM(dv) AS DOUBLE) / 2 AS mean_luma,
       CAST(2 + doc_id % 3 AS INT) AS n_frames,
       frame_no % 2 = 0 AS is_sync,
       CAST(frame_no AS BIGINT) AS dts,
       'ok' AS decode_status
FROM dec
GROUP BY doc_id, frame_no
ORDER BY doc_id, frame_no
"""


SPECS = [
    QuerySpec("mm_binary_metadata", mm_binary_metadata, MM_META_SQL,
              ref="transformer.py:570-609 (S7/U4 asset stat enrichment)",
              doc="binary payload size/checksum/mime metadata", tags=("multimodal",)),
    QuerySpec("mm_image_features", mm_image_features, MM_FEATURES_SQL,
              ref="transformer.py:689-709 (U5 decode shape) — Arrow mapInPandas",
              doc="deterministic fake decode: dims + mean-byte brightness",
              tags=("multimodal",)),
    QuerySpec("mm_frame_sample", mm_frame_sample, MM_FRAMES_SQL,
              ref="scale op: video frame sampling shape (1→N mapInPandas)",
              doc="4×64-byte fingerprinted slices per payload", tags=("multimodal",)),
    QuerySpec("mm_pdf_pages", mm_pdf_pages, MM_PDF_PAGES_SQL,
              ref="transformer.py:689-709 (U5 real PDF page extraction + normalize)",
              doc="typeset→parse round trip through real PDF bytes (±Flate)",
              tags=("multimodal", "pdf")),
    QuerySpec("mm_pdf_toc", mm_pdf_toc, MM_PDF_TOC_SQL,
              ref="hierarchical/toc_extractor.py:49-348 (U8 4-method TOC cascade)",
              doc="outline/toc-page/regex/flat cascade over real PDFs",
              tags=("multimodal", "pdf")),
    QuerySpec("mm_pdf_hierarchical", mm_pdf_hierarchical, _pdf_hierarchical_oracle(),
              ref="transformer.py:689-709 ∘ 895-1119 (U5→U7 chain on real bytes)",
              doc="typeset→parse→3-tier chunk; oracle = tier algebra on source text",
              tags=("multimodal", "pdf")),
    QuerySpec("mm_wav_decode", mm_wav_decode, MM_WAV_SQL,
              ref="transformer.py:570-609 (S7 media assets) — real PCM decode",
              doc="RIFF encode→chunk-walk decode→amplitude features round trip",
              tags=("multimodal", "audio")),
    QuerySpec("mm_image_decode", mm_image_decode, MM_IMAGE_SQL,
              ref="transformer.py:689-709 (U5 decode shape) — real raster decode",
              doc="netpbm encode→decode→luma/thumbnail features round trip",
              tags=("multimodal", "image")),
    QuerySpec("mm_png_decode", mm_png_decode, MM_PNG_SQL,
              ref="transformer.py:689-709 (U5 decode shape) — real compressed decode",
              doc="PNG encode (per-row filters)→inflate→unfilter→features round trip",
              tags=("multimodal", "image")),
    QuerySpec("mm_gif_decode", mm_gif_decode, MM_GIF_SQL,
              ref="transformer.py:689-709 (U5 decode shape) — real LZW decode",
              doc="GIF LZW encode→decode→features; lossless, exact oracle",
              tags=("multimodal", "image")),
    QuerySpec("mm_jpeg_decode", mm_jpeg_decode, MM_JPEG_SQL,
              ref="transformer.py:689-709 (U5 decode shape) — real lossy decode",
              doc="baseline JPEG encode→Huffman/IDCT decode; DC-only closed form",
              tags=("multimodal", "image")),
    QuerySpec("mm_video_frames", mm_video_frames, MM_VIDEO_SQL,
              ref="scale op: real MJPEG/AVI container walk + per-frame "
                  "JPEG decode; closes the video branch of SURVEY §2.8",
              doc="AVI encode→container parse→frame JPEG decode round trip",
              tags=("multimodal", "video")),
    QuerySpec("mm_phash_dedup", mm_phash_dedup, MM_PHASH_SQL,
              ref="scale op: perceptual-hash (aHash) image dedup over real "
                  "decoded rasters — per-asset hash in the decode stage, "
                  "ONE hash-bucket groupBy, near-dup +2 shift absorbed",
              doc="aHash clusters from netpbm decode; cohorts of ~5 "
                  "recovered from different bytes",
              tags=("multimodal", "dedup")),
    QuerySpec("mm_mp4_frames", mm_mp4_frames, MM_MP4_SQL,
              ref="scale op: real ISO BMFF box walk + sample-table "
                  "expansion (stts/stsc/stsz/stco/stss) + per-frame JPEG "
                  "decode; closes the mp4 branch of the r4 codec trio",
              doc="MP4 encode→box-tree parse→frame JPEG decode round trip "
                  "with keyframe flags and decode timestamps",
              tags=("multimodal", "video")),
    QuerySpec("mm_wav_windows", mm_wav_windows, MM_WAV_WINDOWS_SQL,
              ref="scale op: audio frame windowing (1→N on real decoded PCM)",
              doc="256-sample window energies from chunk-walked WAV decode",
              tags=("multimodal", "audio")),
    QuerySpec("mm_wav_quadrature", mm_wav_quadrature, MM_WAV_QUADRATURE_SQL,
              ref="scale op: integer-exact spectral bins (DC/fs4/fs2 "
                  "Goertzel slice) on real decoded PCM windows",
              doc="per-window DFT bin powers, all-integer, oracle-replayed",
              tags=("multimodal", "audio")),
]
