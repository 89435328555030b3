"""Pure-Python/numpy baseline JPEG codec — real lossy-compressed image
decode with no external codec libraries, completing the in-repo codec
family (pdfio/wavio/netpbm/pngio).  The decoder is a genuine baseline
JFIF implementation: marker walk, DQT/DHT table parsing, interleaved
MCU entropy decode (Huffman + byte unstuffing), dequantize, dezigzag,
8×8 IDCT, level shift, chroma recombine.  The encoder emits standard
4:4:4 baseline streams the decoder (or any JPEG reader) can parse.

Determinism contract: all rounding is half-up (``floor(x + 0.5)``) on
both quantize and reconstruct, so for rasters built from *constant 8×8
blocks* (DC-only: every AC coefficient is exactly 0) the decoded value
has the closed form

    decode(v) = clamp(floor(floor((v - 128) * 8 / q + 0.5) * q / 8
                            + 128 + 0.5), 0, 255)

with ``q`` the DC quantizer — SQL-replayable, which is how the
``mm_jpeg_decode`` oracle pins the whole pipeline (Huffman decode,
dequantize, IDCT) without reimplementing a DCT in SQL.  General-content
accuracy is pinned separately by round-trip error-bound tests.

Supported: 8-bit baseline sequential (SOF0), grayscale or YCbCr 4:4:4,
no restart markers, no progressive.  Unsupported shapes raise
``ValueError`` — per-asset error isolation happens in the mapInPandas
stage (operators/multimodal.py), as with every other codec here.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

# ---------------------------------------------------------------------------
# constants
# ---------------------------------------------------------------------------

# Annex-K-style base quantization tables (scaled by quality).
QUANT_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int64)
QUANT_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int64)


def _zigzag_order() -> np.ndarray:
    """(64,) flat indices of the 8×8 grid in zigzag scan order,
    generated by the diagonal walk instead of hardcoded."""
    order = sorted(
        ((y, x) for y in range(8) for x in range(8)),
        key=lambda p: (p[0] + p[1], p[1] if (p[0] + p[1]) % 2 else p[0]),
    )
    return np.array([y * 8 + x for y, x in order])


ZIGZAG = _zigzag_order()

# Huffman code-length histograms + symbol lists.  The decoder rebuilds
# its tables from the DHT segments in the stream, so correctness needs
# these to be VALID prefix codes covering every emitted symbol (DC sizes
# 0-11; AC (run, size) pairs + EOB + ZRL), which the import-time checks
# below assert — byte-exact agreement with Annex K is not required for a
# self-consistent codec.
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))


def _ac_symbols() -> list[int]:
    """All 162 AC symbols: EOB, ZRL, and (run 0-15, size 1-10)."""
    syms = [0x00, 0xF0]
    syms += [(run << 4) | size for run in range(16) for size in range(1, 11)]
    return syms


AC_SYMBOLS = _ac_symbols()
# Uniform 8-bit codes for all 162 AC symbols: Kraft sum 162/256 < 1, so
# the canonical construction is a valid prefix code and never assigns
# the all-ones pattern.  ~1 bit/symbol worse than Annex K's optimized
# lengths — irrelevant here, and both sides read the table from DHT.
AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(AC_SYMBOLS), 0, 0, 0, 0, 0, 0, 0, 0]


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: {symbol: (code, length)}."""
    if sum(bits) != len(vals):
        raise AssertionError("Huffman histogram/value-count mismatch")
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    if code > (1 << 17):
        raise AssertionError("Huffman code overflow (invalid histogram)")
    return codes


# import-time validation: every table must build
_build_codes(DC_LUMA_BITS, DC_LUMA_VALS)
_build_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
_build_codes(AC_BITS, AC_SYMBOLS)


def _dct_matrix() -> np.ndarray:
    n = np.arange(8)
    k = n[:, None]
    t = np.cos((2 * n + 1) * k * np.pi / 16)
    t[0] *= np.sqrt(1 / 2)
    return t * 0.5  # orthonormal: F = T @ B @ T.T


DCT_T = _dct_matrix()


def _half_up(x: np.ndarray) -> np.ndarray:
    """Deterministic half-up rounding (np.round is half-to-even, which
    SQL cannot replay)."""
    return np.floor(x + 0.5)


def dc_quantizer(quality: int) -> int:
    """The effective luma DC quantizer at ``quality`` — exposed so the
    SQL oracle can inline it."""
    return int(_scale_table(QUANT_LUMA, quality)[0, 0])


def _scale_table(base: np.ndarray, quality: int) -> np.ndarray:
    if not 1 <= quality <= 100:
        raise ValueError("quality must be 1..100")
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = (base * s + 50) // 100
    return np.clip(t, 1, 255)


# ---------------------------------------------------------------------------
# bit I/O
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        return bytes(self.out)


def _unstuff_entropy(raw: bytes) -> bytes:
    """Byte-unstuffed entropy segment, truncated at the first invalid
    marker — 0xFF followed by anything but 0x00, or a trailing 0xFF.

    The r12 LUT reader consumes this eagerly-unstuffed buffer; the
    former per-byte reader raised on the invalid byte only when the
    decode actually REACHED it, so truncating (instead of raising here)
    preserves that laziness exactly: bits before the cut decode
    identically, and a decode that needs bits at/after the cut raises
    ``entropy stream exhausted`` where the old reader raised its
    marker/truncation error — same accept/reject set, all ValueError."""
    d = np.frombuffer(raw, dtype=np.uint8)
    ff = np.flatnonzero(d == 0xFF)
    if ff.size == 0:
        return raw
    trailing = ff == len(raw) - 1
    bad = trailing | (~trailing & (d[np.minimum(ff + 1, len(raw) - 1)] != 0))
    cut = int(ff[bad][0]) if bad.any() else len(raw)
    good_ff = ff[ff < cut]
    if good_ff.size == 0:
        return raw[:cut]
    return np.delete(d[:cut], good_ff + 1).tobytes()


@functools.lru_cache(maxsize=16)
def _huff_lut(bits: bytes, vals: bytes) -> tuple[bytes, bytes]:
    """16-bit-peek canonical-Huffman lookup tables: two 65536-byte
    strings mapping the next 16 bits to (symbol, code length); length 0
    marks an invalid prefix.  One table lookup replaces the former
    bit-by-bit walk (the decode hot loop was ~95% read_bit by profile).
    Cached on the DHT payload (bits, vals) in a 16-entry LRU, 2 MB at
    most: the fixture encoder emits one fixed table set, so the build
    cost is paid once per worker, and a worker decoding JPEGs with many
    different tables keeps only the recent ones."""
    sym = np.zeros(1 << 16, dtype=np.uint8)
    ln = np.zeros(1 << 16, dtype=np.uint8)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            sym[lo:hi] = vals[k]
            ln[lo:hi] = length
            code += 1
            k += 1
        code <<= 1
    return sym.tobytes(), ln.tobytes()


class _BitReader:
    """LUT-driven reader over an unstuffed entropy buffer (r12).

    ``read_symbol`` peeks 16 bits (zero-padded past end-of-stream: pad
    bits are only accepted when the decoded code length fits inside the
    remaining real bits, so truncation still raises)."""

    __slots__ = ("data", "n", "pos", "acc", "nbits")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.n = len(data)
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _refill(self) -> None:
        while self.nbits < 16 and self.pos < self.n:
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8

    def read_symbol(self, sym_t: bytes, len_t: bytes) -> int:
        nb = self.nbits
        if nb < 16:
            self._refill()
            nb = self.nbits
        if nb >= 16:
            peek = (self.acc >> (nb - 16)) & 0xFFFF
        else:
            peek = (self.acc << (16 - nb)) & 0xFFFF
        length = len_t[peek]
        if length == 0:
            if nb < 16:
                raise ValueError("entropy stream exhausted")
            raise ValueError("invalid Huffman code in scan")
        if length > nb:
            raise ValueError("entropy stream exhausted")
        nb -= length
        self.nbits = nb
        self.acc &= (1 << nb) - 1
        return sym_t[peek]

    def read_bits(self, n: int) -> int:
        if self.nbits < n:
            self._refill()
            if self.nbits < n:
                raise ValueError("entropy stream exhausted")
        nb = self.nbits - n
        v = (self.acc >> nb) & ((1 << n) - 1)
        self.nbits = nb
        self.acc &= (1 << nb) - 1
        return v


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------

def _magnitude(v: int) -> tuple[int, int]:
    """(size, amplitude bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _emit_block(
    w: _BitWriter, zz: list[int], pred: int,
    dc_codes: dict, ac_codes: dict,
) -> int:
    """Entropy-code one precomputed zigzag coefficient row (r12: the
    FDCT/quantization moved to a batched pass in write_jpeg — the
    ~1e-13 matmul-noise round + half-up quantize happen there with the
    same operation order, so the emitted bits are unchanged)."""
    last_nz = 0
    for i in range(63, 0, -1):
        if zz[i]:
            last_nz = i
            break
    dc = zz[0]
    size, bits = _magnitude(dc - pred)
    code, length = dc_codes[size]
    w.write(code, length)
    if size:
        w.write(bits, size)
    run = 0
    for i in range(1, last_nz + 1):
        v = zz[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]
            w.write(code, length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        w.write(code, length)
        w.write(bits, size)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        w.write(code, length)
    return dc


def _dht_segment(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def _dqt_segment(tq: int, table: np.ndarray) -> bytes:
    body = bytes([tq]) + bytes(int(x) for x in table.flatten()[ZIGZAG])
    return b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body


def write_jpeg(pixels: np.ndarray, quality: int = 50) -> bytes:
    """uint8 (h, w) grayscale or (h, w, 3) RGB → baseline JFIF bytes
    (4:4:4, no subsampling, no restart markers)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError(f"unsupported raster shape {arr.shape}")
    h, w = arr.shape[:2]
    qy = _scale_table(QUANT_LUMA, quality)
    qc = _scale_table(QUANT_CHROMA, quality)
    if gray:
        comps = [arr.astype(np.float64)]
    else:
        rgb = arr.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        comps = [y, cb, cr]
    comps = [np.clip(_half_up(c), 0, 255) for c in comps]
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    comps = [np.pad(c, ((0, ph - h), (0, pw - w)), mode="edge") for c in comps]

    dc_l = _build_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    dc_c = _build_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac = _build_codes(AC_BITS, AC_SYMBOLS)

    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
        + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + bytes([0, 0])
    )
    out += _dqt_segment(0, qy)
    if not gray:
        out += _dqt_segment(1, qc)
    ncomp = 1 if gray else 3
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sof += bytes([cid, 0x11, 0 if cid == 1 else 1])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
    out += _dht_segment(1, 0, AC_BITS, AC_SYMBOLS)
    if not gray:
        out += _dht_segment(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
        out += _dht_segment(1, 1, AC_BITS, AC_SYMBOLS)
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00 if cid == 1 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    wtr = _BitWriter()
    preds = [0] * ncomp
    dc_codes = [dc_l] + [dc_c] * (ncomp - 1)
    qtabs = [qy] + [qc] * (ncomp - 1)
    # r12: FDCT + quantization batched over every block per component
    # (same (T @ (b-128)) @ T.T product order and the same round/floor
    # chain as the former per-block _encode_block, pinned bit-identical
    # by the codec round-trip tests and the r12 equality harness); the
    # bit emission walks the precomputed zigzag rows.
    nby, nbx = ph // 8, pw // 8
    zz_comp = []
    for ci in range(ncomp):
        blocks = (
            comps[ci].reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3) - 128.0
        )
        coeffs = np.round(np.matmul(np.matmul(DCT_T, blocks), DCT_T.T), 6)
        q = np.floor(coeffs / qtabs[ci] + 0.5).astype(np.int64)
        # one tolist per component: the emission loop then runs on plain
        # Python ints (numpy scalar indexing per coefficient is what the
        # former per-block form paid)
        zz_comp.append(q.reshape(-1, 64)[:, ZIGZAG].tolist())
    for blk in range(nby * nbx):
        for ci in range(ncomp):
            preds[ci] = _emit_block(
                wtr, zz_comp[ci][blk], preds[ci], dc_codes[ci], ac
            )
    out += wtr.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def _parse_dht(body: bytes, tables: dict) -> None:
    pos = 0
    while pos < len(body):
        tc_th = body[pos]
        bits = bytes(body[pos + 1:pos + 17])
        n = sum(bits)
        vals = bytes(body[pos + 17:pos + 17 + n])
        tables[(tc_th >> 4, tc_th & 0xF)] = _huff_lut(bits, vals)
        pos += 17 + n


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def read_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JFIF bytes → uint8 raster: (h, w) grayscale or
    (h, w, 3) RGB."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict] = {}
    h = w = None
    comps: list[tuple[int, int, int]] = []  # (id, sampling, qtab)
    scan: list[tuple[int, int, int]] = []  # (id, dc_tbl, ac_tbl)
    data_start = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"marker sync lost at {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4:pos + 2 + seglen]
        if marker == 0xDB:
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                flat = np.zeros(64, dtype=np.int64)
                flat[ZIGZAG] = np.frombuffer(
                    body[p + 1:p + 65], dtype=np.uint8
                ).astype(np.int64)
                qtabs[tq] = flat.reshape(8, 8)
                p += 65
        elif marker == 0xC4:
            _parse_dht(body, htabs)
        elif marker == 0xC0:
            h, w = struct.unpack_from(">HH", body, 1)
            ncomp = body[5]
            for i in range(ncomp):
                cid, samp, tq = body[6 + 3 * i:9 + 3 * i]
                if samp != 0x11:
                    raise ValueError("chroma subsampling unsupported (4:4:4 only)")
                comps.append((cid, samp, tq))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA):
            raise ValueError("non-baseline JPEG (progressive/extended) unsupported")
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:
            nsc = body[0]
            for i in range(nsc):
                cid, tt = body[1 + 2 * i:3 + 2 * i]
                scan.append((cid, tt >> 4, tt & 0xF))
            data_start = pos + 2 + seglen
            break
        pos += 2 + seglen
    if h is None or data_start is None:
        raise ValueError("missing SOF0 or SOS")
    # find EOI to bound the entropy stream
    end = payload.rfind(b"\xff\xd9")
    if end < 0:
        end = len(payload)
    rd = _BitReader(_unstuff_entropy(payload[data_start:end]))
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    nby, nbx, ncomp = ph // 8, pw // 8, len(comps)
    # r12: the entropy loop fills one zigzag row per block; dequant +
    # zigzag scatter + IDCT run ONCE, batched over every block (the
    # former per-block 8x8 numpy calls dominated large rasters).  The
    # batched matmul issues the same (T.T @ deq) @ T float64 products,
    # pinned by the codec round-trip tests in tests/test_media_codecs.py.
    zz_all = np.zeros((nby * nbx * ncomp, 64), dtype=np.int64)
    luts = [
        (htabs[(0, scan[ci][1])], htabs[(1, scan[ci][2])])
        for ci in range(ncomp)
    ]
    preds = [0] * ncomp
    read_symbol, read_bits = rd.read_symbol, rd.read_bits
    bi = 0
    for _mcu in range(nby * nbx):
        for ci in range(ncomp):
            (dc_sym, dc_len), (ac_sym, ac_len) = luts[ci]
            zz = [0] * 64
            size = read_symbol(dc_sym, dc_len)
            diff = _extend(read_bits(size), size)
            preds[ci] += diff
            zz[0] = preds[ci]
            k = 1
            while k < 64:
                sym = read_symbol(ac_sym, ac_len)
                if sym == 0x00:  # EOB
                    break
                if sym == 0xF0:  # ZRL
                    k += 16
                    continue
                run, size = sym >> 4, sym & 0xF
                k += run
                if k > 63:
                    raise ValueError("AC coefficient index overflow")
                zz[k] = _extend(read_bits(size), size)
                k += 1
            zz_all[bi] = zz
            bi += 1
    flat = np.zeros((nby * nbx * ncomp, 64), dtype=np.int64)
    flat[:, ZIGZAG] = zz_all
    qstack = np.stack([qtabs[tq] for (_cid, _s, tq) in comps])
    deq = flat.reshape(nby * nbx, ncomp, 8, 8) * qstack
    blocks = np.matmul(np.matmul(DCT_T.T, deq.astype(np.float64)), DCT_T) + 128.0
    grid = blocks.reshape(nby, nbx, ncomp, 8, 8)
    planes = [
        grid[:, :, ci].transpose(0, 2, 1, 3).reshape(ph, pw)[:h, :w]
        for ci in range(ncomp)
    ]
    if len(planes) == 1:
        return np.clip(_half_up(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(_half_up(rgb), 0, 255).astype(np.uint8)
