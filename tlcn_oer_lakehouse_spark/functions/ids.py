"""Deterministic identity & fingerprint expressions.

Re-expresses the reference's content-addressed ID conventions as pure
column expressions (JVM-side, codegen'd) instead of Python-side hashlib
calls inside RDD mapPartitions:

- ``resource_uid`` = sha256(resource_id) and ``asset_uid`` =
  sha256(resource_uid||path) (transformer.py:305-307, :1608) are inline
  ``F.sha2`` expressions in ``pipelines/medallion.py``
- ``record_fingerprint`` = md5 over a canonical column tuple (the
  reference hashes the canonical payload, transformer.py:310-337)
- surrogate keys from hash prefixes                 (gold_analytics.py:258-263;
  the reference uses abs(xxhash64); here a portable md5-prefix variant
  whose value is reproducible outside the JVM)
- packed pair keys for pair aggregates

All are deterministic, so re-runs of any pipeline stage are idempotent by
construction — the property the reference's MERGE-based incremental layer
depends on.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_fingerprint(*cols: Column | str) -> Column:
    """Change-detection fingerprint over a canonical column tuple."""
    parts = [F.col(c).cast("string") if isinstance(c, str) else c.cast("string") for c in cols]
    return F.md5(F.concat_ws("||", *parts))


def surrogate_key(*cols: Column | str) -> Column:
    """64-bit surrogate key from the first 8 hex chars of md5 — portable
    (identical value computable in any engine), unlike xxhash64."""
    return F.conv(F.substring(md5_fingerprint(*cols), 1, 8), 16, 10).cast("long")


PAIR_ID_LIMIT = 1 << 31  # a packed pair keeps each id in 31 bits


def packed_pairs(items: Column | str) -> Column:
    """Every i<j pair of an id array (in array order), each packed into
    one long as ``shiftleft(a, 32) | b``: a single 8-byte key for pair
    aggregates.  Ids are cast to long and checked once per array, before
    pairing: an id that is negative or ≥ 2^31 fails the query through
    ``raise_error`` instead of packing into a key that unpacks wrong."""
    arr = (F.col(items) if isinstance(items, str) else items).cast("array<bigint>")
    out_of_range = F.exists(arr, lambda x: (x < 0) | (x >= PAIR_ID_LIMIT))
    pairs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.shiftleft(x, 32).bitwiseOR(y),
            ),
        )
    )
    return F.when(
        out_of_range,
        F.raise_error(F.lit(f"packed pair key: id outside [0, {PAIR_ID_LIMIT})")),
    ).otherwise(pairs)


def unpacked_pair(key: Column | str) -> tuple[Column, Column]:
    """The (a, b) ids of a :func:`packed_pairs` key."""
    p = F.col(key) if isinstance(key, str) else key
    return F.shiftrightunsigned(p, 32), p.bitwiseAND(F.lit((1 << 32) - 1))
