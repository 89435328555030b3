"""Query registry plumbing.

Every operator from SURVEY.md §2 (plus the scale-path training-data
operators) is registered as a :class:`QuerySpec`: a Spark DataFrame builder,
an equivalent ANSI-SQL oracle string DuckDB can run on the same parquet
tables, and a citation back to the reference implementation.  The driver's
correctness gate compares the two at sf=0.01.

Determinism contract (so value-hashes match bit-for-bit across engines):

- Additive aggregates over doubles go through an exact DECIMAL cast
  (``SUM(CAST(x AS DECIMAL(p,s)))``) — decimal addition is exact and
  order-independent, unlike float summation whose result depends on
  partition order.
- Per-row scalar double math (``a * (1-b)``) is IEEE-754 deterministic and
  identical across engines; derived ratios divide a decimal-exact sum cast
  to double by an exact count.
- ``events.ts`` arrives in one of two parquet encodings depending on the
  testdata generation: TIMESTAMP(NANOS) (read by Spark as epoch-ns BIGINT
  via ``nanosAsLong``) or ``timestamp[us]`` (read as TIMESTAMP_NTZ).
  :func:`load_events` normalises both to the same ``ts_ns``/``ts_sec``/
  ``ts`` columns; DuckDB's ``epoch_ns(ts)`` handles both natively.  Every
  sub-second use must still ``date_trunc`` to second or coarser on BOTH
  sides (Spark timestamps are µs at best).
- Output columns are aliased identically in builder and oracle (the driver
  sorts columns by name before hashing).

Caching rule: a builder whose plan is fixed by ``(spark, sf)`` caches a
multiply-referenced frame with plain ``.persist()``.  Spark's cache is
keyed by plan, so rebuilding the query reuses the one cached entry,
concurrent builds share it instead of unpersisting each other, and
sweeping callers release everything with ``clearCache()``.  A frame
whose plan varies per request (a query's terms, a request's top-k) is
never persisted: the serve path scores from the driver-local corpus
index of ``retrieval.fused_scores`` (its postings must fit in driver
memory, and each request ships one row per embedded document to Spark
as a local relation) and computes the rest inline.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    """One verifiable operator/query.

    name     — registry key; prefixed with the SURVEY §2 operator id.
    builder  — (spark, sf_dir) -> DataFrame, idiomatic DataFrame/SQL API.
    oracle   — DuckDB-runnable ANSI SQL over the same tables, or None for
               genuinely non-SQL-expressible operators (rows-only check).
    ref      — reference citation (file:line) for judge parity checks.
    doc      — one-line description.
    """

    name: str
    builder: Builder
    oracle: str | None
    ref: str = ""
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def parquet_num_rows(sf_dir: str, name: str, required: bool = False) -> int:
    """Row count of a table from its parquet FOOTER — a driver-side
    metadata read, no Spark job.  Used where a plan needs a static size
    bound (e.g. Bloom bitset width) without an eager action at plan
    construction time.  Handles both a single file and a directory of
    part files.

    ``required=False`` (sizing HINTS, e.g. Bloom mbits where mis-sizing
    only moves the false-positive rate): an unreadable footer returns 0
    with a loud warning.  ``required=True`` (sizing that must match an
    oracle-side ``COUNT(*)``, e.g. the k = isqrt(n) kmeans schedule):
    an unreadable or empty footer RAISES — silently falling back to the
    k=4 floor while the oracle computes isqrt(n) would be a guaranteed,
    hard-to-diagnose parity mismatch (ADVICE r8)."""
    import os
    import warnings

    import pyarrow.parquet as pq

    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    try:
        if os.path.isdir(path):
            n = sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        else:
            n = pq.ParquetFile(path).metadata.num_rows
    except Exception as exc:  # noqa: BLE001 — see required semantics above
        if required:
            raise RuntimeError(
                f"parquet footer unreadable for {path}; refusing to size "
                f"from the floor (oracle parity would silently break)"
            ) from exc
        warnings.warn(f"parquet footer unreadable for {path}: {exc}; using 0")
        return 0
    if required and n == 0:
        raise RuntimeError(
            f"parquet footer reports 0 rows for {path}; refusing to size "
            f"from the floor (oracle parity would silently break)"
        )
    return n


def prefix_sum_partitions(spark: SparkSession) -> int:
    """Partition count for the two-phase distributed prefix sum
    (range-partition → per-partition window → broadcast offsets).

    Reads the session's ``spark.sql.shuffle.partitions`` so the scan
    width scales with the cluster instead of a test-scale constant; the
    RESULT is partition-count-independent (a prefix sum doesn't care
    where the partition boundaries fall — pinned by the parallelism
    probe), so determinism is preserved while the driver-side offset
    collect stays one row per partition."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return max(1, int(raw))
    except ValueError:  # "auto" under some AQE configs
        return int(spark.sparkContext.defaultParallelism)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table, normalising either ``ts`` encoding.

    The generated ``events.parquet`` has shipped with two encodings of
    ``ts`` over time, and this loader accepts both:

    - parquet TIMESTAMP(NANOS): Spark 4 rejects it outright
      (PARQUET_TYPE_ILLEGAL) unless ``spark.sql.legacy.parquet.nanosAsLong``
      is set, which reads it as epoch-nanosecond BIGINT.  We set the conf
      before the read so the driver's own session works too.
    - parquet ``timestamp[us]``: read natively as TIMESTAMP_NTZ (or
      TIMESTAMP when NTZ inference is off); micros are extracted
      timezone-free and scaled to ns.

    Either way the returned frame exposes the same three columns:

    - ``ts_ns``  — raw epoch nanoseconds (BIGINT; for µs sources this is
      micros × 1000, which is exactly what DuckDB's ``epoch_ns`` yields)
    - ``ts_sec`` — epoch seconds via integer division (``div`` keeps the
      math in BIGINT; double division would lose precision at 1.7e18)
    - ``ts``     — second-truncated TIMESTAMP

    DuckDB oracle equivalents: ``epoch_ns(ts)``, ``epoch_ns(ts)//1000000000``,
    ``make_timestamp((epoch_ns(ts)//1000000000) * 1000000)`` — DuckDB's
    ``epoch_ns`` is encoding-agnostic, so oracles are unchanged.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_dtype = dict(ev.dtypes)["ts"]
    if ts_dtype == "bigint":
        # TIMESTAMP(NANOS) source read as epoch-ns LONG via nanosAsLong.
        ev = ev.withColumnRenamed("ts", "ts_ns")
    else:
        # timestamp[us] source.  Extract raw micros without any timezone
        # interpretation: TIMESTAMP_NTZ diffs against the NTZ epoch;
        # TIMESTAMP (ltz) uses unix_micros, which is already tz-free.
        if ts_dtype == "timestamp_ntz":
            micros = F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts_ns)"
            )
        else:
            micros = F.unix_micros(F.col("ts_ns"))
        # Rename first, then replace in place: keeps ts_ns at ts's original
        # column position so the frame's schema is identical on both paths.
        ev = ev.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts_ns", micros * F.lit(1000).cast("long")
        )
    return (
        ev.withColumn("ts_sec", F.expr("ts_ns div 1000000000"))
        .withColumn("ts", F.timestamp_seconds(F.col("ts_sec")))
    )
