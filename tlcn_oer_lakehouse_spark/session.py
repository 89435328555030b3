"""SparkSession factory — single place where execution knobs live.

Replaces the reference's per-job session builders
(``airflow/src/silver/transformer.py:1201-1256``,
``airflow/src/gold_analytics.py:96-121``, ``airflow/src/create_schema.py:60-90``)
which re-declared S3A credentials, Iceberg catalogs and shuffle tuning in
every entry point.  Here one factory produces a local or cluster profile;
warehouse layout is plain partitioned Parquet (lakehouse-format agnostic —
Iceberg/Delta jars are not on this classpath, so MERGE semantics are
implemented in :mod:`tlcn_oer_lakehouse_spark.sinks.merge`).

Scale notes (100 TB / 1000-executor design intent):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting means
  we do not hand-tune ``shuffle.partitions`` per query (the reference pinned
  it to 8, which serializes any real cluster).
- Arrow enabled: every pandas-UDF boundary is vectorized.
- UTC session timezone: required for oracle parity and sane lakehouse
  semantics across writer timezones.
- Codegen cache sized above the ingest batch: one landed batch (bronze
  parse, three Silver MERGEs, Gold) compiles 110-116 generated classes
  under Spark's default cache of 100.  The cache is an LRU, and an LRU
  smaller than a working set that each batch sweeps in the same order
  evicts every class just before its next use, so each batch compiles
  every class again in Janino and the JIT compiles the new classes
  again: about a quarter of the batch's JVM CPU.  The conf is static, so only the
  JVM's first session sets it.  The tools, tests and benchmark build
  that session here; a caller that brings its own session (the
  ``__spark_entry__`` contract) keeps Spark's default unless it sets
  the conf itself.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Generated classes Spark keeps compiled (``spark.sql.codegen.cache.maxEntries``,
# default 100).  Measured on the 2k-record ingest batch over 20k keys: a
# batch uses 110-116 classes; the process compiles 168 distinct ones over
# the initial load and the first batch, then about 2 per batch (the
# landing parse's projection inlines the batch's ``current_timestamp()``),
# which are never used again and so are the first to be evicted.
CODEGEN_CACHE_ENTRIES = 1000


def _default_driver_memory() -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: two
    fifths of the host's memory (MemTotal), between 1g and 24g.  A local
    session's JVM grows its heap to the limit and adds its own off-heap
    memory beside the Python workers, so a fixed 24g heap was OOM-killed
    on a 15 GB host; 6g (this rule there) runs the test suite."""
    total_mib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return f"{min(24 * 1024, max(1024, total_mib * 2 // 5))}m"


def get_spark(
    app_name: str = "tlcn_oer_lakehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so tests,
    bench and the driver's verify all share one profile; on a real cluster
    pass ``master=None`` with ``spark.master`` provided by spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER_SET"):
        builder = builder.master(f"local[{cpus}]")

    conf = {
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Harness collects of data-proportional results (decade-sweep
        # parity on corpus-sized bridge/chunk tables) exceed the 1g
        # default at sf10; production writes never driver-collect, so
        # this only affects the verification harnesses
        "spark.driver.maxResultSize": os.environ.get(
            "SPARK_GRAFT_MAX_RESULT", "8g"
        ),
        # Python DataSource scans (sources/pyds.py) feed pushed filters
        # into manifest file pruning; the gate conf is off by default
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # local mode: keep the UI off and the JVM quiet
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()
        ),
        # parquet scan sizing for the local profile; a cluster deployment
        # overrides via spark-defaults
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # split-size floor: the 4 MB default collapses a compressed
        # single-file text table (sf1.0 documents = 7.4 MB) to 2 splits,
        # serializing every scan-heavy plan over it on a 32-core host —
        # and text compresses ~10x, so bytes-on-disk badly understates
        # per-split work.  512 KB is still far above local-NVMe open
        # cost; at cluster scale files dwarf maxPartitionBytes and this
        # floor never binds.
        "spark.sql.files.openCostInBytes": str(512 * 1024),
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
