"""The medallion pipeline: bronze JSON → silver curated tables (MERGE,
idempotent) → gold star schema — the reference's core lifecycle
(SURVEY §3.1-3.2) as declarative DataFrame builders over the shared
merge sink.

Reference parity:
- ``normalize_bronze``  ≙ U1 (transformer.py:479-567): alias coalescing
  (title|course_title|book_title|resource_title :281-286,
  instructors|authors|creators :492, url|link :491), source_system
  inference from explicit field or URL pattern (:205-225), language
  normalization (:190-202), publication-year parsing (:250-278),
  deterministic ids + content fingerprint (:305-337), weighted
  data-quality score (:340-368) — all pure column expressions, no RDDs.
- ``run_silver``        ≙ §3.1 steps 3-8: normalize → W1 latest-wins →
  J1/P3 change detection → K1 MERGE resources → O6 explode assets →
  one documents MERGE whose K1 upsert and J4/K2 deleted-asset cleanup
  share one commit — at most one commit per Silver table per batch.
- ``run_gold``          ≙ §3.2: source dim + coverage fact, full
  refresh, aggregate-before-join.

Scale: one shuffle for the dedup window (keyed by resource_uid), one for
each MERGE's change-join (same key — co-partitioned), one per gold
aggregate.  Quality score, fingerprints and ids are scan-speed
expressions; nothing touches the driver.  A batch's Silver tables
(resources, documents and, from landing, the quarantine) read none of
each other's commits, so they commit concurrently
(:func:`_commit_concurrently`): each MERGE is a few short jobs plus
driver-side planning, and overlapping them keeps the cores busy that
one MERGE alone leaves idle.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.operators.incremental import latest_wins
from tlcn_oer_lakehouse_spark.sinks.merge import ParquetMergeTable

UNTITLED = "Untitled"

_LANG_MAP = {"en": "en", "eng": "en", "english": "en", "vi": "vi", "vie": "vi"}


def _norm_language(c) -> F.Column:
    low = F.lower(F.trim(c))
    expr = low
    for raw, norm in _LANG_MAP.items():
        expr = F.when(low == raw, norm).otherwise(expr)
    return F.coalesce(expr, F.lit("und"))


def _source_system(src, url) -> F.Column:
    return F.coalesce(
        F.when(F.lower(src).isin("mit_ocw", "mit ocw"), "mit_ocw")
        .when(F.lower(src) == "openstax", "openstax")
        .when(F.lower(src) == "open textbook library", "otl"),
        F.when(url.contains("ocw.mit.edu"), "mit_ocw")
        .when(url.contains("openstax.org"), "openstax")
        .when(url.contains("open.umn.edu"), "otl"),
        F.lit("unknown"),
    )


def normalize_bronze(bronze: DataFrame) -> DataFrame:
    """U1: tolerant normalization of heterogeneous scraped records."""
    cols = set(bronze.columns)

    def opt(name: str) -> F.Column:
        return F.col(name) if name in cols else F.lit(None).cast("string")

    def opt_arr(name: str) -> F.Column:
        return (
            F.col(name) if name in cols else F.lit(None).cast("array<string>")
        )

    title = F.coalesce(
        opt("title"), opt("course_title"), opt("book_title"),
        opt("resource_title"), F.lit(UNTITLED),
    )
    url = F.coalesce(opt("url"), opt("link"))
    creators = F.coalesce(
        opt_arr("instructors"), opt_arr("authors"), opt_arr("creators"),
        F.array().cast("array<string>"),
    )
    resource_id = F.coalesce(opt("id"), F.md5(url))
    resource_uid = F.sha2(resource_id, 256)
    pdf_paths = F.coalesce(opt_arr("pdf_paths"), F.array().cast("array<string>"))
    description = opt("description")
    year = F.coalesce(
        opt("year").cast("int"),
        F.regexp_extract(opt("publication_date"), r"^(\d{4})", 1).cast("int"),
    )
    scraped_at = F.to_timestamp(opt("scraped_at"))
    fingerprint = F.md5(
        F.concat_ws(
            "|",
            title,
            F.coalesce(description, F.lit("")),
            F.coalesce(url, F.lit("")),
            F.to_json(pdf_paths),
        )
    )
    quality = (
        F.when(title != UNTITLED, 0.3).otherwise(0.0)
        + F.when(F.length(F.coalesce(description, F.lit(""))) >= 80, 0.3).otherwise(0.0)
        + F.when(F.size(creators) > 0, 0.2).otherwise(0.0)
        + F.when(opt("license").isNotNull(), 0.1).otherwise(0.0)
        + F.when(F.size(pdf_paths) > 0, 0.1).otherwise(0.0)
    )
    return bronze.select(
        resource_uid.alias("resource_uid"),
        resource_id.alias("resource_id"),
        _source_system(opt("source"), F.coalesce(url, F.lit(""))).alias("source_system"),
        url.alias("source_url"),
        title.alias("title"),
        description.alias("description"),
        creators.alias("creator_names"),
        _norm_language(opt("language")).alias("language"),
        opt("license").alias("license_name"),
        year.alias("publication_year"),
        scraped_at.alias("scraped_at"),
        pdf_paths.alias("pdf_paths"),
        (F.size(pdf_paths) > 0).alias("has_assets"),
        fingerprint.alias("record_fingerprint"),
        F.round(quality, 9).alias("data_quality_score"),
    )


def explode_documents(resources: DataFrame) -> DataFrame:
    """One row per PDF asset (transformer.py:1588-1633): posexplode with
    derived file name/extension and content-addressed asset_uid."""
    ex = resources.select(
        "resource_uid",
        "source_system",
        "scraped_at",
        F.posexplode_outer("pdf_paths").alias("asset_order", "asset_path"),
    ).filter(F.col("asset_path").isNotNull())
    file_name = F.element_at(F.split(F.col("asset_path"), "/"), -1)
    return ex.select(
        F.sha2(F.concat_ws("||", F.col("resource_uid"), F.col("asset_path")), 256).alias(
            "asset_uid"
        ),
        "resource_uid",
        "source_system",
        "asset_order",
        "asset_path",
        file_name.alias("file_name"),
        F.lower(F.regexp_extract(file_name, r"\.([A-Za-z0-9]+)$", 1)).alias(
            "asset_extension"
        ),
        F.col("scraped_at").alias("updated_at"),
        F.md5(F.concat_ws("|", F.col("asset_path"), F.col("asset_order"))).alias(
            "record_fingerprint"
        ),
    )


def untouched_assets(documents: DataFrame, batch: DataFrame) -> DataFrame:
    """The ``asset_uid`` of every stored asset whose resource is not in
    ``batch``: the documents MERGE's current keys.  A stored asset of a
    resource in the batch that the batch no longer lists is stale."""
    return documents.join(
        batch.select("resource_uid"), "resource_uid", "left_anti"
    ).select("asset_uid")


class SilverWarehouse:
    """The two silver tables, backed by merge-able parquet."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.resources = ParquetMergeTable(
            spark, f"{root}/oer_resources_curated", key="resource_uid",
            ts_col="scraped_at", partition_by=("source_system",),
        )
        self.documents = ParquetMergeTable(
            spark, f"{root}/oer_documents", key="asset_uid",
            partition_by=("source_system",),
        )


def _commit_concurrently(spark: SparkSession, *commits: Callable) -> list:
    """Run one batch's independent table commits at the same time and
    return their results in commit order.  The first commit runs on the
    caller's thread, each other one on a pool thread whose target
    ``inheritable_thread_target(spark)`` wraps, so its jobs carry the
    caller's job group and local properties.  Every commit runs to its
    end before this returns or raises; if commits fail, the first
    failure in commit order is raised, noting the others.  Each commit
    stays atomic, so a failure leaves the other tables committed and a
    replay of the batch is a no-op for them.  A commit may itself call
    this (:func:`_run_silver` nests its two Silver commits in one).  The
    package's one place that starts threads."""
    first, *rest = commits
    with ThreadPoolExecutor(len(rest) or 1, thread_name_prefix="commit") as pool:
        # one wrap per target: each clones the caller's local properties,
        # so the threads never share the Properties that a query mutates
        pooled = [pool.submit(inheritable_thread_target(spark)(c)) for c in rest]
        on_caller: Future = Future()
        try:
            on_caller.set_result(first())
        except Exception as exc:  # noqa: BLE001 — raised below, in order
            on_caller.set_exception(exc)
    futures = [on_caller, *pooled]
    errors = [f.exception() for f in futures if f.exception() is not None]
    for later in errors[1:]:
        errors[0].add_note(f"a concurrent commit also failed: {later!r}")
    return [f.result() for f in futures]


def _fill(spark: SparkSession, df: DataFrame) -> None:
    """Fill the cache of the persisted ``df`` now, with the job the
    adaptive planner would otherwise start from the first query that
    scans it.  Concurrent commits that both scan ``df`` before it is
    filled each start that job (and each of a commit's scans may start
    its own), so a shared frame is filled before the commits that scan
    it start; the batch runs the same jobs as when the commits queued.
    A cache that is already filled starts no job.  Spark exposes the
    cache's one fill job only through its cache manager."""
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    if cached.isDefined():
        builder = cached.get().cachedRepresentation().cacheBuilder()
        if not builder.isCachedColumnBuffersLoaded():
            builder.cachedColumnBuffers().count()


def _run_silver(
    spark: SparkSession, bronze: DataFrame, warehouse_root: str, *also: Callable
) -> tuple[dict, list]:
    """:func:`run_silver`, with ``also`` (commits of the same batch to
    other tables, which must not scan ``bronze`` unless it is filled)
    committed alongside the two Silver tables: they start at once, the
    Silver commits once ``normalized`` is filled.  Returns the Silver
    counts and the results of ``also``."""
    wh = SilverWarehouse(spark, warehouse_root)
    normalized = latest_wins(
        normalize_bronze(bronze), "resource_uid", ["scraped_at"]
    ).persist()

    def documents() -> tuple[int, int]:
        # deleted-asset propagation (J4/K2) is the documents MERGE's WHEN
        # NOT MATCHED BY SOURCE DELETE clause, so upsert and delete are one
        # commit: for resources present in this batch, any stored asset
        # not in the current asset set is stale.  Keep = assets of
        # untouched resources; MERGE never deletes this batch's own assets.
        keep = (
            untouched_assets(wh.documents.read(), normalized)
            if wh.documents.exists() else None
        )
        return wh.documents.merge(explode_documents(normalized), current_keys=keep)

    def silver() -> list:
        _fill(spark, normalized)  # both Silver commits scan it
        return _commit_concurrently(
            spark, lambda: wh.resources.merge_upsert(normalized), documents
        )

    try:
        (n_resources, (n_docs, n_deleted)), *rest = _commit_concurrently(
            spark, silver, *also
        )
    finally:
        normalized.unpersist()
    return {"resources_upserted": n_resources, "documents_upserted": n_docs,
            "documents_deleted": n_deleted}, rest


def run_silver(spark: SparkSession, bronze: DataFrame, warehouse_root: str) -> dict:
    """Full silver pass. Returns per-table upsert/delete counts —
    re-running on identical bronze input yields all zeros (idempotence
    the reference guarantees via J1/P3; tested in test_medallion.py).

    The normalized batch is persisted and filled once; the resources
    upsert (on the caller's thread) and the documents MERGE (on a pool
    thread) then commit concurrently, and it is released after both
    have finished.
    A failed commit is raised only then, so the other table's commit is
    never cut short."""
    return _run_silver(spark, bronze, warehouse_root)[0]


def run_silver_from_landing(
    spark: SparkSession,
    landing_path: str,
    warehouse_root: str,
    schema=None,
    multiline: bool = False,
) -> dict:
    """Landing files → silver in one call: the production entry that
    composes the resilient bronze reader (corrupt-record quarantine,
    lineage columns — `sources/bronze_json.py`) with :func:`run_silver`.

    Corrupt rows land in a ``bronze_quarantine`` merge table keyed by
    payload hash (idempotent under replay — re-reading the same broken
    file adds nothing) instead of failing the run; the reference aborts
    the whole silver pass on one malformed scrape (transformer.py S1 has
    no badRecords handling).

    The parse is filled first; the quarantine commit, which scans only
    it, then runs on a pool thread while :func:`run_silver` fills the
    normalized batch and makes its two commits, so the batch's three
    tables commit concurrently.  The cached parse is released once all
    three have finished."""
    from tlcn_oer_lakehouse_spark.sources.bronze_json import (
        read_bronze_json,
        split_corrupt,
    )

    # split_corrupt caches the parse and ``cache()`` returns the same
    # frame, so ``parsed`` is what to release once every merge is done.
    parsed = read_bronze_json(spark, landing_path, schema=schema, multiline=multiline)
    try:
        good, quarantine = split_corrupt(parsed)
        _fill(spark, parsed)  # the quarantine and the Silver commits scan it
        q_rows = quarantine.select(
            F.sha2(F.col("_corrupt_record"), 256).alias("payload_hash"),
            F.col("_corrupt_record").alias("payload"),
            "bronze_source_path",
            "ingested_at",
        )
        # payload_hash doubles as the fingerprint: replaying the same broken
        # file matches on key + identical fingerprint → 0 upserts (no-op).
        qt = ParquetMergeTable(
            spark,
            f"{warehouse_root}/bronze_quarantine",
            key="payload_hash",
            fingerprint_col="payload_hash",
        )
        stats, (n_quarantined,) = _run_silver(
            spark, good, warehouse_root, lambda: qt.merge_upsert(q_rows)
        )
    finally:
        parsed.unpersist()
    stats["rows_quarantined"] = n_quarantined
    return stats


def run_gold(spark: SparkSession, warehouse_root: str) -> dict[str, DataFrame]:
    """Gold star schema from silver: source dim + per-source coverage
    fact (aggregate-before-join; no cosmetic sorts)."""
    wh = SilverWarehouse(spark, warehouse_root)
    res = wh.resources.read()
    docs = wh.documents.read()

    dim_sources = res.select("source_system").distinct().select(
        F.conv(F.substring(F.md5("source_system"), 1, 8), 16, 10)
        .cast("long")
        .alias("source_key"),
        "source_system",
    )
    doc_counts = docs.groupBy("resource_uid").agg(
        F.count(F.lit(1)).alias("document_count")
    )
    fact = (
        res.join(doc_counts, "resource_uid", "left")
        .groupBy("source_system")
        .agg(
            F.count(F.lit(1)).alias("total_resources"),
            F.sum(F.when(F.col("has_assets"), 1).otherwise(0)).alias(
                "resources_with_assets"
            ),
            F.sum(F.coalesce(F.col("document_count"), F.lit(0))).alias(
                "total_documents"
            ),
            F.round(
                F.sum(F.col("data_quality_score").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("avg_quality"),
        )
        .withColumn(
            "coverage_pct",
            F.round(
                F.col("resources_with_assets") * 100.0 / F.col("total_resources"), 9
            ),
        )
    )
    return {"dim_sources": dim_sources, "fact_source_coverage": fact}
