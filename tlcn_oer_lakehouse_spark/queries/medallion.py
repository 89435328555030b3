"""The composed MEDALLION lifecycle — the reference's flagship
bronze→silver→gold ETL registered as ONE oracle-checked plan.

``rag_serve_e2e`` composed SURVEY §3.3 (the serve path) and
``td_pipeline_e2e`` composed the training-data path; this module closes
the last headline flow: SURVEY §3.1-3.2, the scrape-ingest lifecycle of
``transformer.py:2494-2640`` (bronze JSON → tolerant normalize →
latest-wins dedup → change-detected MERGE → asset explode + stale-asset
delete) feeding ``gold_analytics.py:123-186`` (the per-source coverage
fact).  Every stage is the REAL pipeline operator from
``pipelines/medallion.py`` / ``operators/incremental.py`` — this module
only supplies a deterministic bronze fixture and the gold roll-up, so a
driver hash green pins the composition of the production code paths.

The bronze fixture is derived from the ``documents`` table in BOTH
engines: three scrape generations per resource (v0 = the prior silver
state, v1 + v2 = one incoming landing batch), serialized to JSON payload
strings on the Spark side (schema-on-read S1: heterogeneous field
aliases — title/course_title/book_title, url/link,
instructors/authors/creators — null-dropped per record) and re-parsed
with ``from_json``.  The JSON hop is value-identity, so the DuckDB
oracle computes the same records directly and replays dedup / change
detection / merge / explode / delete / roll-up in plain SQL.

Fixture structure (all arithmetic on ``doc_id``, mirrored in SQL):
- existing silver state: doc_id % 3 != 0, content generation v0;
- incoming batch: doc_id % 5 != 4, generations v1 AND v2 (latest-wins
  must pick v2 — scraped_at windows are disjoint by construction);
- re-sends: doc_id % 11 == 0 carries v0 CONTENT at a new scraped_at —
  identical fingerprint, so change detection must skip it;
- inserts: doc_id % 3 == 0 (absent from the existing state);
- untouched: doc_id % 3 != 0 AND doc_id % 5 == 4 (absent from the
  batch) — their resources AND assets must survive unchanged;
- asset churn: generation cv carries (doc_id + cv + 1) % 4 assets with
  stable names, so an update overlaps the old asset set (no-op rows),
  inserts the tail, and strands old assets for the delete stage.

Scale (100 TB): the silver states are tables in production — here the
two multiply-referenced frames (existing state, deduped batch) are
persisted so the fixture scan doesn't replay per consumer.  Stage
shapes are the pipeline's own: one latest-wins window keyed by
resource_uid, one MERGE classification window per Silver table
(``operators/incremental.py:classify_changes``, the pass
``ParquetMergeTable.merge`` commits from, with the documents MERGE's
current keys built by the same ``untouched_assets`` as
``run_silver``), explode is map-side, and every gold aggregate groups a
handful of source systems (tiny result, broadcastable joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.operators.incremental import (
    UPSERT_TYPES,
    classify_changes,
    latest_wins,
    next_snapshot,
)
from tlcn_oer_lakehouse_spark.pipelines.medallion import (
    explode_documents,
    normalize_bronze,
    untouched_assets,
)
from tlcn_oer_lakehouse_spark.queries.base import QuerySpec, load

_BRONZE_SCHEMA = (
    "id string, title string, course_title string, book_title string, "
    "url string, link string, instructors array<string>, "
    "authors array<string>, creators array<string>, description string, "
    "language string, license string, year int, publication_date string, "
    "scraped_at string, source string, pdf_paths array<string>"
)


def _bronze_fixture(docs: DataFrame) -> DataFrame:
    """(v, payload) — three scrape generations per document as JSON
    strings; null struct fields are dropped by to_json, so records are
    genuinely heterogeneous (the S1 tolerant-read surface)."""
    d = F.col("doc_id")
    v = F.col("v")
    frame = docs.select(
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("v"), "*"
    )
    in_set = F.when(v == 0, d % 3 != 0).otherwise(d % 5 != 4)
    # content generation: re-sends (d%11==0) replay v0 content verbatim
    cv = F.when((v > 0) & (d % 11 == 0), F.lit(0)).otherwise(v)
    n_assets = ((d + cv + 1) % 4).cast("int")
    title = F.concat(
        F.lit("Resource "), d.cast("string"), F.lit(" v"), cv.cast("string"),
        F.lit(": "), F.substring(F.col("text"), 1, 24),
    )
    url = (
        F.when(d % 5 == 0, F.concat(F.lit("https://ocw.mit.edu/courses/"), d.cast("string")))
        .when(d % 5 == 1, F.concat(F.lit("https://openstax.org/books/"), d.cast("string")))
        .when(d % 5 == 2, F.concat(F.lit("https://open.umn.edu/opentextbooks/"), d.cast("string")))
        .otherwise(F.concat(F.lit("https://example.edu/resources/"), d.cast("string")))
    )
    paths = F.slice(
        F.array(*[
            F.concat(
                F.lit("files/"), d.cast("string"), F.lit(f"_{i}"),
                F.lit(".epub" if i == 2 else ".pdf"),
            )
            for i in range(3)
        ]),
        F.lit(1),
        n_assets,
    )
    base_date = (
        F.when(v == 0, F.lit("2023-06-01"))
        .when(v == 1, F.lit("2024-01-01"))
        .otherwise(F.lit("2024-06-01"))
    ).cast("date")
    scraped = F.concat(
        F.date_add(base_date, (d % 90).cast("int")).cast("string"),
        F.lit(" 00:00:00"),
    )
    creators = F.array(
        F.concat(F.lit("Author "), (d % 50).cast("string")),
        F.concat(F.lit("Author "), (d % 7).cast("string")),
    )
    lang = (
        F.when(d % 6 == 0, "en").when(d % 6 == 1, " ENG ")
        .when(d % 6 == 2, "English").when(d % 6 == 3, "vi")
        .when(d % 6 == 4, "Vie")
    )
    title_p = d % 17 != 0
    creators_p = d % 13 != 0
    rec = F.struct(
        F.when(d % 7 != 0, F.concat(F.lit("res-"), d.cast("string"))).alias("id"),
        F.when(title_p & (d % 3 == 0), title).alias("title"),
        F.when(title_p & (d % 3 == 1), title).alias("course_title"),
        F.when(title_p & (d % 3 == 2), title).alias("book_title"),
        F.when(d % 2 == 0, url).alias("url"),
        F.when(d % 2 == 1, url).alias("link"),
        F.when(creators_p & (d % 3 == 0), creators).alias("instructors"),
        F.when(creators_p & (d % 3 == 1), creators).alias("authors"),
        F.when(creators_p & (d % 3 == 2), creators).alias("creators"),
        F.when(F.col("n_chars") >= 200, F.col("text")).alias("description"),
        lang.alias("language"),
        F.when(d % 3 == 0, F.lit("CC BY 4.0")).alias("license"),
        F.when(d % 2 == 0, (F.lit(1990) + d % 30).cast("int")).alias("year"),
        F.when(
            d % 2 == 1,
            F.concat((F.lit(1995) + d % 25).cast("string"), F.lit("-06-01")),
        ).alias("publication_date"),
        scraped.alias("scraped_at"),
        F.when(d % 10 == 3, F.lit("MIT OCW")).alias("source"),
        F.when(n_assets > 0, paths).alias("pdf_paths"),
    )
    return frame.filter(in_set).select("v", F.to_json(rec).alias("payload"))


def medallion_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """Bronze JSON → U1 normalize → W1 latest-wins → J1/P3 change
    detection → K1 merge → O6 asset explode → J4/K2 stale-asset delete
    → gold coverage fact, as one plan over the production stages.

    NOTE: persists the prior silver state and the deduped batch (tables
    in production) and the two classified MERGE frames.  Their
    plans are fixed by ``(spark, sf)``, so a rebuild reuses the cached
    entries.  Sweeping callers clear the cache after the consuming
    action (perfbench analytics, oracle_harness and driver_sim, each per
    query); a one-shot caller can simply let session teardown drop
    them."""
    bron = _bronze_fixture(load(spark, sf, "documents"))
    parsed = bron.select(
        "v", F.from_json("payload", _BRONZE_SCHEMA).alias("r")
    ).select("v", "r.*")

    # silver: prior state (v0) and the incoming landing batch (v1 ∪ v2).
    # Both are multiply-referenced below (two classifications, two asset
    # explodes, the untouched-asset keys) — in production they are
    # TABLES, so persist stands in for the table materialization.
    existing = normalize_bronze(parsed.filter(F.col("v") == 0).drop("v")).persist()
    normalized = latest_wins(
        normalize_bronze(parsed.filter(F.col("v") > 0).drop("v")),
        "resource_uid",
        ["scraped_at"],
    ).persist()

    # the two MERGEs run_silver commits, classified as
    # ParquetMergeTable.merge classifies them; each classified frame is
    # read twice (the next snapshot and a change count), so it is
    # persisted like the silver frames
    res = classify_changes(existing, normalized, "resource_uid").persist()
    docs_old = explode_documents(existing)
    docs = classify_changes(
        docs_old, explode_documents(normalized), "asset_uid",
        current_keys=untouched_assets(docs_old, normalized),
    ).persist()
    merged, final_docs = next_snapshot(res), next_snapshot(docs)
    ct = F.col("_change_type")

    # gold: per-source coverage fact + the lifecycle observables, so the
    # driver hash pins every stage (upsert count, delete count included)
    res_g = merged.groupBy("source_system").agg(
        F.count(F.lit(1)).alias("total_resources"),
        F.sum(F.when(F.col("has_assets"), 1).otherwise(0)).alias(
            "resources_with_assets"
        ),
        F.sum(F.col("data_quality_score").cast("decimal(18,9)"))
        .cast("string")
        .cast("double")
        .alias("sum_quality"),
    )
    doc_g = final_docs.groupBy("source_system").agg(
        F.count(F.lit(1)).alias("total_documents")
    )
    up_g = res.filter(ct.isin(*UPSERT_TYPES)).groupBy("source_system").agg(
        F.count(F.lit(1)).alias("resources_upserted")
    )
    del_g = docs.filter(ct == "delete").groupBy("source_system").agg(
        F.count(F.lit(1)).alias("documents_deleted")
    )
    # the roll-up sides are one row per source system (a handful), but
    # their size ESTIMATES are corpus-scale (aggregates of exploded
    # frames), so the planner picked SortMergeJoin — 2 Exchange + Sort
    # pairs for ≤5-row inputs (r11 plan).  Broadcast them explicitly
    # (guide §3.1: estimates are often badly wrong after aggregation).
    return (
        res_g.join(F.broadcast(doc_g), "source_system", "left")
        .join(F.broadcast(up_g), "source_system", "left")
        .join(F.broadcast(del_g), "source_system", "left")
        .select(
            "source_system",
            "total_resources",
            "resources_with_assets",
            F.round(
                F.col("resources_with_assets") * 100.0 / F.col("total_resources"), 9
            ).alias("coverage_pct"),
            F.coalesce(F.col("total_documents"), F.lit(0)).alias("total_documents"),
            F.coalesce(F.col("resources_upserted"), F.lit(0)).alias(
                "resources_upserted"
            ),
            F.coalesce(F.col("documents_deleted"), F.lit(0)).alias(
                "documents_deleted"
            ),
            F.round(F.col("sum_quality") / F.col("total_resources"), 9).alias(
                "avg_quality"
            ),
        )
        .orderBy("source_system")
    )


# The oracle computes the SAME records directly (the JSON hop is value
# identity) and replays every lifecycle stage in SQL.  Multi-referenced
# CTEs are MATERIALIZED — DuckDB re-inlines them otherwise (the r6
# sf1.0 disk-bomb finding).  The fixture + lifecycle CTEs are shared
# with the incremental-maintenance oracle below, whose correctness
# property is precisely "fold(delta) ≡ this full recompute".
_ORACLE_LIFECYCLE_CTES = """
WITH recs AS MATERIALIZED (
  SELECT v, doc_id, text, n_chars,
         CASE WHEN v > 0 AND doc_id % 11 = 0 THEN 0 ELSE v END AS cv
  FROM documents, (SELECT unnest([0, 1, 2]) AS v) vers
  WHERE CASE WHEN v = 0 THEN doc_id % 3 != 0 ELSE doc_id % 5 != 4 END
),
fields AS (
  SELECT v, doc_id,
         (doc_id + cv + 1) % 4 AS n_assets,
         CASE WHEN doc_id % 17 = 0 THEN 'Untitled'
              ELSE 'Resource ' || CAST(doc_id AS VARCHAR) || ' v' || CAST(cv AS VARCHAR)
                   || ': ' || substr(text, 1, 24) END AS title,
         CASE WHEN doc_id % 5 = 0 THEN 'https://ocw.mit.edu/courses/' || CAST(doc_id AS VARCHAR)
              WHEN doc_id % 5 = 1 THEN 'https://openstax.org/books/' || CAST(doc_id AS VARCHAR)
              WHEN doc_id % 5 = 2 THEN 'https://open.umn.edu/opentextbooks/' || CAST(doc_id AS VARCHAR)
              ELSE 'https://example.edu/resources/' || CAST(doc_id AS VARCHAR) END AS url,
         CASE WHEN n_chars >= 200 THEN text END AS description,
         doc_id % 13 != 0 AS has_creators,
         doc_id % 3 = 0 AS has_license,
         CAST(CASE v WHEN 0 THEN DATE '2023-06-01'
                     WHEN 1 THEN DATE '2024-01-01'
                     ELSE DATE '2024-06-01' END
              + CAST(doc_id % 90 AS INTEGER) AS TIMESTAMP) AS scraped_at,
         CASE WHEN (doc_id + cv + 1) % 4 = 0 THEN []::VARCHAR[]
              ELSE list_transform(
                     generate_series(0, CAST((doc_id + cv + 1) % 4 AS INTEGER) - 1),
                     i -> 'files/' || CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR)
                          || CASE WHEN i = 2 THEN '.epub' ELSE '.pdf' END)
         END AS pdf_paths
  FROM recs
),
norm AS MATERIALIZED (
  SELECT v, doc_id,
         sha256(CASE WHEN doc_id % 7 != 0 THEN 'res-' || CAST(doc_id AS VARCHAR)
                     ELSE md5(url) END) AS resource_uid,
         CASE WHEN doc_id % 10 = 3 THEN 'mit_ocw'
              WHEN doc_id % 5 = 0 THEN 'mit_ocw'
              WHEN doc_id % 5 = 1 THEN 'openstax'
              WHEN doc_id % 5 = 2 THEN 'otl'
              ELSE 'unknown' END AS source_system,
         scraped_at, pdf_paths,
         len(pdf_paths) > 0 AS has_assets,
         md5(concat_ws('|', title, coalesce(description, ''), url,
                       CAST(to_json(pdf_paths) AS VARCHAR))) AS fp,
         round(CASE WHEN title != 'Untitled' THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN coalesce(length(description), 0) >= 80 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN has_creators THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN has_license THEN CAST(0.1 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN len(pdf_paths) > 0 THEN CAST(0.1 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END,
             9) AS quality
  FROM fields
),
existing AS MATERIALIZED (SELECT * FROM norm WHERE v = 0),
incoming AS MATERIALIZED (
  SELECT * EXCLUDE (rn) FROM (
    SELECT *, row_number() OVER (
      PARTITION BY resource_uid ORDER BY scraped_at DESC) AS rn
    FROM norm WHERE v > 0)
  WHERE rn = 1
),
changed AS MATERIALIZED (
  SELECT i.* FROM incoming i LEFT JOIN existing e USING (resource_uid)
  WHERE e.resource_uid IS NULL OR e.fp != i.fp
),
merged AS (
  SELECT e.* FROM existing e ANTI JOIN changed c USING (resource_uid)
  UNION ALL
  SELECT * FROM changed
),
docs_old AS MATERIALIZED (
  SELECT resource_uid, source_system,
         sha256(resource_uid || '||' || pdf_paths[i]) AS asset_uid
  FROM (SELECT *, unnest(generate_series(1, len(pdf_paths))) AS i FROM existing)
),
docs_new AS MATERIALIZED (
  SELECT resource_uid, source_system,
         sha256(resource_uid || '||' || pdf_paths[i]) AS asset_uid
  FROM (SELECT *, unnest(generate_series(1, len(pdf_paths))) AS i FROM incoming)
),
deleted AS MATERIALIZED (
  SELECT d.* FROM docs_old d
  WHERE d.resource_uid IN (SELECT resource_uid FROM incoming)
    AND d.asset_uid NOT IN (SELECT asset_uid FROM docs_new)
),
final_docs AS (
  SELECT * FROM docs_old
  WHERE resource_uid NOT IN (SELECT resource_uid FROM incoming)
  UNION ALL
  SELECT * FROM docs_new
)"""


MEDALLION_E2E_SQL = _ORACLE_LIFECYCLE_CTES + """,
res_g AS (
  SELECT source_system,
         COUNT(*) AS total_resources,
         CAST(SUM(CASE WHEN has_assets THEN 1 ELSE 0 END) AS BIGINT) AS resources_with_assets,
         CAST(CAST(SUM(CAST(CAST(quality AS VARCHAR) AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE) AS sum_quality
  FROM merged GROUP BY source_system
),
doc_g AS (SELECT source_system, COUNT(*) AS total_documents FROM final_docs GROUP BY source_system),
up_g AS (SELECT source_system, COUNT(*) AS resources_upserted FROM changed GROUP BY source_system),
del_g AS (SELECT source_system, COUNT(*) AS documents_deleted FROM deleted GROUP BY source_system)
SELECT r.source_system, r.total_resources, r.resources_with_assets,
       round(r.resources_with_assets * CAST(100.0 AS DOUBLE) / r.total_resources, 9) AS coverage_pct,
       COALESCE(d.total_documents, 0) AS total_documents,
       COALESCE(u.resources_upserted, 0) AS resources_upserted,
       COALESCE(x.documents_deleted, 0) AS documents_deleted,
       round(r.sum_quality / r.total_resources, 9) AS avg_quality
FROM res_g r
LEFT JOIN doc_g d USING (source_system)
LEFT JOIN up_g u USING (source_system)
LEFT JOIN del_g x USING (source_system)
ORDER BY r.source_system
"""


def medallion_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """O(delta) gold maintenance — the 100 TB daily-pipeline story for
    the coverage fact.  ``medallion_e2e`` (and the reference's
    ``gold_analytics.py:776-805``) full-recomputes gold from silver on
    every run; here the stored ``fact_source_coverage`` is instead
    UPDATED by folding one silver commit's change feed — the exact rows
    ``ParquetMergeTable`` logs at write time and replays via
    ``ParquetMergeTable.read_changes``: the ``_change_type`` rows of the
    resources and documents MERGEs, classified by ``classify_changes``
    as ``merge`` classifies them, each folded with sign +1 (``insert``,
    ``update_postimage``) or −1 (``update_preimage``, ``delete``).

    The fold therefore touches O(changed rows), never the full silver
    table (classifying them reads the state, as the MERGE that logs them
    does at write time); the old fact is two aggregates over the prior
    state, standing in for the stored gold table scan (tiny: one row
    per source system).  All measures fold exactly — counts in bigint,
    quality sums in DECIMAL(18,9) (order-independent addition) with the
    string-hop double cast shared with ``medallion_e2e``.

    The oracle recomputes the fact FROM THE FULLY MERGED STATE (shared
    ``_ORACLE_LIFECYCLE_CTES``), so a driver hash green is the IVM
    correctness property itself: fold(old_fact, delta) ≡
    full_recompute(merge(old_state, batch)).  The real-table twin with
    a files-scanned pin lives in test_cdf.py (the maintenance plan must
    read only the commit's changes directory, not the snapshot).

    Persists the same two silver frames as ``medallion_e2e`` — see its
    NOTE on cache hygiene."""
    bron = _bronze_fixture(load(spark, sf, "documents"))
    parsed = bron.select(
        "v", F.from_json("payload", _BRONZE_SCHEMA).alias("r")
    ).select("v", "r.*")
    existing = normalize_bronze(parsed.filter(F.col("v") == 0).drop("v")).persist()
    normalized = latest_wins(
        normalize_bronze(parsed.filter(F.col("v") > 0).drop("v")),
        "resource_uid",
        ["scraped_at"],
    ).persist()

    dec = "decimal(18,9)"
    # --- the stored fact (prior gold state; one row per source system)
    docs_old = explode_documents(existing)
    old_res = existing.groupBy("source_system").agg(
        F.count(F.lit(1)).alias("total_resources"),
        F.sum(F.when(F.col("has_assets"), 1).otherwise(0)).alias(
            "resources_with_assets"
        ),
        F.sum(F.col("data_quality_score").cast(dec)).alias("sum_quality"),
    )
    old_docs = docs_old.groupBy("source_system").agg(
        F.count(F.lit(1)).alias("total_documents")
    )
    old_fact = old_res.join(old_docs, "source_system", "full_outer")

    # --- one commit's change feed (what ParquetMergeTable.merge logs)
    def feed(classified: DataFrame) -> DataFrame:
        ct = F.col("_change_type")
        return classified.filter(ct.isNotNull()).withColumn(
            "sign", F.when(ct.isin(*UPSERT_TYPES), 1).otherwise(-1)
        )

    sign = F.col("sign")
    d_res = feed(
        classify_changes(existing, normalized, "resource_uid")
    ).groupBy("source_system").agg(
        F.sum(sign).alias("d_resources"),
        F.sum(F.when(F.col("has_assets"), sign).otherwise(0)).alias(
            "d_with_assets"
        ),
        F.sum(F.col("data_quality_score").cast(dec) * sign).alias("d_quality"),
    )
    d_docs = feed(classify_changes(
        docs_old, explode_documents(normalized), "asset_uid",
        current_keys=untouched_assets(docs_old, normalized),
    )).groupBy("source_system").agg(F.sum(sign).alias("d_documents"))

    # --- fold: new_fact = old_fact ⊕ delta (O(#source systems) rows)
    zero = F.lit(0)
    zdec = F.lit(0).cast(dec)
    total = (
        F.coalesce(F.col("total_resources"), zero)
        + F.coalesce(F.col("d_resources"), zero)
    )
    with_assets = (
        F.coalesce(F.col("resources_with_assets"), zero)
        + F.coalesce(F.col("d_with_assets"), zero)
    )
    sum_q = F.coalesce(F.col("sum_quality"), zdec) + F.coalesce(
        F.col("d_quality"), zdec
    )
    n_docs = (
        F.coalesce(F.col("total_documents"), zero)
        + F.coalesce(F.col("d_documents"), zero)
    )
    return (
        old_fact.join(d_res, "source_system", "full_outer")
        .join(d_docs, "source_system", "full_outer")
        .select(
            "source_system",
            total.alias("total_resources"),
            with_assets.alias("resources_with_assets"),
            F.round(with_assets * 100.0 / total, 9).alias("coverage_pct"),
            n_docs.alias("total_documents"),
            F.round(
                sum_q.cast("string").cast("double") / total, 9
            ).alias("avg_quality"),
        )
        .orderBy("source_system")
    )


# Full recompute over the merged state — deliberately NOT an incremental
# fold: the hash green proves the Spark-side O(delta) maintenance lands
# on exactly the state a from-scratch rebuild would produce.
MEDALLION_INCREMENTAL_SQL = _ORACLE_LIFECYCLE_CTES + """,
res_g AS (
  SELECT source_system,
         COUNT(*) AS total_resources,
         CAST(SUM(CASE WHEN has_assets THEN 1 ELSE 0 END) AS BIGINT) AS resources_with_assets,
         SUM(CAST(CAST(quality AS VARCHAR) AS DECIMAL(18,9))) AS sum_quality_dec
  FROM merged GROUP BY source_system
),
doc_g AS (SELECT source_system, COUNT(*) AS total_documents FROM final_docs GROUP BY source_system)
SELECT r.source_system, r.total_resources, r.resources_with_assets,
       round(r.resources_with_assets * CAST(100.0 AS DOUBLE) / r.total_resources, 9) AS coverage_pct,
       COALESCE(d.total_documents, 0) AS total_documents,
       round(CAST(CAST(r.sum_quality_dec AS VARCHAR) AS DOUBLE) / r.total_resources, 9) AS avg_quality
FROM res_g r
LEFT JOIN doc_g d USING (source_system)
ORDER BY r.source_system
"""


SPECS = [
    QuerySpec(
        "medallion_e2e", medallion_e2e, MEDALLION_E2E_SQL,
        ref="transformer.py:2494-2640 (silver lifecycle: normalize → "
            "latest-wins → change-detect → MERGE → asset explode/delete) + "
            "gold_analytics.py:123-186 (coverage fact), composed as ONE plan "
            "over pipelines/medallion.py + operators/incremental.py stages",
        doc="the medallion bronze→silver→gold lifecycle end-to-end",
        tags=("lakehouse", "pipeline", "bench"),
    ),
    QuerySpec(
        "medallion_incremental", medallion_incremental,
        MEDALLION_INCREMENTAL_SQL,
        ref="gold_analytics.py:776-805 full-refreshes gold each run; this "
            "is the O(delta) replacement — fold one silver commit's change "
            "feed (the ParquetMergeTable.read_changes shape) into the stored "
            "fact; oracle = full recompute over the merged state (IVM "
            "correctness property)",
        doc="gold coverage fact maintained by folding a silver CDF batch",
        tags=("lakehouse", "pipeline"),
    ),
]
