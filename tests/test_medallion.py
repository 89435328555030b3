"""Golden end-to-end medallion test — the fixture cases FIXTURES.md §1
requires: alias coalescing, language normalization, window dedup on
scraped_at, idempotent re-run, fingerprint-change update, deleted-asset
propagation, and gold coverage on top."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tlcn_oer_lakehouse_spark.pipelines.medallion import (
    normalize_bronze,
    run_gold,
    run_silver,
)

BRONZE = [
    # mit_ocw shape: instructors, explicit source, two pdfs
    {"id": "mit-1", "title": "Linear Algebra", "url": "https://ocw.mit.edu/18-06",
     "description": "D" * 100, "instructors": ["Strang"], "year": 2010,
     "source": "mit_ocw", "language": "en", "license": "CC BY-NC-SA",
     "scraped_at": "2024-01-02T00:00:00",
     "pdf_paths": ["bronze/mit/18-06/lec1.pdf", "bronze/mit/18-06/lec2.pdf"]},
    # duplicate of mit-1 with OLDER scraped_at — window dedup must drop it
    {"id": "mit-1", "title": "Linear Algebra OLD", "url": "https://ocw.mit.edu/18-06",
     "description": "old", "instructors": ["Strang"], "year": 2010,
     "source": "mit_ocw", "language": "en", "license": "CC BY-NC-SA",
     "scraped_at": "2024-01-01T00:00:00",
     "pdf_paths": ["bronze/mit/18-06/lec1.pdf"]},
    # openstax shape: authors + book_title alias, 'eng' language
    {"id": "osx-1", "book_title": "Calculus Volume 1",
     "url": "https://openstax.org/books/calculus-1", "description": "short",
     "authors": ["Herman", "Strang"], "publication_date": "2016-03-30",
     "language": "eng", "license": "CC BY 4.0",
     "scraped_at": "2024-01-02T00:00:00", "pdf_paths": ["bronze/osx/calc1.pdf"]},
    # otl shape: creators + link alias, no id (URL-hash fallback), no source
    # (URL inference), 'english' language, no pdfs
    {"resource_title": "Open Logic", "link": "https://open.umn.edu/opentextbooks/1",
     "creators": ["Logicians"], "language": "english",
     "scraped_at": "2024-01-02T00:00:00"},
]


def _bronze_df(spark, tmp_path, records, name):
    p = tmp_path / f"{name}.json"
    p.write_text(json.dumps(records))
    return spark.read.option("multiline", True).json(str(p))


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


def test_normalizer_aliases_and_derivations(spark, tmp_path):
    norm = normalize_bronze(_bronze_df(spark, tmp_path, BRONZE, "b")).collect()
    by_title = {r.title: r for r in norm}
    assert "Calculus Volume 1" in by_title          # book_title alias
    assert "Open Logic" in by_title                 # resource_title alias
    osx = by_title["Calculus Volume 1"]
    assert osx.language == "en"                     # 'eng' normalized
    assert osx.publication_year == 2016             # parsed from ISO date
    assert osx.creator_names == ["Herman", "Strang"]
    otl = by_title["Open Logic"]
    assert otl.source_system == "otl"               # inferred from URL
    assert otl.language == "en"                     # 'english' normalized
    assert otl.resource_id is not None              # md5(url) fallback
    assert otl.has_assets is False
    mit = by_title["Linear Algebra"]
    assert mit.data_quality_score == pytest.approx(1.0)  # all quality components
    assert otl.data_quality_score < 0.9


def test_silver_dedup_merge_and_idempotence(spark, tmp_path, warehouse):
    from tlcn_oer_lakehouse_spark.pipelines.medallion import SilverWarehouse

    bronze = _bronze_df(spark, tmp_path, BRONZE, "b1")
    stats = run_silver(spark, bronze, warehouse)
    assert stats["resources_upserted"] == 3          # window dedup folded mit-1
    assert stats["documents_upserted"] == 3          # 2 mit + 1 osx

    wh = SilverWarehouse(spark, warehouse)
    mit = wh.resources.read().filter(F.col("resource_id") == "mit-1").first()
    assert mit.title == "Linear Algebra"             # latest-wins kept the newer row

    # identical re-run: all no-ops
    stats2 = run_silver(spark, _bronze_df(spark, tmp_path, BRONZE, "b2"), warehouse)
    assert stats2 == {"resources_upserted": 0, "documents_upserted": 0,
                      "documents_deleted": 0}


def test_fingerprint_change_and_asset_delete(spark, tmp_path, warehouse):
    from tlcn_oer_lakehouse_spark.pipelines.medallion import SilverWarehouse

    run_silver(spark, _bronze_df(spark, tmp_path, BRONZE, "b1"), warehouse)

    # re-scrape: mit-1 description changed (same timestamps → fingerprint
    # branch) and one pdf disappeared (deleted-asset propagation)
    changed = [dict(BRONZE[0])]
    changed[0]["description"] = "E" * 100
    changed[0]["pdf_paths"] = ["bronze/mit/18-06/lec1.pdf"]
    stats = run_silver(spark, _bronze_df(spark, tmp_path, changed, "b3"), warehouse)
    assert stats["resources_upserted"] == 1
    assert stats["documents_deleted"] == 1

    wh = SilverWarehouse(spark, warehouse)
    mit = wh.resources.read().filter(F.col("resource_id") == "mit-1").first()
    assert mit.description == "E" * 100
    docs = wh.documents.read()
    mit_docs = docs.filter(docs.resource_uid == mit.resource_uid).collect()
    assert [d.asset_path for d in mit_docs] == ["bronze/mit/18-06/lec1.pdf"]
    # untouched resources keep their assets
    assert docs.count() == 2


def test_gold_coverage(spark, tmp_path, warehouse):
    run_silver(spark, _bronze_df(spark, tmp_path, BRONZE, "b1"), warehouse)
    gold = run_gold(spark, warehouse)
    fact = {r.source_system: r for r in gold["fact_source_coverage"].collect()}
    assert fact["mit_ocw"].coverage_pct == 100.0
    assert fact["otl"].coverage_pct == 0.0
    assert fact["mit_ocw"].total_documents == 2
    dims = gold["dim_sources"].collect()
    assert len({d.source_key for d in dims}) == len(dims) == 3


def test_landing_to_silver_with_quarantine(spark, tmp_path):
    """run_silver_from_landing: good rows reach silver, corrupt rows
    dead-letter idempotently, and one bad file never aborts the run."""
    from tlcn_oer_lakehouse_spark.pipelines.medallion import (
        run_silver_from_landing,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    good = [r for r in BRONZE if r.get("id") == "osx-1"]
    (landing / "openstax.jsonl").write_text(
        "\n".join(json.dumps(r) for r in good) + "\n{broken json here\n"
    )
    wh = str(tmp_path / "wh")

    stats = run_silver_from_landing(spark, str(landing), wh)
    assert stats["resources_upserted"] == 1
    assert stats["rows_quarantined"] == 1

    q = spark.read.parquet(f"{wh}/bronze_quarantine")
    assert q.count() == 1
    row = q.collect()[0]
    assert "broken json" in row.payload
    assert row.bronze_source_path.endswith("openstax.jsonl")

    # replay: same landing dir is a full no-op — silver AND quarantine
    stats2 = run_silver_from_landing(spark, str(landing), wh)
    assert stats2["resources_upserted"] == 0
    assert stats2["rows_quarantined"] == 0
    assert spark.read.parquet(f"{wh}/bronze_quarantine").count() == 1


_LANDING_SCHEMA = (
    "id string, title string, description string, url string, "
    "authors array<string>, language string, license string, year bigint, "
    "scraped_at string, pdf_paths array<string>, source string"
)


def _landed_resource(i: int, rev: int = 0, n_assets: int = 2) -> dict:
    return {"id": f"r{i:05d}", "title": f"course {i}",
            "description": f"notes on topic {i} rev{rev}",
            "url": f"https://ocw.mit.edu/c{i}", "authors": ["A. Author"],
            "language": "en", "license": "CC BY 4.0", "year": 2020,
            "scraped_at": f"2024-01-{1 + rev:02d}T00:00:00",
            "pdf_paths": [f"/landing/r{i}/a{j}.pdf" for j in range(n_assets)],
            "source": ("mit_ocw", "openstax", "otl")[i % 3]}


def test_steady_state_batch_reuses_generated_code(spark, tmp_path):
    """A landed batch shaped like the one before it runs the classes
    that batch generated, so it compiles almost nothing: usually 2
    classes, the landing parse's projection (it inlines the batch's
    ``current_timestamp()``), in some runs (about one in six) 6, for a
    cause not yet found.  Under Spark's default codegen cache of 100
    entries every batch compiles its ~115 classes again, so the bound
    of 10 still tells the two apart."""
    from tlcn_oer_lakehouse_spark.pipelines.medallion import (
        run_silver_from_landing,
    )
    from tlcn_oer_lakehouse_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    ), ("the JVM's first session was not built by get_spark: the codegen "
        "cache size is a static conf that only that session sets")
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    landing, wh = tmp_path / "landing", str(tmp_path / "wh")
    landing.mkdir()
    load = [_landed_resource(i) for i in range(300)]
    batches = [load]
    for b in (1, 2):
        olds = range(40 * b, 40 * b + 40)
        batches.append(
            [_landed_resource(300 + 10 * b + i) for i in range(10)]   # new
            + [_landed_resource(i, rev=b) for i in olds[:10]]         # changed
            + [_landed_resource(i) for i in olds[10:20]]              # resent
            + [_landed_resource(i, n_assets=1) for i in olds[20:]]    # drop asset
        )
    schema = StructType.fromDDL(_LANDING_SCHEMA)
    new_compiles, stats = [], []
    for b, records in enumerate(batches):
        path = landing / f"batch-{b}.jsonl"
        path.write_text("\n".join(
            [json.dumps(r) for r in records] + [f'{{"id": "broken-{b}", "title": ']
        ) + "\n")
        before = compiles.getCount()
        stats.append(run_silver_from_landing(spark, str(path), wh, schema=schema))
        run_gold(spark, wh)["fact_source_coverage"].collect()
        new_compiles.append(compiles.getCount() - before)
    assert stats[2] == {"resources_upserted": 40, "documents_upserted": 20,
                        "documents_deleted": 20, "rows_quarantined": 1}
    assert new_compiles[2] <= 10, new_compiles
