"""A landed batch's Silver tables commit concurrently
(``pipelines/medallion.py:_commit_concurrently``): a failed commit is
raised only after the others have published, pool-thread commits run
their jobs in the caller's job group, and nothing is left behind —
no helper thread, no persisted RDD, no warning."""

from __future__ import annotations

import json
import os
import threading
import time
import warnings

import pytest

from tlcn_oer_lakehouse_spark.pipelines.medallion import run_silver_from_landing
from tlcn_oer_lakehouse_spark.sinks.merge import ParquetMergeTable


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _land(tmp_path, i: int) -> str:
    landing = tmp_path / f"landing{i}.json"
    record = {"id": f"osx-{i}", "title": f"Book {i}",
              "url": f"https://openstax.org/books/{i}",
              "scraped_at": "2024-01-02T00:00:00",
              "pdf_paths": [f"bronze/osx/{i}.pdf"]}
    landing.write_text(json.dumps(record) + f"\n{{broken json {i}\n")
    return str(landing)


def _failing(monkeypatch, failures: dict[str, Exception], slow: str = "") -> None:
    """Make ``merge`` raise ``failures[table]`` at once for the tables
    named there, and make the ``slow`` table's commit start a second
    late, so a helper that raised before every commit finished would
    leave that table unpublished."""
    orig = ParquetMergeTable.merge

    def merge(self, *args, **kwargs):
        name = os.path.basename(self.path)
        if name in failures:
            raise failures[name]
        if name == slow:
            time.sleep(1.0)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(ParquetMergeTable, "merge", merge)


def test_failed_commit_is_raised_after_the_others_publish(spark, tmp_path, monkeypatch):
    wh = str(tmp_path / "wh")
    run_silver_from_landing(spark, _land(tmp_path, 0), wh)
    heads = {name: os.path.realpath(f"{wh}/{name}")
             for name in ("oer_resources_curated", "bronze_quarantine")}
    boom = RuntimeError("documents commit failed")
    _failing(monkeypatch, {"oer_documents": boom}, slow="bronze_quarantine")
    threads, persisted = set(threading.enumerate()), _persisted_ids(spark)
    with pytest.raises(RuntimeError) as raised:
        run_silver_from_landing(spark, _land(tmp_path, 1), wh)
    assert raised.value is boom
    # both other tables committed batch 1 before the failure surfaced
    for name, head in heads.items():
        assert os.path.realpath(f"{wh}/{name}") != head, name
    assert set(threading.enumerate()) <= threads
    assert not _persisted_ids(spark) - persisted


def test_first_failure_in_commit_order_is_raised(spark, tmp_path, monkeypatch):
    """Commit order is resources, documents, quarantine: with documents
    and quarantine both failing, the documents error is raised and notes
    the quarantine one."""
    wh = str(tmp_path / "wh")
    docs_err, quarantine_err = RuntimeError("documents"), RuntimeError("quarantine")
    _failing(monkeypatch, {"oer_documents": docs_err, "bronze_quarantine": quarantine_err})
    persisted = _persisted_ids(spark)
    with pytest.raises(RuntimeError) as raised:
        run_silver_from_landing(spark, _land(tmp_path, 0), wh)
    assert raised.value is docs_err
    assert raised.value.__notes__ == [
        f"a concurrent commit also failed: {quarantine_err!r}"]
    assert ParquetMergeTable(spark, f"{wh}/oer_resources_curated", key="resource_uid").exists()
    assert not _persisted_ids(spark) - persisted


def test_pool_commits_run_in_the_callers_job_group(spark, tmp_path, monkeypatch):
    """Every job of the batch, pool-thread commits included, is in the
    job group the caller set, and wrapping the pool targets warns
    nothing (no "Tags will not be inherited")."""
    sc = spark.sparkContext
    wh = str(tmp_path / "wh")
    run_silver_from_landing(spark, _land(tmp_path, 0), wh)  # heads exist
    seen: list[tuple[bool, str | None]] = []
    orig = ParquetMergeTable.merge

    def merge(self, *args, **kwargs):
        seen.append((threading.current_thread() is threading.main_thread(),
                     sc.getLocalProperty("spark.jobGroup.id")))
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(ParquetMergeTable, "merge", merge)
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("silver-batch", "one landed batch")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            stats = run_silver_from_landing(spark, _land(tmp_path, 1), wh)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats["resources_upserted"] == 1 and stats["rows_quarantined"] == 1
    assert not [w for w in caught if issubclass(w.category, UserWarning)]
    assert sorted(seen) == [(False, "silver-batch"), (False, "silver-batch"),
                            (True, "silver-batch")]
    grouped = tracker.getJobIdsForGroup("silver-batch")
    assert len(grouped) >= 3  # at least one write per commit
    # no new job outside the group (the tracker may drop old ones)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def _filled(spark, df) -> bool:
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    return bool(cached.isDefined()
                and cached.get().cachedRepresentation().cacheBuilder()
                .isCachedColumnBuffersLoaded())


def test_shared_frames_are_filled_before_the_commits_start(spark, tmp_path, monkeypatch):
    """Every cached frame a commit scans is filled when it starts (the
    parse before any commit, the normalized batch before the two Silver
    commits), so concurrent commits never race to start its fill job
    (each commit that scanned an unfilled cache would start its own)."""
    from tlcn_oer_lakehouse_spark.pipelines import medallion
    from tlcn_oer_lakehouse_spark.sources import bronze_json

    wh = str(tmp_path / "wh")
    run_silver_from_landing(spark, _land(tmp_path, 0), wh)  # heads exist
    frames: dict[str, object] = {}
    split, latest, merge = (bronze_json.split_corrupt, medallion.latest_wins,
                            ParquetMergeTable.merge)

    def split_corrupt(parsed):
        frames["parsed"] = parsed
        return split(parsed)

    def latest_wins(*args, **kwargs):
        frames["normalized"] = latest(*args, **kwargs)  # persist() returns it
        return frames["normalized"]

    scans = {"bronze_quarantine": ("parsed",),
             "oer_resources_curated": ("parsed", "normalized"),
             "oer_documents": ("parsed", "normalized")}
    seen: list[tuple[str, bool]] = []

    def checked_merge(self, *args, **kwargs):
        name = os.path.basename(self.path)
        seen.append((name, all(_filled(spark, frames[f]) for f in scans[name])))
        return merge(self, *args, **kwargs)

    monkeypatch.setattr(bronze_json, "split_corrupt", split_corrupt)
    monkeypatch.setattr(medallion, "latest_wins", latest_wins)
    monkeypatch.setattr(ParquetMergeTable, "merge", checked_merge)
    run_silver_from_landing(spark, _land(tmp_path, 1), wh)
    assert sorted(seen) == [("bronze_quarantine", True), ("oer_documents", True),
                            ("oer_resources_curated", True)]


def test_fill_starts_no_job_for_a_filled_cache(spark):
    from tlcn_oer_lakehouse_spark.pipelines.medallion import _fill

    sc = spark.sparkContext
    df = spark.range(1000).selectExpr("id % 7 AS k").distinct().persist()
    jobs = []
    try:
        for i in range(2):
            sc.setJobGroup(f"fill-{i}", "fill")
            _fill(spark, df)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"fill-{i}")))
        assert _filled(spark, df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        df.unpersist()
    assert jobs[0] > 0 and jobs[1] == 0
