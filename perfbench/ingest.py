"""``ingest``: the data-freshness path as a closed loop with one writer.

Set-up lands the whole key space once and runs it through the pipeline,
so every timed batch merges into a table of steady size.  A timed batch
is: landed bronze JSON -> ``pipelines.medallion.run_silver_from_landing``
-> ``run_gold`` with a collect of the coverage fact.  After each batch a
few point lookups read ``oer_resources_curated`` through
``ParquetMergeTable.scan``.  The generator's own model of the Silver
state is the reference for the merge counts, the Gold fact and every
lookup; at the end the Silver tables are also compared with a one-shot
run over the union of all landed batches in a fresh warehouse.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import numpy as np

import datagen
from common import Ctx, Op, Result, median_latency

# Assumed sizes ("a few thousand" records over ~10x as many keys), not
# taken from recorded scrape batches.
KEY_SPACE = 20_000
BATCH_SIZE = 2_000
MIN_BATCHES = 2
LOOKUPS_PER_BATCH = 4
TABLE_NAMES = {"oer_resources_curated": "resources", "oer_documents": "documents",
               "bronze_quarantine": "quarantine"}


def _bronze_schema():
    from pyspark.sql.types import (ArrayType, LongType, StringType,
                                   StructField, StructType)

    s, arr = StringType(), ArrayType(StringType())
    return StructType([
        StructField("id", s), StructField("title", s),
        StructField("description", s), StructField("url", s),
        StructField("authors", arr), StructField("language", s),
        StructField("license", s), StructField("year", LongType()),
        StructField("scraped_at", s), StructField("pdf_paths", arr),
        StructField("source", s),
    ])


def _tree(path: str) -> tuple[int, int, int]:
    """(bytes, files, snapshot dirs) under ``path``."""
    size = files = snaps = 0
    for root, dirs, names in os.walk(path):
        snaps += sum(1 for d in dirs if "__v" in d)
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files, snaps


class Ingest:
    name = "ingest"

    def __init__(self, ctx: Ctx) -> None:
        from tlcn_oer_lakehouse_spark.pipelines import medallion
        from tlcn_oer_lakehouse_spark.sinks import merge
        from tlcn_oer_lakehouse_spark.sources import bronze_json

        self.ctx = ctx
        self.medallion = medallion
        self.model = datagen.IngestModel(ctx.seed, KEY_SPACE, BATCH_SIZE)
        self.landing = os.path.join(ctx.run_dir, "landing")
        self.wh = os.path.join(ctx.run_dir, "warehouse")
        os.makedirs(self.landing)
        self.schema = _bronze_schema()
        self.lookup_rng = np.random.default_rng([ctx.seed, 3])
        self.scan_files = [0, 0]  # files kept by pruning, files in snapshot

        tr = ctx.tracer
        tr.wrap(bronze_json, "read_bronze_json", "sources.read_split")
        orig_split = bronze_json.split_corrupt

        def split_corrupt(df):
            # Reading and splitting only build a plan; the JSON parse and
            # the cache fill would run in the first merge over the frame.
            # A count outside the batch's job group runs them here instead.
            with tr.span("sources.read_split"):
                good, quarantine = orig_split(df)
                with ctx.jobs.aside():
                    good.count()
            return good, quarantine

        tr.patch(bronze_json, "split_corrupt", split_corrupt)
        table = merge.ParquetMergeTable
        tr.wrap(table, "merge_upsert", lambda t, *_: (
            "sinks.merge_upsert." + TABLE_NAMES.get(os.path.basename(t.path), "other")))
        tr.wrap(table, "merge_delete", "sinks.merge_delete")
        tr.wrap(table, "scan", "sinks.scan")
        tr.wrap(medallion, "run_silver_from_landing", "pipelines.run_silver")
        orig_pruned = table.pruned_files

        def pruned_files(t, predicates):
            from tlcn_oer_lakehouse_spark.sinks.manifest import read_manifest

            with tr.span("sinks.pruned_files"):
                files = orig_pruned(t, predicates)
            manifest = read_manifest(os.path.realpath(t.path))
            if files is not None and manifest is not None:
                self.scan_files[0] += len(files)
                self.scan_files[1] += len(manifest["files"])
            return files

        tr.patch(table, "pruned_files", pruned_files)

    def _land(self, batch: datagen.Batch, key: str) -> str:
        path = os.path.join(self.landing, f"{key}.json")
        with open(path, "w") as f:
            f.write("\n".join(batch.lines) + "\n")
        batch.landed_bytes = os.path.getsize(path)
        return path

    def _silver_and_gold(self, path: str, wh: str):
        stats = self.medallion.run_silver_from_landing(
            self.ctx.spark, path, wh, schema=self.schema)
        with self.ctx.tracer.span("pipelines.run_gold"):
            fact = self.medallion.run_gold(self.ctx.spark, wh)[
                "fact_source_coverage"].collect()
        return stats, fact

    def _batch_op(self, batch: datagen.Batch, key: str, record: bool) -> Op:
        path = self._land(batch, key)
        op = Op(kind="batch", key=key)
        t0 = time.perf_counter()
        try:
            with self.ctx.jobs.group(key, record=record), \
                    self.ctx.tracer.span("batch", op=key):
                op.output = self._silver_and_gold(path, self.wh)
        except Exception as exc:  # noqa: BLE001 — a failed op, not a failed run
            op.error = f"{type(exc).__name__}: {exc}"[:300]
        op.latency_s = time.perf_counter() - t0
        op.end = time.perf_counter()
        if op.error is None:
            op.mismatch = self._check_batch(batch, *op.output)
        return op

    def _check_batch(self, batch: datagen.Batch, stats: dict, fact) -> str | None:
        if stats != batch.expected:
            return f"merge counts {stats} != expected {batch.expected}"
        want = self.model.gold_fact()
        got = {r["source_system"]: r for r in fact}
        if set(got) != set(want):
            return f"gold sources {sorted(got)} != {sorted(want)}"
        for src, (n, with_assets, docs, quality) in want.items():
            r = got[src]
            if (r["total_resources"], r["resources_with_assets"],
                    r["total_documents"]) != (n, with_assets, docs) or \
                    abs(r["avg_quality"] - quality) > 1e-8:
                return f"gold row {src} = {r} != {(n, with_assets, docs, quality)}"
        return None

    def _lookups(self, batch: datagen.Batch, i: int) -> list[Op]:
        resources = self.medallion.SilverWarehouse(self.ctx.spark, self.wh).resources
        live = sorted(self.model.state)
        keys = list(self.lookup_rng.choice(batch.touched, LOOKUPS_PER_BATCH // 2,
                                           replace=False))
        keys += [live[j] for j in self.lookup_rng.choice(
            len(live), LOOKUPS_PER_BATCH - len(keys), replace=False)]
        ops = []
        for j, rid in enumerate(keys):
            op = Op(kind="lookup", key=rid)
            uid = datagen.resource_uid(rid)
            t0 = time.perf_counter()
            try:
                with self.ctx.jobs.group(f"lookup-{i}-{j}", record=False), \
                        self.ctx.tracer.span("lookup", op=f"lookup-{i}-{j}"):
                    rows = resources.scan([("resource_uid", "=", uid)]).collect()
            except Exception as exc:  # noqa: BLE001
                op.error = f"{type(exc).__name__}: {exc}"[:300]
            op.latency_s = time.perf_counter() - t0
            op.end = time.perf_counter()
            if op.error is None:
                want = self.model.state[rid]
                if len(rows) != 1 or rows[0]["record_fingerprint"] != want.fingerprint():
                    op.mismatch = f"lookup {rid}: {len(rows)} rows, fingerprint differs"
            ops.append(op)
        return ops

    def setup(self) -> None:
        """Load the whole key space, so every timed batch merges into a
        table of steady size."""
        self.setup_ops = [self._batch_op(self.model.initial_load(), "load", record=False)]

    def run(self, seconds: float) -> Result:
        ops: list[Op] = list(self.setup_ops)  # checked, but not timed
        batch_ops: list[Op] = []
        written: list[tuple[int, int]] = []
        landed = 0
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() - t0 < seconds or len(batch_ops) < MIN_BATCHES:
            i += 1
            batch = self.model.next_batch()
            size0, files0, _ = _tree(self.wh)
            op = self._batch_op(batch, f"batch-{i}", record=True)
            size1, files1, _ = _tree(self.wh)
            written.append((size1 - size0, files1 - files0))
            landed += batch.landed_bytes
            batch_ops.append(op)
            ops.append(op)
            ops.extend(self._lookups(batch, i))
        wall = time.perf_counter() - t0
        records = len(batch_ops) * (BATCH_SIZE + datagen.CORRUPT_PER_BATCH)
        final = self._check_final()
        if final is not None:
            batch_ops[-1].mismatch = final

        p50 = median_latency(batch_ops)
        lookups = [o.latency_s for o in ops if o.kind == "lookup" and o.ok]
        _, _, snaps = _tree(self.wh)
        upserted = sum(o.output[0]["resources_upserted"] for o in batch_ops if o.ok)
        res = Result(ops=ops, op_p50_s=p50, work_per_s=records / wall)
        res.named = {
            "ingest_batch_p50_s": (p50, "s"),
            "ingest_records_per_s": (records / wall, "1/s"),
            "ingest_bytes_per_landed_byte":
                (sum(w for w, _ in written) / landed, "B/B"),
            "lookup_p50_s": (statistics.median(lookups) if lookups else None, "s"),
        }
        res.info = {"clients": 1, "loop": "closed", "batches": len(batch_ops),
                    "lookups": len(lookups), "batch_size": BATCH_SIZE,
                    "key_space": KEY_SPACE,
                    "record_kinds": _kind_shares(self.model.history)}
        tr = self.ctx.tracer
        res.layers = {
            "sources.read_split_s": tr.median_self("sources.read_split"),
            "sinks.merge_upsert_s.resources": tr.median_self("sinks.merge_upsert.resources"),
            "sinks.merge_upsert_s.documents": tr.median_self("sinks.merge_upsert.documents"),
            "sinks.merge_upsert_s.quarantine": tr.median_self("sinks.merge_upsert.quarantine"),
            "sinks.merge_delete_s": tr.median_self("sinks.merge_delete"),
            "pipelines.run_silver_self_s": tr.median_self("pipelines.run_silver"),
            "pipelines.run_gold_s": tr.median_self("pipelines.run_gold"),
            "operators.incremental.changed_ratio":
                upserted / (len(batch_ops) * BATCH_SIZE),
            "sinks.bytes_written_per_batch": statistics.median(w for w, _ in written),
            "sinks.files_written_per_batch": statistics.median(f for _, f in written),
            "sinks.snapshots_retained": snaps,
            "sinks.scan_files_kept_ratio":
                self.scan_files[0] / self.scan_files[1] if self.scan_files[1] else 0.0,
            "sinks.scan_s": tr.median_self("sinks.scan"),
        }
        return res

    def _silver_state(self, wh: str) -> tuple[dict, set]:
        w = self.medallion.SilverWarehouse(self.ctx.spark, wh)
        res = {r[0]: r[1] for r in w.resources.read()
               .select("resource_uid", "record_fingerprint").collect()}
        docs = {r[0] for r in w.documents.read().select("asset_uid").collect()}
        return res, docs

    def _check_final(self) -> str | None:
        """Silver keys and fingerprints against the model; a traced run
        also compares them with a one-shot run over every landed batch in
        a fresh warehouse (about one batch's time, so untraced runs skip
        it to keep within their time budget)."""
        res, docs = self._silver_state(self.wh)
        want_res = {datagen.resource_uid(r.rid): r.fingerprint()
                    for r in self.model.state.values()}
        want_docs = set()
        for r in self.model.state.values():
            uid = datagen.resource_uid(r.rid)
            want_docs.update(hashlib.sha256(f"{uid}||{p}".encode()).hexdigest()
                             for p in r.paths)
        if res != want_res or docs != want_docs:
            return "final Silver state differs from the generator's model"
        if self.ctx.tracer.enabled:
            fresh = os.path.join(self.ctx.run_dir, "oneshot")
            self.medallion.run_silver_from_landing(
                self.ctx.spark, self.landing, fresh, schema=self.schema)
            if self._silver_state(fresh) != (res, docs):
                return "final Silver state differs from a one-shot run over all batches"
        return None


def _kind_shares(history: list[dict]) -> dict[str, float]:
    total: dict[str, int] = {}
    for kinds in history:
        for k, v in kinds.items():
            total[k] = total.get(k, 0) + v
    n = sum(total.values())
    return {k: round(v / n, 4) for k, v in sorted(total.items())}
