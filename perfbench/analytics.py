"""``analytics``: one client running passes over a fixed set of
registry queries at sf0.1 -- star joins, dedup, contamination, chunking,
as-of/spatial joins, kNN and windows.  Every result is compared with
the query's DuckDB oracle after the timed loop.  The seed does not
change the query set or the tables.
"""

from __future__ import annotations

import os
import statistics
import time

import datagen
import reference
from common import Ctx, Op, Result

QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q8_market_share", "q10_returned_items",
    "q13_customer_distribution", "gold_fact_coverage", "dedup_minhash_lsh",
    "dedup_prefix_filter", "td_contamination_check", "td_contamination_scalable",
    "chunk_token_windows", "j_asof_event_order", "j_spatial_grid",
    "knn_bruteforce", "st_tumbling_window",
)


class Analytics:
    name = "analytics"

    def __init__(self, ctx: Ctx) -> None:
        from tlcn_oer_lakehouse_spark.queries import REGISTRY

        self.ctx = ctx
        self.specs = {n: REGISTRY[n] for n in QUERIES}
        self.sf = os.path.join(ctx.run_dir, "sf0.1")

    def setup(self) -> None:
        datagen.write_tables(self.sf)

    def _query(self, name: str, p: int) -> Op:
        spark = self.ctx.spark
        op = Op(kind="query", key=name)
        t0 = time.perf_counter()
        try:
            with self.ctx.tracer.span(f"queries.{name}", op=f"{name}-{p}"):
                df = self.specs[name].builder(spark, self.sf)
                op.output = (df.columns, df.collect())
        except Exception as exc:  # noqa: BLE001 — a failed op, not a failed run
            op.error = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            spark.catalog.clearCache()
        op.latency_s = time.perf_counter() - t0
        op.end = time.perf_counter()
        return op

    def run(self, seconds: float) -> Result:
        ops: list[Op] = []
        passes: list[float] = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < seconds:
            p0 = time.perf_counter()
            with self.ctx.jobs.group(f"pass-{len(passes)}"):
                ops.extend(self._query(n, len(passes)) for n in QUERIES)
            passes.append(time.perf_counter() - p0)
        wall = time.perf_counter() - t0
        self.verify(ops)
        p50 = statistics.median(passes)
        res = Result(ops=ops, op_p50_s=p50,
                     work_per_s=sum(o.ok for o in ops) / wall)
        res.named = {"analytics_pass_s": (p50, "s")}
        res.info = {"clients": 1, "loop": "closed", "passes": len(passes),
                    "queries_per_pass": len(QUERIES)}
        tr = self.ctx.tracer
        res.layers = {f"queries.{n}_s": tr.median_self(f"queries.{n}")
                      for n in QUERIES}
        return res

    def verify(self, ops: list[Op]) -> None:
        spill = os.path.join(self.ctx.run_dir, "duckdb")
        os.makedirs(spill, exist_ok=True)
        con = reference.duckdb_con(self.sf, spill)
        try:
            want = {n: reference.oracle_rows(con, s.oracle)
                    for n, s in self.specs.items() if s.oracle is not None}
        finally:
            con.close()
        for op in ops:
            if op.error is None and op.key in want:
                op.mismatch = reference.compare_oracle(want[op.key], *op.output)
