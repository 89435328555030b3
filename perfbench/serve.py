"""``serve``: the chatbot request flow as a closed loop of client threads.

A request is a raw query string -> ``queries.serve.preprocess_query``
-> ``queries.retrieval.fused_scores`` -> top-10 collect.  Each client
sends its next request only after the previous reply.  Every reply is
checked against an independent numpy BM25 + cosine fusion, computed
after the timed loop.
"""

from __future__ import annotations

import os
import threading
import time

import datagen
import reference
from common import Ctx, Op, Result, median_latency, percentile_tail

# One client: with two concurrent requests, queries.base.persist_replacing
# (one process-wide persisted frame per key) lets one request unpersist the
# frame another is still reading, and a third to two thirds of the replies
# come back empty.  Raise this once requests can run side by side.
CLIENTS = 1
WARMUP_PER_CLIENT = 4
MAX_QUERIES = 2_000
TOP_K = 10


class Serve:
    name = "serve"

    def __init__(self, ctx: Ctx) -> None:
        from tlcn_oer_lakehouse_spark.functions.text import EN_STOPWORDS
        from tlcn_oer_lakehouse_spark.queries import retrieval, serve

        self.ctx = ctx
        self.serve_mod, self.retrieval = serve, retrieval
        self.sf = os.path.join(ctx.run_dir, "sf0.1")
        # more than a 60 s run sends even at 30 ms per request, so the
        # stream never ends a run early
        self.queries = datagen.serve_queries(ctx.seed, MAX_QUERIES, EN_STOPWORDS)
        self.clients = min(CLIENTS, ctx.cpus)
        tr = ctx.tracer
        tr.wrap(serve, "preprocess_query", "queries.serve.preprocess")
        tr.wrap(retrieval, "fused_scores", "queries.retrieval.plan")

    def setup(self) -> None:
        datagen.write_tables(self.sf, tables=("documents", "embeddings"))
        warm = self.queries[: self.clients * WARMUP_PER_CLIENT]
        self.queries = self.queries[len(warm):]
        self._run_clients(warm, deadline=None, record=False)

    def request(self, raw: str) -> list[tuple[int, float]]:
        from pyspark.sql import functions as F

        spark, tr = self.ctx.spark, self.ctx.tracer
        terms = self.serve_mod.preprocess_query(raw)
        fused = self.retrieval.fused_scores(spark, self.sf, terms)
        with tr.span("queries.retrieval.execute"):
            rows = (fused.orderBy(F.col("fused_raw").desc(), F.col("doc_id").asc())
                    .limit(TOP_K).collect())
        return [(r["doc_id"], r["fused_raw"]) for r in rows]

    def _run_clients(self, queries, deadline, record: bool) -> list[Op]:
        from pyspark import InheritableThread

        ops: list[Op] = []
        lock = threading.Lock()
        it = iter(enumerate(queries))
        ctx = self.ctx

        def client() -> None:
            while deadline is None or time.perf_counter() < deadline:
                with lock:
                    nxt = next(it, None)
                if nxt is None:
                    return
                i, raw = nxt
                op = Op(kind="request", key=raw)
                t0 = time.perf_counter()
                try:
                    with ctx.jobs.group(f"serve-{i}", record=record), \
                            ctx.tracer.span("request", op=f"serve-{i}"):
                        op.output = self.request(raw)
                except Exception as exc:  # noqa: BLE001 — a failed op, not a failed run
                    op.error = f"{type(exc).__name__}: {exc}"[:300]
                op.latency_s = time.perf_counter() - t0
                op.end = time.perf_counter()
                with lock:
                    ops.append(op)

        threads = [InheritableThread(target=client) for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return ops

    def run(self, seconds: float) -> Result:
        t0 = time.perf_counter()
        ops = self._run_clients(self.queries, t0 + seconds, record=True)
        wall = max(o.end for o in ops) - t0
        self.verify(ops)
        p50 = median_latency(ops)
        tail_pct, tail = percentile_tail([o.latency_s for o in ops if o.ok])
        terms = {self.serve_mod.preprocess_query(o.key) for o in ops}
        rps = sum(o.ok for o in ops) / wall
        res = Result(ops=ops, op_p50_s=p50, work_per_s=rps)
        res.named = {
            "serve_p50_s": (p50, "s"),
            "serve_tail_s": (tail, "s"),
            "serve_rps": (rps, "1/s"),
        }
        res.info = {"clients": self.clients, "loop": "closed",
                    "requests": len(ops), "serve_tail_percentile": tail_pct,
                    "distinct_request_share": len(terms) / len(ops)}
        tr = self.ctx.tracer
        res.layers = {
            "queries.serve.preprocess_s": tr.median_self("queries.serve.preprocess"),
            "queries.retrieval.plan_s": tr.median_self("queries.retrieval.plan"),
            "queries.retrieval.execute_s": tr.median_self("queries.retrieval.execute"),
        }
        return res

    def verify(self, ops: list[Op]) -> None:
        ref = reference.HybridReference(self.sf)
        for op in ops:
            if op.error is None:
                terms = self.serve_mod.preprocess_query(op.key)
                op.mismatch = ref.compare(terms, op.output, TOP_K)
