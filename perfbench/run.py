"""Lakehouse benchmark: one seeded workload per run, from one process.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Each run pins its deployment settings
(printed on the first output line), makes a fresh temporary warehouse,
landing and Spark scratch directory under ``.bench_run/`` and deletes it
at exit, checks every operation against an independent reference, and
prints one JSON object as its last line: ``correct``, ``attempted``,
``failed`` and the metrics of ``BENCHMARK.json`` -- the end-to-end set
with ``--trace 0``, the per-layer set with ``--trace 1``.  The line
before it carries the workload's metrics under their own names, with
units.  A traced run wraps the public calls of each layer and writes
its spans to ``.bench_run/traces/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tlcn_oer_lakehouse_spark"


def deployment(run_dir: str, args) -> dict:
    """Pin the settings a run uses in the environment, before the engine
    is imported, and return them for the output."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    mem_gib = mem_kib / 2**20
    heap_gib = max(1, min(8, int(mem_gib // 4)))
    local_dirs = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local_dirs)
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gib}g",
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp,
        # every JVM the run starts (the launcher too) keeps its scratch
        # files inside the run directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    os.environ.pop("SPARK_MASTER_SET", None)
    return dict(env, host_mem_gib=round(mem_gib, 1), seed=args.seed,
                workload=args.workload, seconds=args.seconds, trace=args.trace)


def start_spark(run_dir: str):
    from tlcn_oer_lakehouse_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    })


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        line = next(ln for ln in f if ln.startswith("VmHWM"))
    return int(line.split()[1]) / 1024


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "ingest", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    contract = load_contract()

    base = os.path.join(ROOT, ".bench_run")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    settings = deployment(run_dir, args)

    import pyspark

    from analytics import Analytics
    from common import Ctx
    from ingest import Ingest
    from serve import Serve
    from spans import JobCounter, Tracer

    settings["spark_version"] = pyspark.__version__
    tracer = Tracer(enabled=args.trace == 1)
    spark = None
    try:
        spark = start_spark(run_dir)
        jobs = JobCounter(spark, enabled=args.trace == 1)
        ctx = Ctx(spark=spark, seed=args.seed, run_dir=run_dir,
                  cpus=int(os.environ["SPARK_GRAFT_CPUS"]), tracer=tracer, jobs=jobs)
        workload = {"serve": Serve, "ingest": Ingest, "analytics": Analytics}[
            args.workload](ctx)
        workload.setup()
        spark.catalog.clearCache()
        tracer.reset()
        setup_s = time.perf_counter() - T_START
        res = workload.run(args.seconds)
        rss = jvm_peak_rss_mb()
        counts = jobs.medians()
    finally:
        tracer.close()
        if args.trace == 1:
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.write(os.path.join(
                traces, f"{args.workload}-seed{args.seed}.jsonl"))
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(res.ops)
    failed = sum(not o.ok for o in res.ops)
    settings.update(res.info)
    print(json.dumps({"settings": settings}))
    by_kind: dict[str, list[float]] = {}
    for o in res.ops:
        by_kind.setdefault(o.kind, []).append(round(o.latency_s, 3))
    print(f"perfbench: latencies (s) by operation: {by_kind}", file=sys.stderr)
    for o in res.ops:
        if not o.ok:
            print(f"perfbench: failed {o.kind} {o.key}: {o.error or o.mismatch}",
                  file=sys.stderr)

    named = {"setup_s": (setup_s, "s"), **res.named,
             "failed_ratio": (failed / attempted, "ratio")}
    if args.trace == 0:
        values = {"setup_s": setup_s, "op_p50_s": res.op_p50_s,
                  "work_per_s": res.work_per_s}
        metrics = contract["end_to_end"]
    else:
        values = dict(res.layers)
        values.update({
            "session.jobs_per_op": counts["jobs"],
            "session.stages_per_op": counts["stages"],
            "session.tasks_per_op": counts["tasks"],
            "session.failed_tasks": counts["failed_tasks"],
            "session.jvm_peak_rss_mb": rss,
            "tracing.op_p50_s": res.op_p50_s,
        })
        metrics = contract["per_layer"]
        units = {m["name"]: m["unit"] for m in metrics}
        named.update({k: (v, units.get(k, "s")) for k, v in values.items()})
    print(json.dumps({"workload_metrics": {
        k: {"value": v, "unit": u} for k, (v, u) in named.items()}}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in metrics},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
