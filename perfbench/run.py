"""The repo benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload cdc_merge --seed 1 --seconds 8 --trace 0

Run it from the repository root. It generates the workload's inputs
from the seed, sets the engine up, measures a closed loop for
``--seconds`` (and at least a few ops), checks every output against an
independent computation, and prints the metrics: human-readable lines
first, then one JSON object as the last line. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` is the separate traced run and
reports the per-layer metrics. A failed or mismatched op makes the
exit code non-zero. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import tracer as tracing  # noqa: E402

WORKLOADS = {
    "cdc_merge": "wl_cdc",
    "corpus_dedup": "wl_corpus",
}

END_TO_END = ("setup_s", "op_cpu_s.p50", "items_per_cpu_s", "mem_mb")
E2E_UNITS = {"setup_s": "s", "op_cpu_s.p50": "s", "items_per_cpu_s": "1/cpu_s", "mem_mb": "MB"}


def per_layer_names() -> list[tuple[str, str]]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


class Ctx:
    """What a workload gets: its work dir, seed and budget, the
    session factory and the tracer hooks (no-ops when untraced)."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.spark = None
        self.tracer = tracing.NullTracer()
        self.hooks = None
        self.session_start_s = 0.0
        self.snap_stats = {"hits": 0, "misses": 0}
        self.rss = {"py": 0.0, "jvm": 0.0}
        self.jvm_mem = {"live_heap": 0.0, "nonheap": 0.0}
        self.ticks = (0, 0)
        self.steal_share = 0.0
        self.jit_s = 0.0

    def start_spark(self):
        t0 = time.perf_counter()
        self.spark = common.start_spark(self.work, self.trace)
        self.session_start_s = time.perf_counter() - t0
        if self.trace:
            self.tracer = tracing.Tracer(self.spark)
            self.hooks = tracing.install_engine_hooks(self.tracer)
            self.tracer.op_end()  # tags this thread's set-up jobs pb-setup
        return self.spark

    def stream_listener(self, spark):
        return tracing.progress_listener(spark) if self.trace else None

    def mark_timed_start(self) -> None:
        """Zero the counters that are reported for the timed phase."""
        from product_analytics_spark.sources import delta_log

        delta_log.snapshot_cache_stats(reset=True)
        self.ticks = common.host_cpu_ticks()
        self.jit_s = common.jit_cpu_s(self.spark)
        if self.hooks:
            self.hooks["pruning"].update(kept=0, total=0)
            self.hooks["released"]["n"] = 0

    def mark_timed_end(self) -> None:
        """Read the timed-phase counters, peak RSS and the JVM's
        retained memory (before the output checks, whose memory is the
        benchmark's, not the engine's)."""
        from product_analytics_spark.sources import delta_log

        self.snap_stats = delta_log.snapshot_cache_stats()
        steal, busy = (b - a for a, b in zip(self.ticks, common.host_cpu_ticks()))
        self.steal_share = steal / busy if busy else 0.0
        self.jit_s = common.jit_cpu_s(self.spark) - self.jit_s
        self.rss = common.peak_rss(self.spark)
        self.jvm_mem = common.jvm_memory_mb(self.spark)


def layer_metrics(ctx: Ctx, res: dict) -> dict:
    """Per-layer figures for the timed phase, per op unless the
    workload marks them as whole-run totals."""
    lat = res["lat"]
    n = len(lat)
    t = ctx.tracer
    ops = {f"op-{i}" for i in range(n)}
    secs = t.layer_seconds(ops)
    calls = t.layer_calls(ops)
    events = tracing.spark_events(os.path.join(ctx.work, "events"))
    spark_ops: dict[str, float] = {}
    for g, v in events.items():
        if g and g.startswith("pb-op"):
            for k, x in v.items():
                spark_ops[k] = spark_ops.get(k, 0.0) + x
    trips = sum(t.py4j[o][0] for o in ops if o in t.py4j)
    wait = sum(t.py4j[o][1] for o in ops if o in t.py4j)
    busy = sum(t.py4j[o][2] for o in ops if o in t.py4j)
    pr = ctx.hooks["pruning"]
    out = {
        "session.start_s": ctx.session_start_s,
        "plans.run_s": secs.get("plans.run", 0.0),
        "sinks.merge_s": secs.get("sinks.merge", 0.0),
        "sinks.merge_calls": calls.get("sinks.merge", 0),
        "sinks.optimize_s": secs.get("sinks.optimize", 0.0),
        "sinks.read_s": secs.get("sinks.read", 0.0),
        "sinks.files_kept_ratio": pr["kept"] / pr["total"] if pr["total"] else 0.0,
        "delta_log.snapshot_s": secs.get("delta_log.snapshot", 0.0),
        "delta_log.snap_hits": ctx.snap_stats["hits"],
        "delta_log.snap_misses": ctx.snap_stats["misses"],
        "delta_log.commits": calls.get("delta_log.commit", 0),
        "delta_log.table_changes_s": secs.get("delta_log.table_changes", 0.0),
        "pipelines.corpus_build_s": secs.get("pipelines.corpus_build", 0.0),
        "operators.simhash_pairs_s": secs.get("operators.simhash_pairs", 0.0),
        "operators.ivf_pairs_s": secs.get("operators.ivf_pairs", 0.0),
        "cache.released": ctx.hooks["released"]["n"],
        "jvm.jit_cpu_s": ctx.jit_s,
        "spark.jobs": spark_ops.get("jobs", 0.0),
        "spark.stages": spark_ops.get("stages", 0.0),
        "spark.tasks": spark_ops.get("tasks", 0.0),
        "spark.task_s": spark_ops.get("task_s", 0.0),
        "spark.job_wall_s": spark_ops.get("job_wall_s", 0.0),
        "spark.shuffle_bytes": spark_ops.get("shuffle_bytes", 0.0),
        "py4j.trips": trips,
        "py4j.wait_s": wait,
        "driver.py_self_s": max(0.0, sum(lat) - busy),
        "mem.py_peak_mb": ctx.rss["py"],
        "mem.jvm_peak_mb": ctx.rss["jvm"],
        "mem.jvm_live_heap_mb": ctx.jvm_mem["live_heap"],
        "mem.jvm_nonheap_mb": ctx.jvm_mem["nonheap"],
    }
    out.update(res.get("layers", {}))
    totals = set(res.get("run_totals", ())) | {
        "session.start_s", "sinks.files_kept_ratio", "mem.py_peak_mb", "mem.jvm_peak_mb",
        "mem.jvm_live_heap_mb", "mem.jvm_nonheap_mb"}
    for k in list(out):
        if k not in totals:
            out[k] = out[k] / n
    out["spark.unattributed_jobs"] = events.get(None, {}).get("jobs", 0.0)
    out["trace.op_s.p50"] = statistics.median(lat)
    out["trace.op_cpu_s.p50"] = statistics.median(res["cpu_lat"])
    out["trace.items_per_s"] = res["items"] / res["wall"]
    out["trace.items_per_cpu_s"] = res["items"] / res["cpu"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "product_analytics_spark", "__init__.py")):
        print("perfbench: run from the repository root (product_analytics_spark/ "
              "not found here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    names = per_layer_names()

    work = os.path.join(root, ".bench_work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sizing = common.size_host(work)
    ctx = Ctx(work, args.seed, args.seconds, bool(args.trace))
    module = importlib.import_module(WORKLOADS[args.workload])
    try:
        res = module.run(ctx)
    except Exception:  # noqa: BLE001 — report, stop the JVM, fail
        traceback.print_exc()
        if ctx.spark is not None:
            common.stop_spark(ctx.spark)
        return 1
    if ctx.trace:
        ctx.tracer.uninstall()
    common.stop_spark(ctx.spark)

    s = common.summarize(res["lat"])
    c = common.summarize(res["cpu_lat"])
    print(f"perfbench {args.workload} seed={args.seed} cpus={sizing['cpus']} "
          f"driver_mem={sizing['driver_mem_mb']}m ops={s['n']} "
          f"tail=p{s['tail_pct']:.1f} of n={s['n']} trace={args.trace}")
    print("  op_s = " + " ".join(f"{x:.3f}" for x in res["lat"]))
    print("  op_cpu_s = " + " ".join(f"{x:.3f}" for x in res["cpu_lat"]))
    print(f"  cpu: op_cpu_s.tail = {c['tail']:.4g} s, JIT threads {ctx.jit_s:.4g} s "
          f"(not in op_cpu_s)")
    print(f"  host steal = {100 * ctx.steal_share:.1f} % of the busy CPU time while timed")
    print(f"  peak_rss_mb = {ctx.rss['py'] + ctx.rss['jvm']:.1f} MB (python {ctx.rss['py']:.1f}"
          f" + jvm {ctx.rss['jvm']:.1f}); jvm live heap {ctx.jvm_mem['live_heap']:.1f} MB,"
          f" non-heap {ctx.jvm_mem['nonheap']:.1f} MB")
    for name, (value, unit) in res["report"].items():
        print(f"  {name} = {value:.6g} {unit}")
    print(f"  fail_ratio = {res['failed'] / res['attempted']:.6g} "
          f"({res['failed']}/{res['attempted']})")
    for p in res["problems"]:
        print(f"  MISMATCH {p}")

    if ctx.trace:
        layers = layer_metrics(ctx, res)
        ctx.tracer.dump(os.path.join(root, ".bench_work", f"trace-{args.workload}-s{args.seed}.json"))
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in names}
    else:
        values = {
            "setup_s": res["setup_s"],
            "op_cpu_s.p50": c["p50"],
            "items_per_cpu_s": res["items"] / res["cpu"],
            "mem_mb": ctx.rss["py"] + ctx.jvm_mem["live_heap"] + ctx.jvm_mem["nonheap"],
        }
        metrics = {n: {"value": float(values[n]), "unit": E2E_UNITS[n]} for n in END_TO_END}
    shutil.rmtree(work, ignore_errors=True)
    correct = res["failed"] == 0 and not res["problems"]
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
