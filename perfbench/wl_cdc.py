"""cdc_merge: the write path.

Set-up loads the feed's full-refresh segment: the first DAG run finds
no prior snapshots, so every model runs in full mode. The untraced run
loads it through ``DagExecutor``. The traced run instead lands the
full-refresh segment and the first batch as two files and drains them
through ``streaming.pipeline.run_streaming_dag`` (orders streamed one
file per trigger, customers static), so that the streaming layer is
measured; that costs ~30 s more, which the untraced run does not pay.
Then WARM_OPS untimed ops run, optimize included, so that no code
path first runs while timed.

Each op drives one incremental batch through
``DagExecutor(build_registry(...), SnapshotStore(delta_log=True,
cdf=True))``, reads the new dim_customer commit back through
``delta_log.table_changes``, as a downstream change-feed consumer
would, and reads one order the batch touched back from orders_cleaned
through ``SnapshotStore.read_pruned``: a point read on ``order_id``
within the order's month, pruned by the log's partition values and
file stats. The first op of every OPTIMIZE_EVERY also runs
``SnapshotStore.optimize`` on orders_cleaned (the reference's
``OPTIMIZE … ZORDER BY`` post-hook), and the timed loop runs whole
cycles of OPTIMIZE_EVERY ops, so every run times the same mix.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import checks
import common
import deltalog
import gen

N_CUSTOMERS = 2_000
N_ORDERS = 8_000
MAX_BATCHES = 40
OPTIMIZE_EVERY = 3
MIN_OPS = 3
#: untimed incremental batches after the full-refresh load
WARM_OPS = 1
#: feed segments the traced run's set-up drains through the stream:
#: the full-refresh segment plus one batch
STREAM_SEGMENTS = 2
TABLES = ("customers_latest", "orders_cleaned", "dim_customer")


def run(ctx) -> dict:
    feed = gen.write_cdc_feed(
        os.path.join(ctx.work, "feed"), ctx.seed, N_CUSTOMERS, N_ORDERS, MAX_BATCHES)
    cfiles, ofiles = feed["paths"]["customers"], feed["paths"]["orders"]

    t_setup = time.perf_counter()
    spark = ctx.start_spark()
    from pyspark.sql import functions as F

    from product_analytics_spark.models.pipeline import build_registry
    from product_analytics_spark.plans.executor import DagExecutor
    from product_analytics_spark.sources import delta_log
    from product_analytics_spark.sources.sinks import SnapshotStore

    store = SnapshotStore(spark, os.path.join(ctx.work, "wh"), delta_log=True, cdf=True)
    reg = build_registry(gen.AS_OF, gen.AS_OF_TS)
    ex = DagExecutor(reg, store, threads=5)
    progress = ctx.stream_listener(spark)
    drain_s = 0.0
    if ctx.trace:
        drain_s, segments, setup_ok = _stream_load(spark, store, reg, ctx.work, cfiles, ofiles)
    else:
        _, ledger = ex.run({"customers_cdc": spark.read.parquet(cfiles[0]),
                            "orders_cdc": spark.read.parquet(ofiles[0])})
        segments = [([cfiles[0]], [ofiles[0]])]
        setup_ok = all(e["status"] == "success" for e in ledger)
    first = len(segments)  # feed segment of op 0

    feeds: list[tuple[int, int, list]] = []  # (op, dim_customer version, change counts)
    reads: list[tuple[int, int, list]] = []  # (op, order_id, rows)
    dim_dir = store.path("dim_customer")
    # per batch, the first order of its file: (order_id, year, month)
    point_keys = {}
    for b in range(first, MAX_BATCHES + 1):
        head = pq.read_table(ofiles[b], columns=["order_id", "order_date"]).slice(0, 1)
        od = head.column("order_date")[0].as_py()  # UTC, as the session
        point_keys[b] = (head.column("order_id")[0].as_py(), od.year, od.month)
    failed_ops: set[int] = set()
    timed = {"ledgers": [], "rows": 0, "bytes": 0}

    def op(i: int, tag: str, optimize: bool) -> None:
        b = first + i
        if b > MAX_BATCHES:
            raise RuntimeError("feed exhausted: raise MAX_BATCHES")
        ctx.tracer.op_begin(tag)
        try:
            sources = {
                "customers_cdc": spark.read.parquet(cfiles[b]),
                "orders_cdc": spark.read.parquet(ofiles[b]),
            }
            _, ledger = ex.run(sources)
            segments.append(([cfiles[b]], [ofiles[b]]))
            v = delta_log.DeltaLog(dim_dir).snapshot().version
            changes = delta_log.table_changes(spark, dim_dir, v, v)
            feeds.append((i, v, sorted(
                tuple(r) for r in changes.groupBy("_change_type").count().collect())))
            k, year, month = point_keys[b]
            rows = store.read_pruned("orders_cleaned", [
                ("order_year", "=", year), ("order_month", "=", month), ("order_id", "=", k),
            ]).where(F.col("order_id") == k).select("order_id", "order_total").collect()
            reads.append((i, k, [tuple(r) for r in rows]))
            if optimize:
                store.optimize("orders_cleaned")
        finally:
            ctx.tracer.op_end()
        if any(e["status"] != "success" for e in ledger):
            failed_ops.add(i)
        if i >= WARM_OPS:
            timed["ledgers"].append(ledger)
            timed["rows"] += feed["rows"]["customers"][b] + feed["rows"]["orders"][b]
            timed["bytes"] += feed["bytes"]["customers"][b] + feed["bytes"]["orders"][b]

    for i in range(WARM_OPS):
        op(i, f"warm-{i}", True)
        common.clear_caches()
    setup_s = time.perf_counter() - t_setup

    v0 = {t: deltalog.latest_version(store.path(t)) for t in TABLES}
    ctx.mark_timed_start()
    loop = common.closed_loop(
        lambda j: op(WARM_OPS + j, f"op-{j}", j % OPTIMIZE_EVERY == 0), ctx.seconds, MIN_OPS,
        lambda: common.program_cpu_s(spark), after=common.clear_caches, cycle=OPTIMIZE_EVERY)
    lat, wall = loop["lat"], loop["wall"]
    ctx.mark_timed_end()

    # segment s was applied by set-up when s < first, else by op s - first
    probes = [(first + i, k) for i, k, _rows in reads]
    problems, bad, want_reads = checks.check_cdc(store, segments, probes)
    setup_failed = not setup_ok or any(s < first for s in bad)
    failed_ops |= {s - first for s in bad if s >= first}
    for i, v, got in feeds:
        want = checks.change_counts(dim_dir, v)
        if not checks.same(got, want):
            problems.append(f"table_changes(dim_customer, {v}): {got} != {want}")
            failed_ops.add(i)
    for (i, k, got), rows in zip(reads, want_reads):
        want = [(r["order_id"], r["order_total"]) for r in rows]
        if not checks.same(got, want):
            problems.append(f"read_pruned(orders_cleaned, order_id={k}) in op {i}: {got} != {want}")
            failed_ops.add(i)
    if problems and not failed_ops:
        setup_failed = True  # unattributable mismatch

    writes = [deltalog.write_counts(store.path(t), v0[t]) for t in TABLES]
    written = sum(w["data_bytes"] + w["log_bytes"] for w in writes)
    rows_in, bytes_in, ledgers = timed["rows"], timed["bytes"], timed["ledgers"]
    models = {}
    for name in TABLES:
        models[name] = sum(e["duration_s"] for lg in ledgers for e in lg if e["model"] == name)
    return {
        "setup_s": setup_s,
        **loop,
        "items": rows_in,
        "attempted": 1 + WARM_OPS + len(lat),
        "failed": len(failed_ops) + int(setup_failed),
        "problems": problems,
        "report": {
            "batch_s.p50": (common.summarize(lat)["p50"], "s"),
            "batch_s.tail": (common.summarize(lat)["tail"], "s"),
            "cdc_rows_per_s": (rows_in / wall, "1/s"),
            "write_amp": (written / bytes_in, "ratio"),
        },
        "layers": {
            "plans.models_failed": sum(
                1 for lg in ledgers for e in lg if e["status"] != "success"),
            "models.customers_latest_s": models["customers_latest"],
            "models.orders_cleaned_s": models["orders_cleaned"],
            "models.dim_customer_s": models["dim_customer"],
            "models.rows_built": sum(
                max(0, e["rows_built"]) for lg in ledgers for e in lg),
            "sinks.files_added": sum(w["files_added"] for w in writes),
            "sinks.files_removed": sum(w["files_removed"] for w in writes),
            "sinks.bytes_added": written,
            "delta_log.log_bytes": sum(w["log_bytes"] for w in writes),
            "write_amp": written / bytes_in,
            "streaming.drain_s": drain_s,
            "streaming.micro_batches": len(progress.batches) if progress else 0,
            "streaming.add_batch_s": (
                sum(p["add_batch_ms"] for p in progress.batches) / 1000.0 if progress else 0.0),
            "streaming.trigger_overhead_s": (
                sum(p["trigger_ms"] - p["add_batch_ms"] for p in progress.batches) / 1000.0
                if progress else 0.0),
        },
        # per-op normalisation skips these: they are whole-run figures
        "run_totals": ("streaming.drain_s", "streaming.micro_batches",
                       "streaming.add_batch_s", "streaming.trigger_overhead_s",
                       "write_amp", "plans.models_failed"),
    }


def _stream_load(spark, store, reg, work, cfiles, ofiles):
    """Land the full-refresh segment and the first batch as two files
    and drain them through ``run_streaming_dag``: orders streamed one
    file per trigger, customers static. Returns (drain seconds, the
    segments applied, whether both triggers ran)."""
    from product_analytics_spark.streaming.pipeline import run_streaming_dag

    landing = os.path.join(work, "landing")
    os.makedirs(landing)
    stamp = int(time.time()) - 1000
    for i, src in enumerate(ofiles[:STREAM_SEGMENTS]):
        dst = os.path.join(landing, os.path.basename(src))
        os.link(src, dst)
        # the file source orders new files by mtime
        os.utime(dst, (stamp + 10 * i, stamp + 10 * i))
    customers_static = spark.read.parquet(*cfiles[:STREAM_SEGMENTS])
    schema = spark.read.parquet(landing).schema
    t0 = time.perf_counter()
    journal = run_streaming_dag(
        spark, store, reg, stream_source="orders_cdc", landing_dir=landing,
        landing_schema=schema, static_sources={"customers_cdc": customers_static},
        max_files_per_trigger=1, timeout_s=150.0)
    drain_s = time.perf_counter() - t0
    segments = [(cfiles[:STREAM_SEGMENTS], [o]) for o in ofiles[:STREAM_SEGMENTS]]
    triggers = sum(1 for n in journal.values() if n)
    return drain_s, segments, triggers == STREAM_SEGMENTS
