"""The traced run: spans and counts taken around calls into the
engine's public functions, plus the two boundaries below them.

* Spans (name, start, end, parent, op id) are kept in memory and
  written once, at the end, to ``.bench_work/trace-<workload>-s<seed>.json``.
* py4j round trips and wait time come from wrapping the gateway
  client's ``send_command``; only the traced run installs it. Wait is
  summed over threads; "busy" is the wall time during which at least
  one call was in flight, so op wall minus busy is driver-side Python.
* Spark jobs are attributed through job groups the benchmark sets:
  ``pb-op-<n>`` for timed ops, ``pb-setup`` for set-up work on the
  benchmark's threads. Jobs started by threads that never touch a
  wrapped call (stream execution threads) carry no group and are
  counted as unattributed. Job, stage and task figures come from the
  Spark event log that the benchmark's session conf enables.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

SETUP_GROUP = "pb-setup"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._tl = threading.local()
        self._op: str | None = None
        self._next_id = 0
        self.py4j = defaultdict(lambda: [0, 0.0, 0.0])  # op id -> [trips, wait_s, busy_s]
        self._inflight = 0
        self._busy_mark = 0.0
        self._py4j_lock = threading.Lock()
        self._restore: list[tuple] = []

    # --------------------------------------------------------- ops

    def op_begin(self, op_id: str) -> None:
        """Mark the start of a timed op. Helper threads the engine
        spawns (DagExecutor workers) inherit it."""
        with self._py4j_lock:
            self._tick(time.perf_counter())
            self._op = op_id
        self._sync_group()

    def op_end(self) -> None:
        with self._py4j_lock:
            self._tick(time.perf_counter())
            self._op = None
        self._sync_group()

    def _tick(self, now: float) -> None:
        """Charge the wall time since the last mark to the current op
        if a py4j call was in flight (caller holds the py4j lock)."""
        if self._inflight > 0:
            self.py4j[self.current_op() or "setup"][2] += now - self._busy_mark
        self._busy_mark = now

    def current_op(self) -> str | None:
        return self._op

    def _sync_group(self) -> None:
        op = self.current_op()
        group = f"pb-{op}" if op else SETUP_GROUP
        if getattr(self._tl, "group", None) != group:
            self._tl.group = group
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    # ------------------------------------------------------- spans

    def span(self, name: str):
        return _Span(self, name)

    def _open(self, name: str) -> dict:
        self._sync_group()
        stack = self._stack()
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "op": self.current_op(),
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(rec)
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(rec)

    def _stack(self) -> list:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    # ----------------------------------------------------- wrapping

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` (a module function or a class
        method) with a span-recording wrapper."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            rec = tracer._open(name)
            try:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(args, out)
                return out
            finally:
                tracer._close(rec)

        setattr(owner, attr, wrapped)
        self._restore.append((owner, attr, orig))

    def install_py4j(self) -> None:
        client = self.sc._gateway._gateway_client
        orig = client.send_command
        tracer = self

        lock = self._py4j_lock

        def send_command(*args, **kwargs):
            t0 = time.perf_counter()
            with lock:
                tracer._tick(t0)
                tracer._inflight += 1
            try:
                return orig(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                with lock:
                    tracer._tick(t1)
                    tracer._inflight -= 1
                    cell = tracer.py4j[tracer.current_op() or "setup"]
                    cell[0] += 1
                    cell[1] += t1 - t0

        client.send_command = send_command
        self._restore.append((client, "send_command", None))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            if orig is None:
                try:
                    delattr(owner, attr)
                except AttributeError:
                    pass
            else:
                setattr(owner, attr, orig)
        self._restore.clear()

    # -------------------------------------------------- summaries

    def layer_seconds(self, ops: set[str]) -> dict[str, float]:
        """Inclusive seconds per span name, over spans of ``ops``."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["op"] in ops:
                out[s["name"]] += s["end"] - s["start"]
        return out

    def layer_calls(self, ops: set[str]) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            if s["op"] in ops:
                out[s["name"]] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {"spans": self.spans,
                 "py4j": {k: v for k, v in self.py4j.items()}},
                fh,
            )


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.rec = self.tracer._open(self.name)
        return self.rec

    def __exit__(self, *exc):
        self.tracer._close(self.rec)
        return False


class NullTracer:
    """Stand-in for the untraced run: every hook is a no-op."""

    def op_begin(self, op_id):
        pass

    def op_end(self):
        pass

    def span(self, name):
        return contextlib.nullcontext()


# ------------------------------------------------------ engine hooks

def install_engine_hooks(tracer: Tracer) -> dict:
    """Wrap the public entry points of every engine layer. Returns
    the counters that result hooks fill (pruning kept/total)."""
    from product_analytics_spark import cache
    from product_analytics_spark.plans import executor
    from product_analytics_spark.sources import delta_log, sinks

    pruning = {"kept": 0, "total": 0}

    def on_plan(args, kept):
        snap = args[0]
        with tracer._lock:
            pruning["kept"] += len(kept)
            pruning["total"] += len(snap.files)

    released = {"n": 0}

    def on_clear(args, n):
        released["n"] += int(n or 0)

    tracer.wrap(executor.DagExecutor, "run", "plans.run")
    tracer.wrap(sinks.SnapshotStore, "merge", "sinks.merge")
    tracer.wrap(sinks.SnapshotStore, "optimize", "sinks.optimize")
    tracer.wrap(sinks.SnapshotStore, "read", "sinks.read")
    tracer.wrap(sinks.SnapshotStore, "read_pruned", "sinks.read")
    tracer.wrap(delta_log.DeltaLog, "snapshot", "delta_log.snapshot")
    tracer.wrap(delta_log.DeltaLog, "commit", "delta_log.commit")
    tracer.wrap(delta_log.DeltaSnapshot, "plan_files", "delta_log.plan_files", on_plan)
    tracer.wrap(delta_log, "table_changes", "delta_log.table_changes")
    tracer.wrap(cache, "clear_all", "cache.clear", on_clear)
    tracer.wrap(cache, "clear_shared", "cache.clear", on_clear)
    tracer.install_py4j()
    return {"pruning": pruning, "released": released}


# ----------------------------------------------------- event log

def spark_events(events_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, task seconds, summed job
    wall and shuffle bytes written, parsed from the event log. Jobs
    without a group are reported under ``None``."""
    files = sorted(glob.glob(os.path.join(events_dir, "*")))
    job_group: dict[int, str | None] = {}
    job_start: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    out: dict = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    job_group[jid] = g
                    job_start[jid] = ev.get("Submission Time") or 0
                    for sid in ev.get("Stage IDs") or []:
                        stage_job.setdefault(sid, jid)
                    out[g]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    g = job_group.get(jid)
                    end = ev.get("Completion Time") or 0
                    out[g]["job_wall_s"] += max(0, end - job_start.get(jid, end)) / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    g = job_group.get(stage_job.get(sid))
                    out[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    g = job_group.get(stage_job.get(sid))
                    m = ev.get("Task Metrics") or {}
                    out[g]["tasks"] += 1
                    out[g]["task_s"] += (m.get("Executor Run Time") or 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    out[g]["shuffle_bytes"] += sw.get("Shuffle Bytes Written") or 0
    return {k: dict(v) for k, v in out.items()}


# --------------------------------------------- streaming progress

def progress_listener(spark):
    """A StreamingQueryListener collecting each micro-batch's
    ``durationMs`` (triggerExecution, addBatch) and input rows."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.batches.append({
                "rows": p.numInputRows,
                "trigger_ms": (p.durationMs or {}).get("triggerExecution", 0),
                "add_batch_ms": (p.durationMs or {}).get("addBatch", 0),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener
