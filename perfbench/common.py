"""Shared plumbing: host sizing, the Spark session, closed-loop timing,
latency summaries, peak RSS and orderly JVM shutdown."""

from __future__ import annotations

import os
import statistics
import time

#: driver memory never exceeds this share of host RAM
DRIVER_MEM_SHARE = 0.4
DRIVER_MEM_CAP_MB = 2048


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def host_mem_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def size_host(work: str) -> dict:
    """Pin the engine's sizing knobs to this host, in this process's
    environment only: session.py defaults to local[32] and a 16g
    driver, which oversubscribes a small machine."""
    cpus = host_cpus()
    mem = min(DRIVER_MEM_CAP_MB, int(host_mem_mb() * DRIVER_MEM_SHARE))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_MASTER", None)
    import tempfile

    tempfile.tempdir = tmp
    return {"cpus": cpus, "driver_mem_mb": mem}


def start_spark(work: str, trace: bool):
    """The engine's own session factory plus the benchmark's conf:
    scratch dirs inside the work dir and, for the traced run, an
    uncompressed event log."""
    from product_analytics_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # The heap starts at its full size (-Xms equal to
        # spark.driver.memory) so that G1 does not grow it during the
        # timed phase. Pages are still touched only when used.
        # -UsePerfData keeps the JVM from writing /tmp/hsperfdata_*.
        # -UseDynamicNumberOfCompilerThreads keeps every JIT thread
        # alive, so that jit_cpu_s can sum them.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"),
        "spark.local.dir": os.path.join(work, "spark-local"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


#: JVM threads whose CPU is not the program's work but the JVM warming
#: up: the JIT compilers and the code-cache sweeper
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds of the process, its ended threads
    included, plus those of its reaped children), from /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        out[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]) / _CLK_TCK)
    return out


def jit_cpu_s(spark) -> float:
    """CPU seconds the JVM's JIT threads have used so far, from each
    thread's schedstat (nanoseconds). The session keeps every compiler
    thread alive (see ``start_spark``), so the sum never drops."""
    pid = jvm_pid(spark)
    if pid is None:
        return 0.0
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        base = f"/proc/{pid}/task/{tid}"
        try:
            with open(base + "/comm", encoding="utf-8", errors="replace") as fh:
                if fh.read().rstrip("\n") not in JIT_THREADS:
                    continue
            with open(base + "/schedstat", encoding="ascii") as fh:
                total += int(fh.read().split()[0])
        except OSError:  # thread ended meanwhile
            continue
    return total / 1e9


def program_cpu_s(spark) -> float:
    """CPU seconds used so far by this Python process, its JVM and every
    process under the JVM (Spark's Python workers), threads that ended
    included. The JVM's JIT compiler threads are left out: they are the
    JVM warming up, not the program's work. Time the host steals from
    this machine is not CPU time, so the figure moves much less with the
    host's load than wall time does."""
    total = time.process_time()
    root = jvm_pid(spark)
    if root is None:
        return total
    procs = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    todo = [root]
    while todo:
        pid = todo.pop()
        total += procs[pid][1] if pid in procs else 0.0
        todo.extend(kids.get(pid, ()))
    return total - jit_cpu_s(spark)


def host_cpu_ticks() -> tuple[int, int]:
    """(stolen, busy + stolen) clock ticks summed over this machine's
    CPUs since boot, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f[:8]
    return steal, user + nice + system + irq + softirq + steal


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss(spark) -> dict:
    """Peak resident set (VmHWM) of this Python process and of its JVM
    child, read from /proc (psutil is not available)."""
    pid = jvm_pid(spark)
    return {"py": _vm_hwm_kb("self") / 1024.0,
            "jvm": _vm_hwm_kb(pid) / 1024.0 if pid is not None else 0.0}


def jvm_memory_mb(spark) -> dict:
    """The JVM's live heap right after a full collection (what the
    program retains) and its non-heap use (metaspace, code cache),
    from its MemoryMXBean. The collection is forced here."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    bean.gc()
    return {"live_heap": bean.getHeapMemoryUsage().getUsed() / 2**20,
            "nonheap": bean.getNonHeapMemoryUsage().getUsed() / 2**20}


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then close the gateway and wait for the JVM
    (and the py4j callback server) to end."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — already closed
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout_s)
        except Exception:  # noqa: BLE001 — still alive: force it
            proc.kill()
            proc.wait(10)


def clear_caches() -> None:
    """Release operator-persisted relations between ops, as bench.py
    does."""
    from product_analytics_spark import cache

    cache.clear_all()
    cache.clear_shared()


def closed_loop(op, seconds: float, min_ops: int, cpu, after=None,
                cycle: int = 1) -> dict:
    """Run ``op(i)`` back to back (one client) until ``seconds`` have
    passed, at least ``min_ops`` ops completed and the op count is a
    whole number of ``cycle``s; ``after()`` runs untimed between ops.
    ``cpu()`` returns the program's CPU seconds so far. Returns per-op
    wall and CPU seconds, and the loop's wall and CPU seconds (which
    include ``after``)."""
    lat: list[float] = []
    cpu_lat: list[float] = []
    c0, t0 = cpu(), time.perf_counter()
    i = 0
    while True:
        c, s = cpu(), time.perf_counter()
        op(i)
        lat.append(time.perf_counter() - s)
        cpu_lat.append(cpu() - c)
        i += 1
        if after is not None:
            after()
        if time.perf_counter() - t0 >= seconds and i >= min_ops and i % cycle == 0:
            break
    return {"lat": lat, "cpu_lat": cpu_lat,
            "wall": time.perf_counter() - t0, "cpu": cpu() - c0}


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile). With ten samples or fewer no percentile
    qualifies and the maximum is reported as p100."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    k = n - 10  # 1-based rank with exactly ten samples above it
    return xs[k - 1], 100.0 * k / n


def summarize(values: list[float]) -> dict:
    t, p = tail(values)
    return {"p50": statistics.median(values), "tail": t, "tail_pct": p, "n": len(values)}
