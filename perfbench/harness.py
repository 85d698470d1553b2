"""Run-level plumbing shared by the workloads: the Spark session, the
memory sampler, the host-contention marker and the output check."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE = os.path.join(HERE, "data", "sf0.01")


def compare_frames(got, want) -> str:
    """The repository's Spark-vs-DuckDB rule (tests/compare.py): rows,
    schema and order-insensitive exact values."""
    tests = os.path.join(ROOT, "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    from compare import compare_frames as rule

    return rule(got, want)


class MemorySampler:
    """Peak resident memory of this process and its descendant JVM and
    Python workers, sampled from /proc on one thread. Other descendants
    are skipped: they are short-lived forks of the JVM (to run ``chmod``)
    whose resident size, until they exec, is the JVM's own memory."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree(self) -> tuple[int, dict]:
        children: dict[int, list[int]] = {}
        procs: dict[int, tuple[str, int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    head, tail = fh.read().rsplit(")", 1)
            except (OSError, ValueError):
                continue  # the process ended while we listed it
            pid, fields = int(entry), tail.split()
            children.setdefault(int(fields[1]), []).append(pid)
            procs[pid] = (head.split("(", 1)[1], int(fields[21]) * self._page)
        parts, todo = {}, [os.getpid()]
        while todo:
            pid = todo.pop()
            name, rss = procs.get(pid, ("", 0))
            if name == "java" or name.startswith("python"):
                parts[f"{name}:{pid}"] = rss
            todo.extend(children.get(pid, []))
        return sum(parts.values()), parts

    def _loop(self) -> None:
        while not self._stop.is_set():
            total, parts = self._tree()
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_parts = total, parts
            self._stop.wait(self.period_s)


def cpu_times() -> list[int]:
    """Host CPU time counters: user nice system idle iowait irq softirq
    steal ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(since: list[int]) -> float:
    """Share of host CPU time the hypervisor stole since ``since``."""
    delta = [b - a for a, b in zip(since, cpu_times())]
    return round(delta[7] / max(1, sum(delta)), 4)


def host_contention() -> dict:
    """1-minute loadavg and a fixed single-thread integer loop, so a run
    on a busy or throttled host can be recognised (diagnostic only)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(3_000_000):
        s += i
    return {
        "loadavg_1m": os.getloadavg()[0],
        "cpu_canary_s": round(time.perf_counter() - t0, 4),
    }


def live_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the session
    retains (caches, memoized plans, state), without the garbage whose
    amount depends on when the collector last ran."""
    jvm = spark.sparkContext._jvm
    # the first collection hands unreachable broadcasts and shuffles to
    # Spark's ContextCleaner, which drops their blocks; the second measures
    # the heap without them
    jvm.System.gc()
    time.sleep(1.0)
    jvm.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def start_spark(work: str, traced: bool):
    from cdc_sync_poc_spark import get_spark

    # keep every file Spark, the JVM and PySpark write inside the run dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    cpus = len(os.sched_getaffinity(0))
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


