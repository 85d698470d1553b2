"""Per-layer accounting for traced runs, from Spark's JSON event log.

Every job, stage and task is attributed to one benchmark operation through
the local properties Spark stamps on it: the job group the batch workloads
set per query execution, or the ``streaming.sql.batchId`` of a micro-batch.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

# Spark 4.1's Python SQL metrics, by display name
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}

COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.scheduler_delay_s",
    "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
    "shuffle.fetch_wait_s", "sources.bytes_read", "sources.records_read",
    *PYTHON_METRICS.values(), "driver.result_bytes", "writer.bytes_written",
    "spark.reused_stages",
)


# every per-layer metric a traced run prints, on every workload; a layer a
# workload does not use reads 0
LAYER_METRICS = (
    "registry.build_s", *COUNTERS, "driver.gap_s",
    "streaming.plan_ms", "streaming.offsets_ms", "streaming.add_batch_ms",
    "streaming.commit_ms", "streaming.dedup_state_rows",
    "streaming.dedup_state_bytes", "streaming.loop_drop_ratio",
    "writer.buckets_rewritten", "writer.write_amplification",
    "trace.clock_error_max", "trace.job_start_offset_min_s",
    "trace.job_end_offset_max_s", "trace.phase_error_max", "trace.op_p50_s",
)


def unit_of(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_ratio", "ratio"),
                         ("_max", "ratio"), ("_amplification", "ratio")):
        if name.endswith(suffix):
            return unit
    return "bytes" if "bytes" in name else "count"


def layer_metrics(records: list[dict], totals: dict) -> dict:
    """Per-operation means of every layer metric over the timed records,
    overridden by workload-level ``totals``; (value, unit) pairs."""
    out = {}
    for name in LAYER_METRICS:
        if name in totals:
            value = totals[name]
        else:
            value = sum(r.get(name, 0.0) for r in records) / len(records)
        out[name] = (value, unit_of(name))
    return out


def _op_key(props: dict) -> str | None:
    if "streaming.sql.batchId" in props:
        return "batch:" + props["streaming.sql.batchId"]
    return props.get("spark.jobGroup.id")


def union_length(spans: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clipped(spans: list[tuple[float, float]], lo: float, hi: float) -> list:
    return [(max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi]


def clock_check(jobs: list[tuple[float, float]], lo: float, hi: float,
                total_s: float) -> dict:
    """How an operation's job spans (JVM clock) sit in its window
    ``[lo, hi]`` (benchmark clock, after the builder call), and the
    driver time outside any job. With agreeing clocks every job falls
    inside the window: the first starts at or after ``lo`` and the last
    ends at or before ``hi``, so ``build + job union + driver gap`` equals
    the operation's own time. An operation without jobs cannot show
    that, so its clock error is 1."""
    inside = union_length(clipped(jobs, lo, hi))
    gap = (hi - lo) - inside
    if not jobs:
        return {"driver.gap_s": gap, "clock_error": 1.0,
                "job_start_offset_s": None, "job_end_offset_s": None}
    build = total_s - (hi - lo)
    return {
        "driver.gap_s": gap,
        "clock_error": abs(build + union_length(jobs) + gap - total_s) / total_s,
        "job_start_offset_s": min(a for a, _ in jobs) - lo,
        "job_end_offset_s": max(b for _, b in jobs) - hi,
    }


def clock_totals(records: list[dict]) -> dict:
    """Workload-level clock agreement: the worst clock error, the
    earliest first-job start and the latest last-job end relative to
    their operation's window, over operations that ran jobs."""
    starts = [r["job_start_offset_s"] for r in records if r["job_start_offset_s"] is not None]
    ends = [r["job_end_offset_s"] for r in records if r["job_end_offset_s"] is not None]
    return {
        "trace.clock_error_max": max(r["clock_error"] for r in records),
        "trace.job_start_offset_min_s": min(starts, default=0.0),
        "trace.job_end_offset_max_s": max(ends, default=0.0),
    }


class EventLog:
    """Jobs (with their spans) and layer counters per operation key."""

    def __init__(self, log_dir: str):
        # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
        files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
        if not files:
            raise FileNotFoundError(f"no event log under {log_dir}")
        self.jobs: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self.counters: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        job_key: dict[int, str | None] = {}
        job_start: dict[int, float] = {}
        listed: dict[int, list[str]] = defaultdict(list)
        submitted: dict[int, str | None] = {}
        stage_key: dict[int, str | None] = {}
        for path in files:
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        key = _op_key(ev.get("Properties") or {})
                        job_key[ev["Job ID"]] = key
                        job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                        if key is not None:
                            for sid in ev["Stage IDs"]:
                                listed[sid].append(key)
                    elif kind == "SparkListenerJobEnd":
                        jid = ev["Job ID"]
                        key = job_key.get(jid)
                        if key is not None:
                            end = ev["Completion Time"] / 1000.0
                            self.jobs[key].append((job_start[jid], end))
                            self.counters[key]["spark.jobs"] += 1
                    elif kind == "SparkListenerStageSubmitted":
                        sid = ev["Stage Info"]["Stage ID"]
                        stage_key[sid] = _op_key(ev.get("Properties") or {})
                        submitted.setdefault(sid, stage_key[sid])
                        if stage_key[sid] is not None:
                            self.counters[stage_key[sid]]["spark.stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        key = stage_key.get(ev["Stage ID"])
                        if key is not None:
                            self._task(self.counters[key], ev)
        # a stage an operation's job lists but skips, because another
        # operation already ran it: that operation's shuffle output (or a
        # cache built on it) is reused
        self.reused: dict[str, set[str]] = defaultdict(set)
        for sid, keys in listed.items():
            for key in set(keys):
                owner = submitted.get(sid)
                if owner is not None and owner != key:
                    self.counters[key]["spark.reused_stages"] += 1
                    self.reused[key].add(owner)

    @staticmethod
    def _task(c: dict, ev: dict) -> None:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        c["spark.tasks"] += 1
        if not m:
            return
        run_ms = m["Executor Run Time"]
        duration = info["Finish Time"] - info["Launch Time"]
        overhead = (m["Executor Deserialize Time"] + m["Result Serialization Time"]
                    + info.get("Getting Result Time", 0))
        c["spark.scheduler_delay_s"] += max(0, duration - run_ms - overhead) / 1000.0
        c["executor.run_s"] += run_ms / 1000.0
        c["executor.cpu_s"] += m["Executor CPU Time"] / 1e9
        c["executor.gc_s"] += m["JVM GC Time"] / 1000.0
        sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
        c["shuffle.write_bytes"] += sw["Shuffle Bytes Written"]
        c["shuffle.read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
        c["shuffle.fetch_wait_s"] += sr["Fetch Wait Time"] / 1000.0
        c["shuffle.spill_bytes"] += m["Disk Bytes Spilled"]
        c["sources.bytes_read"] += m["Input Metrics"]["Bytes Read"]
        c["sources.records_read"] += m["Input Metrics"]["Records Read"]
        c["driver.result_bytes"] += m["Result Size"]
        c["writer.bytes_written"] += m["Output Metrics"]["Bytes Written"]
        for acc in info.get("Accumulables", []):
            name = PYTHON_METRICS.get(acc.get("Name"))
            if name is None or acc.get("Update") is None:
                continue
            value = float(acc["Update"])
            # timing metrics arrive in milliseconds, sizes in bytes
            c[name] += value / 1e3 if name.endswith("_s") else value

    def op(self, key: str) -> dict:
        """Counters of one operation, every counter present."""
        got = self.counters.get(key, {})
        return {name: got.get(name, 0.0) for name in COUNTERS}
