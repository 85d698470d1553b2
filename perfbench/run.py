#!/usr/bin/env python3
"""Benchmark of the CDC sync engine: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run turns on Spark's event log, records spans around every call into the
program, writes one record per query execution or micro-batch under
``perfbench/_work/trace/`` and prints the per-layer metrics instead.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

WORKLOADS = ("cdc_stream", "batch_llm_curation")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test: fail here, before any output, when absent
    sys.path.insert(0, ROOT)
    import cdc_sync_poc_spark.registry  # noqa: F401
    import batch_work
    import stream_work
    from harness import MemorySampler, cpu_times, host_contention, steal_share

    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = {"start": host_contention()}
    since = cpu_times()
    try:
        with MemorySampler() as mem:
            if args.workload == "cdc_stream":
                out = stream_work.run(args, work)
            else:
                out = batch_work.run(args, work)
        host["end"] = {**host_contention(), "steal_share": steal_share(since)}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    diag = {
        "workload": args.workload, "seed": args.seed, "host": host,
        "peak_rss_mb_by_process": {k: v / 2**20 for k, v in mem.peak_parts.items()},
        **out["diag"],
    }
    if args.trace:
        metrics = out["layers"]
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({**diag, "records": out["records"], "totals": metrics,
                       "setup_totals": out.get("setup_layers", {})}, fh, indent=1)
        diag["trace_record"] = os.path.relpath(path, ROOT)
    else:
        metrics = {**out["e2e"], "peak_rss_mb": (mem.peak_bytes / 2**20, "MB")}
    print(json.dumps(diag))
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
