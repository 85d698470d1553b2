"""The ``cdc_stream`` workload: a closed-loop drain of seeded change files
through ``streaming.writer.run_stream_pipeline``.

The chain under test is file source -> ``stream_cdc_view`` ->
``watermark_dedup`` loop-guard -> foreachBatch ``ParquetMergeWriter``
MERGE into 16-bucket state. The source reads one file per trigger
(``maxFilesPerTrigger=1``), so one file is one micro-batch. The feeder
keeps at most ``BACKLOG`` unread files in the source directory: the next
file waits as soon as a batch ends, and a slower program receives fewer
files in the same window (closed loop). The drain rate is therefore the
sustainable rate of the apply path.

Correctness is checked against an independent DuckDB fold of the same
files, applied file by file (``fold_reference``).
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import sys
import time

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
# the repository's sf0.1 fixture (TESTDATA.md): the customer table is the
# base state, and the events are the change traffic: their event types,
# user ids, values and order are kept as they are
FIXTURE = os.path.join(HERE, "data", "sf0.1")
# One file is one micro-batch. At 24 changes a file touches about 12 of
# the 16 state buckets, a number that varies from file to file, so the
# writer's rewrite of only the touched buckets shows in
# writer.buckets_rewritten (at a few hundred changes every file touches
# all 16).
EVENTS_PER_FILE = 24
# event time a file covers: half the 5-minute loop window, so an echo in
# the next file repeats a change at most 5 minutes older than the file's
# own changes, and the loop guard's state, not lateness, drops it
FILE_SPAN_S = 150
# share of changes that come back as a loop echo: 69 of the reference's
# 171 production tables are synced in both directions (PAPER.md, 0.)
ECHO_SHARE = 69 / 171
# dedup state lives until the watermark (newest event time - 5 min) passes
# its event time + 5 min, about four files, so it has levelled off before
# the timed window. Micro-batches keep getting faster while the JIT
# compiles: from about 7 s for the first to 2.2-2.8 s for the fourth and
# about 2.1 s from the seventh on
WARMUP_FILES = 6
MAX_FILES = 60  # generated pool; several times what one run drains
BACKLOG = 2  # files in the source directory not yet applied
T0 = dt.datetime(2024, 1, 1)

# event_type -> operation, as stream_cdc_view maps it (any other type,
# such as the fixture's "error", is a DELETE)
_OPS = {
    "signup": "INSERT",
    "view": "INSERT",
    "click": "UPDATE",
    "purchase": "UPDATE",
}
_OTHER_OP = "DELETE"


def _change_hash_key(frame: pd.DataFrame) -> pd.Series:
    """What the loop guard's change hash covers: pk, operation, value."""
    op = frame["event_type"].map(_OPS).fillna(_OTHER_OP)
    value = frame["value"].map("{:.2f}".format)
    return (frame["user_id"] * 11).astype(str) + "|" + op + "|" + value


def generate(seed: int, out_dir: str) -> dict:
    """Write the pool of change files, cut from the events fixture.

    The seed picks where in the fixture the pool starts; from there the
    files take consecutive events, ``EVENTS_PER_FILE`` each, in event-id
    order. Only event time changes: file ``i`` is moved into
    ``[T0 + i * FILE_SPAN_S, T0 + (i + 1) * FILE_SPAN_S)``, keeping the
    events' order, so the watermark expires dedup state and the state
    size levels off. The fixture's user ids reach past the 15 000
    customers (``pk = user_id * 11``), so changes hit existing and new
    keys and the TARGET_NOT_FOUND path runs.

    Each file also carries the echoes of a seeded ``ECHO_SHARE`` of the
    previous file's changes: exact copies (same user, type, value, event
    time and props) under new event ids. A later change that repeats an
    earlier change hash in the pool is left out (the fixture repeats a
    hash in 0.07 % of its rows, days apart), so the echoes are the only
    repeats and which copy survives does not depend on when the watermark
    evicts state.
    """
    rng = np.random.default_rng(seed)
    events = pd.read_parquet(os.path.join(FIXTURE, "events.parquet")).sort_values("event_id")
    need = MAX_FILES * EVENTS_PER_FILE
    start = int(rng.integers(0, len(events) - 2 * need))
    pool = events.iloc[start : start + 2 * need]
    pool = pool[~_change_hash_key(pool).duplicated()].iloc[:need].reset_index(drop=True)

    files_dir = os.path.join(out_dir, "pool")
    os.makedirs(files_dir, exist_ok=True)
    n_echo = round(ECHO_SHARE * EVENTS_PER_FILE)
    next_id = int(events["event_id"].max()) + 1
    echo = None
    echo_counts = []
    paths = []
    for i in range(MAX_FILES):
        frame = pool.iloc[i * EVENTS_PER_FILE : (i + 1) * EVENTS_PER_FILE].copy()
        span = frame["ts"].iloc[-1] - frame["ts"].iloc[0]
        offs = (frame["ts"] - frame["ts"].iloc[0]) / max(span, pd.Timedelta(1, "us"))
        frame["ts"] = (
            pd.Timestamp(T0 + dt.timedelta(seconds=i * FILE_SPAN_S))
            + pd.to_timedelta(offs * (FILE_SPAN_S - 1), unit="s")
        ).dt.floor("us")
        picked = frame.iloc[np.sort(rng.choice(EVENTS_PER_FILE, n_echo, replace=False))]
        if echo is not None:
            echo["event_id"] = np.arange(next_id, next_id + len(echo), dtype=np.int64)
            next_id += len(echo)
            frame = pd.concat([frame, echo], ignore_index=True)
        echo_counts.append(len(frame) - EVENTS_PER_FILE)
        echo = picked.copy()
        frame["ts"] = frame["ts"].astype("datetime64[us]").dt.tz_localize("UTC")
        path = os.path.join(files_dir, f"changes-{i:05d}.parquet")
        frame.to_parquet(path, index=False)
        paths.append(path)
    return {"base": os.path.join(FIXTURE, "customer.parquet"), "files": paths,
            "echoes": echo_counts}


def fold_reference(con, base_path: str, files: list[str]) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Independent DuckDB fold of the applied files, file by file.

    Loop guard: a change whose (pk, operation, value) was seen in an
    earlier row is an echo and is dropped. Per file the newest change per
    key decides (last wins); the MERGE then upserts INSERTs, updates
    existing keys, drops UPDATEs of missing keys (TARGET_NOT_FOUND) and
    deletes DELETEs. Returns (final state, audit rows).
    """
    kinds = ", ".join(f"('{t}', '{op}')" for t, op in _OPS.items())
    listed = ", ".join(f"'{p}'" for p in files)
    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE ref_changes AS
        WITH raw AS (
          SELECT *, user_id * 11 AS pk,
                 CAST(regexp_extract(filename, 'changes-([0-9]+)', 1) AS INTEGER) AS file_no
          FROM read_parquet([{listed}], filename = true)
        ), typed AS (
          SELECT raw.*, coalesce(k.op, '{_OTHER_OP}') AS operation
          FROM raw LEFT JOIN (VALUES {kinds}) AS k(t, op) ON raw.event_type = k.t
        )
        SELECT * FROM typed
        QUALIFY row_number() OVER (
          PARTITION BY pk, operation, printf('%.2f', value)
          ORDER BY file_no, event_id) = 1
        """
    )
    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE ref_state AS
        SELECT c_custkey AS pk, c_name AS name, c_acctbal AS acctbal
        FROM read_parquet('{base_path}')
        """
    )
    audits = []
    for file_no in sorted(
        r[0] for r in con.execute("SELECT DISTINCT file_no FROM ref_changes").fetchall()
    ):
        con.execute(
            f"""
            CREATE OR REPLACE TEMP TABLE ref_last AS
            SELECT event_id AS cdc_seq, pk, operation, value AS val
            FROM ref_changes WHERE file_no = {file_no}
            QUALIFY row_number() OVER (PARTITION BY pk ORDER BY event_id DESC) = 1
            """
        )
        audits.append(
            con.execute(
                f"""
                SELECT l.cdc_seq, l.pk, l.operation, {file_no} AS file_no,
                       CASE WHEN l.operation IN ('UPDATE', 'DELETE') AND s.pk IS NULL
                            THEN 'TARGET_NOT_FOUND' ELSE 'SUCCESS' END AS status
                FROM ref_last l LEFT JOIN ref_state s USING (pk)
                """
            ).df()
        )
        con.execute(
            """
            CREATE OR REPLACE TEMP TABLE ref_state AS
            SELECT pk, name, acctbal FROM ref_state
            WHERE pk NOT IN (SELECT pk FROM ref_last)
            UNION ALL
            SELECT l.pk, 'U' || CAST(l.pk AS VARCHAR), l.val
            FROM ref_last l LEFT JOIN ref_state s USING (pk)
            WHERE l.operation = 'INSERT'
               OR (l.operation = 'UPDATE' AND s.pk IS NOT NULL)
            """
        )
    state = con.execute("SELECT * FROM ref_state").df()
    return state, pd.concat(audits, ignore_index=True)


class Feeder:
    """Moves pool files into the watched source directory, in order.

    A file is written elsewhere and renamed in, so the source never sees
    a partial file; its mtime is set to its position so the source's
    oldest-first order is the pool order.
    """

    def __init__(self, pool: list[str], src_dir: str):
        self.pool = pool
        self.src_dir = src_dir
        self.fed = 0
        os.makedirs(src_dir, exist_ok=True)

    def feed(self) -> None:
        path = self.pool[self.fed]
        epoch = 1_600_000_000 + self.fed
        os.utime(path, (epoch, epoch))
        os.rename(path, os.path.join(self.src_dir, os.path.basename(path)))
        self.fed += 1

    def applied_paths(self) -> list[str]:
        return [
            os.path.join(self.src_dir, os.path.basename(p)) for p in self.pool[: self.fed]
        ]


def _data_batches(q) -> list:
    return [p for p in q.recentProgress if p.numInputRows > 0]


def drain(q, feeder: Feeder, keep_feeding, poll_s: float = 0.02,
          timeout_s: float = 150.0) -> list:
    """Feed files while ``keep_feeding(batches)`` holds, keeping at most
    ``BACKLOG`` unapplied files in the source; then wait until every fed
    file is applied. Returns the progress of every data batch so far."""
    deadline = time.perf_counter() + timeout_s
    last_id = None
    batches = _data_batches(q)
    while True:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        last = q.lastProgress
        if last is not None and last.batchId != last_id:
            last_id = last.batchId
            batches = _data_batches(q)
        feeding = keep_feeding(batches)
        while (feeding and feeder.fed - len(batches) < BACKLOG
               and feeder.fed < len(feeder.pool)):
            feeder.feed()
            feeding = keep_feeding(batches)
        if not feeding and len(batches) >= feeder.fed:
            return batches
        if time.perf_counter() > deadline:
            raise TimeoutError("stream drain did not finish")
        time.sleep(poll_s)


def _batch_times(p) -> tuple[float, float]:
    """(start, end) of a micro-batch in epoch seconds, JVM clock."""
    start = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    start_s = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start_s, start_s + p.durationMs["triggerExecution"] / 1000.0


def trace_records(log, timed: list, pool_bytes: list[int], echoes: list[int],
                  buckets: dict[int, int], first_file: int) -> list[dict]:
    """One record per timed micro-batch: its progress phases, state size,
    loop-guard drops, and the jobs and counters of its batch id."""
    from layers import clock_check

    out = []
    for i, p in enumerate(timed):
        d = p.durationMs
        trigger_s = d["triggerExecution"] / 1000.0
        lo, hi = _batch_times(p)
        jobs = log.jobs.get(f"batch:{p.batchId}", [])
        phases = (d.get("queryPlanning", 0), d.get("latestOffset", 0) + d.get("getBatch", 0)
                  + d.get("walCommit", 0), d.get("addBatch", 0), d.get("commitOffsets", 0))
        dedup = p.stateOperators[0]
        out.append({
            "op": f"batch:{p.batchId}", "start": lo, "total_s": trigger_s,
            "input_rows": p.numInputRows,
            **log.op(f"batch:{p.batchId}"),
            **clock_check(jobs, lo, hi, trigger_s),
            "phase_error": abs(sum(phases) - d["triggerExecution"]) / d["triggerExecution"],
            "streaming.plan_ms": phases[0],
            "streaming.offsets_ms": phases[1],
            "streaming.add_batch_ms": phases[2],
            "streaming.commit_ms": phases[3],
            "streaming.dedup_state_rows": dedup.numRowsTotal,
            "streaming.dedup_state_bytes": dedup.memoryUsedBytes,
            "dropped_rows": p.numInputRows - dedup.numRowsUpdated,
            "injected_echoes": echoes[first_file + i],
            "input_bytes": pool_bytes[first_file + i],
            "writer.buckets_rewritten": buckets.get(p.batchId, 0),
        })
    return out


def run(args, work: str) -> dict:
    import duckdb

    from harness import live_heap_mb, start_spark, stop_spark

    gen = generate(args.seed, os.path.join(work, "gen"))
    pool_bytes = [os.path.getsize(f) for f in gen["files"]]
    src = os.path.join(work, "source")
    sink = os.path.join(work, "sink")
    t0 = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    try:
        from cdc_sync_poc_spark.registry import load_all_queries
        from cdc_sync_poc_spark.streaming.writer import pk_bucket_col, run_stream_pipeline

        load_all_queries()
        feeder = Feeder(gen["files"], src)
        base = spark.read.parquet(gen["base"])
        q, writer = run_stream_pipeline(
            spark, src, base, sink, trigger={"processingTime": "0 seconds"}
        )
        try:
            warm = drain(q, feeder, lambda b: feeder.fed < WARMUP_FILES)
            setup_s = time.perf_counter() - t0
            t1 = time.perf_counter()

            def in_window(batches: list) -> bool:
                # feed a file only if it should be applied inside the window
                last_s = batches[-1].durationMs["triggerExecution"] / 1000.0
                queued = feeder.fed - len(batches)
                return time.perf_counter() - t1 + queued * last_s < args.seconds

            batches = drain(q, feeder, in_window)
            heap_mb = live_heap_mb(spark)
        finally:
            q.stop()
        timed = batches[len(warm):]
        spans = [_batch_times(p) for p in timed]
        wall = spans[-1][1] - spans[0][0]
        events = sum(p.numInputRows for p in timed)
        # drain rate of each timed batch over its cycle: from the end of
        # the batch before it (the last warm-up batch for the first) to
        # its own end
        ends = [_batch_times(p)[1] for p in batches[len(warm) - 1:]]
        rates = [p.numInputRows / (b - a) for p, a, b in zip(timed, ends, ends[1:])]
        lat = [p.durationMs["triggerExecution"] / 1000.0 for p in timed]

        # correctness, outside the timed window
        state = writer.current_state().toPandas()
        audit_frame = spark.read.parquet(writer.audit_dir)
        audit = audit_frame.toPandas()
        buckets = {}
        if args.trace:
            from pyspark.sql import functions as F

            buckets = {
                r[0]: r[1]
                for r in audit_frame.groupBy("batch_id")
                .agg(F.countDistinct(pk_bucket_col(F.col("pk"), writer.n_buckets)))
                .collect()
            }
        ref_state, ref_audit = fold_reference(
            duckdb.connect(), gen["base"], feeder.applied_paths()
        )
    finally:
        stop_spark(spark)

    failed = 0
    for i, p in enumerate(batches):
        got = audit[audit.batch_id == p.batchId].drop(columns="batch_id")
        want = ref_audit[ref_audit.file_no == i].drop(columns="file_no")
        failed += not _matches(got, want)
    failed += not _matches(state, ref_state)
    result = {
        "attempted": len(batches) + 1,
        "failed": failed,
        "e2e": {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "throughput_per_s": (statistics.median(rates), "1/s"),
            "live_heap_mb": (heap_mb, "MB"),
        },
        "diag": {
            "warmup_batches": len(warm),
            "timed_batches": len(timed),
            "timed_events": events,
            "timed_wall_s": wall,
            "batch_s": lat,
        },
    }
    if args.trace:
        from layers import EventLog, clock_totals, layer_metrics

        log = EventLog(os.path.join(work, "eventlog"))
        records = trace_records(log, timed, pool_bytes, gen["echoes"], buckets, len(warm))
        result["records"] = records
        state_rows = [r["streaming.dedup_state_rows"] for r in records]
        state_bytes = [r["streaming.dedup_state_bytes"] for r in records]
        result["layers"] = layer_metrics(records, {
            "registry.build_s": 0.0,
            "streaming.dedup_state_rows": statistics.median(state_rows),
            "streaming.dedup_state_bytes": statistics.median(state_bytes),
            "streaming.loop_drop_ratio": sum(r["dropped_rows"] for r in records)
            / sum(r["injected_echoes"] for r in records),
            "writer.write_amplification": sum(r["writer.bytes_written"] for r in records)
            / sum(r["input_bytes"] for r in records),
            **clock_totals(records),
            "trace.phase_error_max": max(r["phase_error"] for r in records),
            "trace.op_p50_s": statistics.median(lat),
        })
    return result


def _matches(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    from harness import compare_frames

    try:
        compare_frames(got.reset_index(drop=True), want.reset_index(drop=True))
    except AssertionError as ex:
        print(f"# mismatch: {str(ex)[:300]}", file=sys.stderr)
        return False
    return True
