"""The benchmark's own tests: the timed action, the warm-pass guard, the
change generator and the reference fold.

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import random
import shutil
import sys

import duckdb
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import batch_work  # noqa: E402
import stream_work  # noqa: E402
from layers import clipped, clock_check, union_length  # noqa: E402


class _Recorder:
    """Stands in for a DataFrame and records the action taken on it."""

    def __init__(self):
        self.calls = []

    @property
    def write(self):
        self.calls.append("write")
        return self

    def format(self, fmt):
        self.calls.append(f"format:{fmt}")
        return self

    def mode(self, mode):
        self.calls.append(f"mode:{mode}")
        return self

    def save(self, *args):
        self.calls.append("save")

    def count(self):
        raise AssertionError("a timed execution must not be a count()")

    def collect(self):
        raise AssertionError("a timed execution must not collect")


def test_timed_execution_is_a_noop_sink_materialization():
    df = _Recorder()
    build_s, total_s = batch_work.timed_execution(None, lambda spark, sf: df, "fixture")
    assert df.calls == ["write", "format:noop", "mode:overwrite", "save"]
    assert 0 <= build_s <= total_s


def test_union_length_and_clipping():
    spans = [(0.0, 1.0), (0.5, 2.0), (3.0, 4.0), (3.2, 3.5)]
    assert union_length(spans) == 3.0
    assert union_length(clipped(spans, 1.5, 3.5)) == 1.0
    assert union_length([]) == 0.0


def test_clock_check_reports_job_offsets_and_flags_no_jobs():
    # builder call 0..1, execution 1..4, jobs 1.5..2 and 2.5..3.5
    got = clock_check([(1.5, 2.0), (2.5, 3.5)], 1.0, 4.0, 4.0)
    assert got["driver.gap_s"] == 1.5 and got["clock_error"] == 0.0
    assert got["job_start_offset_s"] == 0.5 and got["job_end_offset_s"] == -0.5
    # a job that ends after the execution did: the clocks disagree
    skewed = clock_check([(1.5, 4.5)], 1.0, 4.0, 4.0)
    assert skewed["job_end_offset_s"] == 0.5 and skewed["clock_error"] > 0.1
    assert clock_check([], 1.0, 4.0, 4.0)["clock_error"] == 1.0


def test_generator_is_seeded_and_echoes_repeat_an_earlier_change(tmp_path):
    a = stream_work.generate(7, str(tmp_path / "a"))
    b = stream_work.generate(7, str(tmp_path / "b"))
    for fa, fb in zip(a["files"][:3], b["files"][:3]):
        pd.testing.assert_frame_equal(pd.read_parquet(fa), pd.read_parquet(fb))

    key = ["user_id", "event_type", "value", "ts", "props"]
    files = [pd.read_parquet(f) for f in a["files"]]
    n = stream_work.EVENTS_PER_FILE
    first, second = files[:2]
    assert len(first) == n and len(second) == n + a["echoes"][1] > n
    echoes = second.iloc[n:]
    # each echo is an exact copy of a change in the previous file, new id,
    # within the loop window of the file's own changes
    assert len(echoes.merge(first[key], on=key)) == len(echoes)
    assert echoes.event_id.min() > first.event_id.max()
    assert (second.ts.iloc[:n].max() - echoes.ts.min()) < pd.Timedelta(minutes=5)
    # genuine changes come from the fixture unchanged but for event time,
    # and never share a change hash; event time advances file by file
    genuine = pd.concat([f.iloc[:n] for f in files])
    fixture = pd.read_parquet(os.path.join(stream_work.FIXTURE, "events.parquet"))
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    assert len(genuine[cols].merge(fixture[cols])) == len(genuine)
    assert not stream_work._change_hash_key(genuine).duplicated().any()
    assert genuine.ts.is_monotonic_increasing
    # the keys hit existing customers and new ones
    pks = genuine.user_id * 11
    customers = len(pd.read_parquet(a["base"]))
    assert (pks < customers).any() and (pks >= customers).any()


def _changes(path, rows):
    frame = pd.DataFrame(
        rows, columns=["event_id", "user_id", "event_type", "value"]
    ).assign(ts=pd.Timestamp("2024-01-01", tz="UTC"), props=None)
    frame.to_parquet(path, index=False)
    return str(path)


def test_fold_reference_applies_files_in_order(tmp_path):
    base = tmp_path / "customer.parquet"
    pd.DataFrame(
        {"c_custkey": [11, 22, 33], "c_name": ["a", "b", "c"], "c_acctbal": [1.0, 2.0, 3.0]}
    ).to_parquet(base, index=False)
    files = [
        _changes(tmp_path / "changes-00000.parquet", [
            (0, 1, "click", 5.0),     # update pk 11
            (1, 1, "purchase", 6.0),  # same key, later: last wins
            (2, 2, "error", 7.0),     # delete pk 22
            (3, 4, "click", 8.0),     # update of missing pk 44: not found
        ]),
        _changes(tmp_path / "changes-00001.parquet", [
            (4, 1, "purchase", 6.0),  # echo of event 1: dropped
            (5, 2, "click", 9.0),     # update of deleted pk 22: not found
            (6, 5, "signup", 10.0),   # insert pk 55
        ]),
    ]
    state, audit = stream_work.fold_reference(duckdb.connect(), str(base), files)
    got = state.sort_values("pk").to_dict("records")
    assert got == [
        {"pk": 11, "name": "U11", "acctbal": 6.0},
        {"pk": 33, "name": "c", "acctbal": 3.0},
        {"pk": 55, "name": "U55", "acctbal": 10.0},
    ]
    status = dict(zip(audit.cdc_seq, audit.status))
    assert status == {1: "SUCCESS", 2: "SUCCESS", 3: "TARGET_NOT_FOUND",
                      5: "TARGET_NOT_FOUND", 6: "SUCCESS"}


@pytest.fixture(scope="module")
def traced_passes():
    """A cold pass and two warm passes of the curation workload with
    Spark's event log on."""
    import harness
    from layers import EventLog

    from cdc_sync_poc_spark.registry import load_all_queries

    work = os.path.join(HERE, "_work", f"test-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = harness.start_spark(work, traced=True)
    try:
        load_all_queries()

        def tracer(group):
            spark.sparkContext.setJobGroup(group, group)

        rng = random.Random(0)
        names = batch_work.CURATION
        outputs, _ = batch_work.cold_pass(spark, names, rng, harness.FIXTURE, tracer)
        assert not [n for n, o in outputs.items() if isinstance(o, Exception)]
        warm = [batch_work.timed_pass(spark, names, rng, harness.FIXTURE, f"p{i}", tracer)
                for i in range(2)]
    finally:
        harness.stop_spark(spark)
    log = EventLog(os.path.join(work, "eventlog"))
    yield log, warm
    shutil.rmtree(work, ignore_errors=True)


def test_warm_passes_repeat_task_counts_exactly(traced_passes):
    log, warm = traced_passes
    tasks = [{r["name"]: log.op(r["op"])["spark.tasks"] for r in recs} for recs in warm]
    assert tasks[0] == tasks[1]
    assert all(n > 0 for n in tasks[0].values())


def test_no_warm_pass_reuses_another_warm_execution(traced_passes):
    log, warm = traced_passes
    for recs in warm:
        for r in recs:
            owners = log.reused.get(r["op"], set())
            # output of the cold pass (set-up) may be reused, as the
            # session-shared caches are; output of a timed execution not
            assert all(o.startswith("cold:") for o in owners), (r["op"], owners)
