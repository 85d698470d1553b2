"""Streaming SCD Type-2 history writer (the foreachBatch twin of batch
``ap07_scd2_history``, operators/scd.py:47).

The reference's apply path keeps only current rows plus a log
(poc/tobe-oracle/init/04_create_procedures.sql:184-232 is
history-destroying); SCD2 is the standard lake-side upgrade. The batch
operator re-derives the whole version table from the full changelog;
this writer maintains the same table INCREMENTALLY, one micro-batch at
a time, with the invariant (tested in tests/test_streaming.py):

    history after processing batches 0..N  ==  ap07 over events 0..N

Design — closed rows are immutable, so split the state:

* ``closed/batch_id=B/`` — versions whose closing event has been seen.
  A version closes at most once, in the batch that delivers its
  successor event, so closed rows are APPEND-ONLY; each batch writes
  its own partition with mode=overwrite, making replays idempotent
  (same recipe as the merge writer's audit partitions).
* ``open`` (SwapStore, streaming/swapstore.py) — at most one open
  version per live pk, plus a sentinel row (pk IS NULL) carrying
  ``committed_batch``: the id of the last batch whose swap completed.
  The sentinel makes the commit marker survive an empty open set (a
  changelog ending in DELETEs for every key).

Per batch: events for a pk are windowed together with that pk's open
version (re-injected as a pseudo-event ordered by its version_seq), the
``lead`` pass closes what got superseded, the last non-DELETE event per
pk stays open. Exactly-once: the closed partition is written BEFORE the
open swap, and a replayed batch whose marker says committed >= batch_id
returns immediately — so "swap committed" implies "closed written", and
a crash in any earlier window replays against the pre-batch open state
(SwapStore heals half-swaps) and rewrites identical output.

Ordering assumption (same as the merge writer): micro-batches deliver
each key's events in cdc_seq order across batches — true for a Kafka
key-partitioned topic and for the file source's ordered parts.

Scale: per batch the shuffle is (batch rows + open rows), keyed by pk.
The open set is one row per live key — the same scale as the merge
writer's state table; the 100 TB layout is the BUCKETED mode
(``n_buckets=N``): the open set hash-buckets by pk and a batch
rewrites only touched buckets as MVCC version dirs committed by an
atomic marker swap (see Scd2StreamWriter). Closed partitions compact
with the maintenance compactor (sources/maintenance.py) like any
append log.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_sync_poc_spark.streaming.util import persisted
from pyspark.sql import types as T

from cdc_sync_poc_spark.streaming.swapstore import SwapStore

_OPEN_SCHEMA = T.StructType(
    [
        T.StructField("version_seq", T.LongType()),
        T.StructField("pk", T.LongType()),
        T.StructField("val", T.DoubleType()),
        T.StructField("valid_from_ms", T.LongType()),
        T.StructField("committed_batch", T.LongType()),
    ]
)


class Scd2StreamWriter:
    """foreachBatch body maintaining an SCD2 version table incrementally.

    Two open-store layouts (identical history, pinned by
    tests/test_streaming.py::test_scd2_bucketed_matches_whole_swap):

    * whole-swap (default, ``n_buckets=None``): the open set + sentinel
      commit marker move in ONE atomic SwapStore swap per batch.
    * bucketed (``n_buckets=N`` — the module docstring's own 100 TB
      upgrade, VERDICT r8 #8): the open set hash-buckets by pk under
      ``scd2_open_buckets/bucket=K/v=B`` and a batch rewrites only the
      buckets containing changed keys. SCD2 replay is NOT
      merge-idempotent (re-running a batch against a half-advanced
      open set would re-close the new open versions), so bucket writes
      are MVCC: each batch writes its touched buckets as NEW ``v=B``
      version dirs, and a tiny marker SwapStore commits the batch
      atomically LAST. Readers select, per bucket, the newest version
      ``<= committed`` — a crash anywhere before the marker swap
      leaves the half-written ``v=B`` dirs invisible, and the replay
      recomputes them from exactly the pre-batch state. Superseded
      versions are pruned after the commit (they have no reader).
    """

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        n_buckets: int | None = None,
    ) -> None:
        if n_buckets is not None and n_buckets < 1:
            # 0 would make pmod NULL for every row and fail deep inside
            # the first batch; fail loudly at construction instead
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self.spark = spark
        self.closed_dir = os.path.join(out_dir, "scd2_closed")
        self.n_buckets = n_buckets
        if n_buckets is None:
            self.open_store = SwapStore(spark, out_dir, "scd2_open")
        else:
            self.buckets_dir = os.path.join(out_dir, "scd2_open_buckets")
            self.marker_store = SwapStore(spark, out_dir, "scd2_marker")

    # -- state reads ------------------------------------------------------

    def _bucket_col(self) -> F.Column:
        """Deterministic pk bucket — the shared layout definition
        (streaming/writer.py::pk_bucket_col), so this store and the
        merge writer's bucketed state can never drift apart."""
        from cdc_sync_poc_spark.streaming.writer import pk_bucket_col

        return pk_bucket_col(F.col("pk"), self.n_buckets)

    def _committed_marker(self) -> int | None:
        """The bucketed mode's committed batch id (None before any
        commit) — the one read of the marker store, shared by
        _open_state and the post-commit prune."""
        marker = self.marker_store.read()
        if marker is None:
            return None
        return marker.agg(F.max("committed_batch")).first()[0]

    def _committed_versions(self, committed: int) -> list[str]:
        """Per bucket, the path of its newest version <= committed
        (driver-side listing over <= n_buckets dirs, never row data)."""
        paths: list[str] = []
        if not os.path.isdir(self.buckets_dir):
            return paths
        for b in os.listdir(self.buckets_dir):
            if not b.startswith("bucket="):
                continue
            vs = [
                int(v.split("=", 1)[1])
                for v in os.listdir(os.path.join(self.buckets_dir, b))
                if v.startswith("v=") and int(v.split("=", 1)[1]) <= committed
            ]
            if vs:
                paths.append(
                    os.path.join(self.buckets_dir, b, f"v={max(vs)}")
                )
        return paths

    def _open_state(self) -> tuple[DataFrame, int | None]:
        """(open version rows, committed batch id or None if no commit yet)."""
        open_schema = T.StructType(_OPEN_SCHEMA.fields[:4])
        if self.n_buckets is not None:
            committed = self._committed_marker()
            if committed is None:
                return self.spark.createDataFrame([], open_schema), None
            paths = self._committed_versions(committed)
            if not paths:
                return self.spark.createDataFrame([], open_schema), committed
            return (
                self.spark.read.schema(open_schema).parquet(*paths),
                committed,
            )
        cur = self.open_store.read()
        if cur is None:
            empty = self.spark.createDataFrame([], _OPEN_SCHEMA)
            return empty.drop("committed_batch"), None
        committed = cur.agg(F.max("committed_batch")).first()[0]
        return (
            cur.filter(F.col("pk").isNotNull()).drop("committed_batch"),
            committed,
        )

    def history(self) -> DataFrame:
        """The full SCD2 table, ap07-shaped: (version_seq, pk, val,
        valid_from_ms, valid_to_ms, is_current)."""
        open_rows, _ = self._open_state()
        out = open_rows.select(
            "version_seq",
            "pk",
            "val",
            "valid_from_ms",
            F.lit(None).cast("long").alias("valid_to_ms"),
            F.lit(True).alias("is_current"),
        )
        if os.path.isdir(self.closed_dir):
            closed = (
                self.spark.read.parquet(self.closed_dir)
                .drop("batch_id")
                .withColumn("is_current", F.lit(False))
            )
            out = closed.unionByName(out)
        return out

    # -- the foreachBatch body -------------------------------------------

    def apply_batch(self, changes: DataFrame, batch_id: int) -> None:
        open_prev, committed = self._open_state()
        if committed is not None and committed >= batch_id:
            return  # fully-committed batch replayed after a checkpoint loss

        rows = changes.select(
            "cdc_seq",
            "pk",
            "operation",
            F.expr("unix_micros(ts) div 1000").alias("ts_ms"),
            "val",
        )
        batch_pks = rows.select("pk").distinct()
        # the open version re-enters the window as a pseudo-event: its
        # version_seq slots it BEFORE every batch event of its key (the
        # cross-batch ordering assumption), so lead() closes it with the
        # first successor exactly as the batch window would have
        pseudo = open_prev.join(batch_pks, "pk").select(
            F.col("version_seq").alias("cdc_seq"),
            "pk",
            F.lit("OPEN").alias("operation"),
            F.col("valid_from_ms").alias("ts_ms"),
            "val",
        )
        w = Window.partitionBy("pk").orderBy("cdc_seq")
        with persisted(
            pseudo.unionByName(rows)
            .select(
                "*",
                F.lead("ts_ms").over(w).alias("next_ms"),
                F.lead("cdc_seq").over(w).alias("next_seq"),
            )
            .filter(F.col("operation") != "DELETE")
        ) as vers:
            newly_closed = vers.filter(F.col("next_seq").isNotNull()).select(
                F.col("cdc_seq").alias("version_seq"),
                "pk",
                "val",
                F.col("ts_ms").alias("valid_from_ms"),
                F.col("next_ms").alias("valid_to_ms"),
            )
            # closed BEFORE swap: the commit marker then proves this
            # write
            newly_closed.write.mode("overwrite").parquet(
                os.path.join(self.closed_dir, f"batch_id={batch_id}")
            )

            new_open = vers.filter(F.col("next_seq").isNull()).select(
                F.col("cdc_seq").alias("version_seq"),
                "pk",
                "val",
                F.col("ts_ms").alias("valid_from_ms"),
            )
            kept = open_prev.join(batch_pks, "pk", "left_anti")
            if self.n_buckets is not None:
                self._commit_buckets(batch_pks, kept, new_open, batch_id)
            else:
                sentinel = self.spark.createDataFrame(
                    [(None, None, None, None)],
                    T.StructType(_OPEN_SCHEMA.fields[:4]),
                )
                open_next = (
                    kept.unionByName(new_open)
                    .unionByName(sentinel)
                    .withColumn(
                        "committed_batch", F.lit(batch_id).cast("long")
                    )
                )
                self.open_store.swap(open_next)

    def _commit_buckets(
        self,
        batch_pks: DataFrame,
        kept: DataFrame,
        new_open: DataFrame,
        batch_id: int,
    ) -> None:
        """MVCC bucket commit: write each touched bucket's post-batch
        open rows as a new ``v=batch_id`` version dir, then swap the
        marker. Only ``kept`` rows in TOUCHED buckets are rewritten —
        untouched buckets are never opened; a batch touching k keys
        rewrites at most min(k, n_buckets) buckets."""
        import shutil

        from cdc_sync_poc_spark.streaming.writer import cluster_by_bucket

        touched = sorted(
            r.b
            for r in batch_pks.select(self._bucket_col().alias("b"))
            .distinct()
            .collect()  # bounded by n_buckets
        )
        open_schema = T.StructType(_OPEN_SCHEMA.fields[:4])
        tmp = os.path.join(
            os.path.dirname(self.buckets_dir), f".scd2_open_tmp_b{batch_id}"
        )
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)  # crashed-attempt debris
        bucketed = (
            kept.unionByName(new_open)
            .withColumn("bucket", self._bucket_col())
            .filter(F.col("bucket").isin([int(b) for b in touched]))
        )
        # one file per touched bucket version, like the merge writer
        cluster_by_bucket(bucketed).write.partitionBy("bucket").parquet(tmp)
        for k in touched:
            src = os.path.join(tmp, f"bucket={k}")
            dst = os.path.join(self.buckets_dir, f"bucket={k}", f"v={batch_id}")
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.isdir(dst):
                shutil.rmtree(dst)  # replay of an uncommitted attempt
            if os.path.isdir(src):
                os.rename(src, dst)
            else:
                # every key in the bucket ended DELETEd: the new version
                # is EMPTY, and it must still supersede the old one
                self.spark.createDataFrame([], open_schema).coalesce(
                    1
                ).write.parquet(dst)
        shutil.rmtree(tmp, ignore_errors=True)
        # marker LAST: committing the batch atomically makes the new
        # versions visible (and proves the closed partition write)
        self.marker_store.swap(
            self.spark.createDataFrame(
                [(batch_id,)], "committed_batch long"
            )
        )
        # prune superseded versions (nothing selects them anymore). The
        # cutoff is the marker READ BACK from the store, not batch_id:
        # if the swap did not land (crash/failure), pruning against
        # batch_id would delete the still-live committed versions and
        # keep only uncommitted ones. Versions above the marker are
        # never touched (an uncommitted attempt owns them); a crash
        # mid-prune is harmless — survivors re-prune on any later batch.
        committed = self._committed_marker()
        if committed is None or not os.path.isdir(self.buckets_dir):
            # no commit yet, or an all-empty first batch never created
            # the buckets dir (touched was empty) — nothing to prune
            return
        keep = set(self._committed_versions(committed))
        for b in os.listdir(self.buckets_dir):
            if not b.startswith("bucket="):
                continue
            bdir = os.path.join(self.buckets_dir, b)
            for v in os.listdir(bdir):
                if not v.startswith("v="):
                    continue
                path = os.path.join(bdir, v)
                if int(v.split("=", 1)[1]) <= committed and path not in keep:
                    shutil.rmtree(path, ignore_errors=True)


def run_scd2_stream(
    spark: SparkSession,
    events_path: str,
    out_dir: str,
    trigger: dict | None = None,
    n_buckets: int | None = None,
):
    """Wire file source -> cdc view -> SCD2 history writer. Returns
    (StreamingQuery, writer); default availableNow trigger for tests."""
    from cdc_sync_poc_spark.streaming.source import file_event_stream, stream_cdc_view

    writer = Scd2StreamWriter(spark, out_dir, n_buckets=n_buckets)
    cdc = stream_cdc_view(file_event_stream(spark, events_path))
    q = (
        cdc.writeStream.foreachBatch(writer.apply_batch)
        .option("checkpointLocation", os.path.join(out_dir, "scd2_checkpoint"))
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
    return q, writer
