"""foreachBatch MERGE writer (SURVEY §2.7 ap01-ap05, streaming side).

Per micro-batch (the 5 s trigger replaces the reference's Oracle
Scheduler job, st04):

1. per-key batch reduction — ``strategy="last_wins"`` (default: the
   newest row per key decides, s01/ap01 semantics) or
   ``strategy="net"`` (ap08's net_effect compaction: replay-exact ap06
   semantics at any batch granularity, each key still written once),
2. MERGE into the base table (ap01): the state table is hash-bucketed
   by pk into ``n_buckets`` parquet directories (``bucket=K/``), and a
   batch rewrites ONLY the buckets that contain changed keys — the
   plain-parquet analog of the reference's row-level MERGE
   (poc/tobe-oracle/init/04_create_procedures.sql:184-232). With
   Delta/Iceberg available the same step is a real ``MERGE INTO``; the
   join logic is byte-identical (operators/apply.py::merge_final_state).
3. audit append (sink_audit_log) + TARGET_NOT_FOUND log (ap03), written
   idempotently into a per-batch partition.

Scale: a batch touching k distinct keys rewrites at most
min(k, n_buckets) buckets — i.e. ~(k / n_buckets) of the table instead
of all of it — and writes one parquet file per touched bucket plus one
audit file, whatever the join's parallelism (``cluster_by_bucket``). A
bucket is therefore written by one task: at 100 TB you raise
``n_buckets`` (or switch to Delta row-level MERGE + deletion vectors)
so each bucket, and each rewrite, stays bounded. The reference's
per-row commits (04_create_procedures.sql:99) have no scale path at
all.

Replay/crash semantics (at-least-once foreachBatch made effectively
exactly-once):

* audit — written with ``mode=overwrite`` into ``batch_id=<B>/``, so a
  replayed batch replaces its own audit partition instead of appending
  duplicates.
* state — each touched bucket directory is swapped via rename (atomic
  on a POSIX filesystem); a crash mid-batch leaves some buckets new and
  some old, and the replay re-derives the same merged result because
  the MERGE is idempotent (last-wins upsert; DELETE of a missing key is
  a no-op, ap04). A crash BETWEEN a swap's two renames leaves a bucket
  only as ``.old.bucket=K``; ``_recover_buckets`` renames it back
  before any state read, so the replay always sees pre-batch state.
* known bounded deviation: audit statuses are computed against the
  pre-batch state, so a replay AFTER a partial swap can reclassify a
  DELETE as TARGET_NOT_FOUND (the row is already gone). Status strings
  may differ on that narrow path; row counts and final state do not.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def reduce_batch(changes: DataFrame, strategy: str) -> DataFrame:
    """Per-key batch reduction shared by ParquetMergeWriter and the
    Delta-gated DeltaMergeWriter (streaming/delta_writer.py), so the
    two MERGE backends can never drift on WHAT gets merged — only HOW.
    Returns one row per key: (cdc_seq, pk, operation, val, first_op).

    ``last_wins``: the newest row per key decides (s01/ap01 semantics).
    ``net``: ap08's net_effect — each key's in-batch op sequence
    compacts to its replay-exact net op; the key's LAST real cdc_seq
    rides along so audit rows keep a joinable sequence number (same
    key, same shuffle — the extra agg shares the pk exchange), and
    first_op rides along so a net DELETE of a key CREATED in the same
    batch is not audited TARGET_NOT_FOUND."""
    if strategy == "net":
        from cdc_sync_poc_spark.operators.apply import net_effect

        rows = changes.select("cdc_seq", "pk", "operation", "val")
        last_seq = rows.groupBy("pk").agg(F.max("cdc_seq").alias("cdc_seq"))
        return (
            net_effect(rows)
            .join(last_seq, "pk")
            .select(
                "cdc_seq",
                "pk",
                F.col("net_op").alias("operation"),
                F.col("net_val").alias("val"),
                "first_op",
            )
        )
    w = Window.partitionBy("pk").orderBy(F.desc("cdc_seq"))
    return (
        changes.select("cdc_seq", "pk", "operation", "val")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        # last-wins audits the literal surviving op; no net algebra,
        # so no in-batch-creation exemption applies
        .withColumn("first_op", F.lit(None).cast("string"))
    )


def pk_bucket_col(col: F.Column, n_buckets: int) -> F.Column:
    """Deterministic pk bucket (stable across batches/retries/engines)
    — the ONE definition of the bucketed-state layout, shared by
    ParquetMergeWriter and the SCD2 writer's bucketed open store so
    the two can never drift apart."""
    return F.pmod(F.xxhash64(col.cast("long")), F.lit(n_buckets))


def cluster_by_bucket(df: DataFrame) -> DataFrame:
    """Route all rows of a ``bucket`` to one task, so the
    ``write.partitionBy("bucket")`` that follows writes each bucket as
    ONE file instead of one per upstream partition (a pk-hash join
    spreads every bucket over all of its partitions). Shared by both
    bucketed stores; AQE coalesces the small post-shuffle partitions,
    and never splits a bucket across two."""
    return df.repartition("bucket")


# The declared state schema (``bucket`` is the partition column). State
# reads use it instead of inferring it from parquet footers, which costs
# a Spark job per read and fails outright once every bucket has merged
# to empty and only ``_SUCCESS`` is left.
STATE_SCHEMA = "pk long, name string, acctbal double, bucket int"


class ParquetMergeWriter:
    """MERGE-into-parquet state maintainer for foreachBatch, with
    pk-hash-bucketed state so each batch rewrites only touched buckets."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        audit_dir: str,
        n_buckets: int = 16,
        strategy: str = "last_wins",
    ):
        if strategy not in ("last_wins", "net"):
            raise ValueError(f"unknown merge strategy: {strategy}")
        self.spark = spark
        self.state_dir = state_dir
        self.audit_dir = audit_dir
        self.n_buckets = n_buckets
        # "last_wins": ap01 semantics — the newest row per key decides
        #   (in-batch chains collapse; the documented batch-MERGE form).
        # "net": ap08's net_effect — each key's in-batch op SEQUENCE
        #   compacts to its replay-exact net op (ap06 semantics at any
        #   batch granularity; see test_writer_net_strategy_matches_
        #   sequential_replay). Same merge join either way: the net op
        #   vocabulary {UPSERT, UPDATE, DELETE} flows through the
        #   last-wins CASE logic unchanged (UPSERT = unconditional
        #   create-or-update, exactly how INSERT is treated).
        self.strategy = strategy

    def _bucket(self, col: F.Column) -> F.Column:
        """Deterministic bucket for a pk (stable across batches/retries)."""
        return pk_bucket_col(col, self.n_buckets)

    def init_state(self, base: DataFrame) -> None:
        self._write_state(
            base.select(
                F.col("c_custkey").alias("pk"),
                F.col("c_name").alias("name"),
                F.col("c_acctbal").alias("acctbal"),
            ),
            self.state_dir,
        )

    def _write_state(self, rows: DataFrame, path: str) -> None:
        """Write (pk, name, acctbal) rows bucketed under ``path``, one
        file per bucket, typed as ``STATE_SCHEMA`` declares."""
        (
            cluster_by_bucket(
                rows.select(
                    F.col("pk").cast("long"),
                    F.col("name").cast("string"),
                    F.col("acctbal").cast("double"),
                    self._bucket(F.col("pk")).alias("bucket"),
                )
            )
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(path)
        )

    def _read_state(self) -> DataFrame:
        return self.spark.read.schema(STATE_SCHEMA).parquet(self.state_dir)

    def current_state(self) -> DataFrame:
        self._recover_buckets()
        return self._read_state().drop("bucket")

    def _recover_buckets(self) -> None:
        """Repair a crash that landed between the two renames of a swap:
        rename(live -> .old) succeeded but rename(new -> live) did not,
        so the bucket's data exists ONLY as ``.old.bucket=K`` (hidden
        from the parquet reader — its keys would silently vanish from
        the next merge). Restore such buckets by renaming them back;
        delete ``.old`` only when the live dir exists (crash after the
        second rename, where ``.old`` is a true leftover). Runs before
        every state read so the documented replay idempotence holds."""
        if not os.path.isdir(self.state_dir):
            return
        for entry in os.listdir(self.state_dir):
            if not entry.startswith(".old.bucket="):
                continue
            old = os.path.join(self.state_dir, entry)
            live = os.path.join(self.state_dir, entry[len(".old.") :])
            if os.path.exists(live):
                shutil.rmtree(old)
            else:
                os.rename(old, live)

    def _swap_buckets(self, tmp_dir: str, buckets: list[int]) -> None:
        """Replace each touched live bucket dir with the rewritten one.
        Per-bucket rename is atomic; untouched buckets are never opened,
        read, or rewritten. ``_recover_buckets`` ran before the state
        scan, so any ``.old`` seen here is from a crash that happened
        AFTER its live dir was restored or replaced — safe to drop."""
        for k in buckets:
            live = os.path.join(self.state_dir, f"bucket={k}")
            new = os.path.join(tmp_dir, f"bucket={k}")
            old = os.path.join(self.state_dir, f".old.bucket={k}")
            if os.path.exists(old):
                if os.path.exists(live):  # true leftover
                    shutil.rmtree(old)
                else:  # crashed mid-swap and not yet recovered
                    os.rename(old, live)
            if os.path.exists(live):
                os.rename(live, old)
            if os.path.exists(new):  # a bucket can merge to empty
                os.rename(new, live)
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp_dir, ignore_errors=True)

    def apply_batch(self, changes: DataFrame, batch_id: int) -> None:
        """The foreachBatch body: crash recovery -> last-wins ->
        bucket-pruned merge -> idempotent audit -> atomic bucket swap."""
        from cdc_sync_poc_spark.streaming.util import persisted

        self._recover_buckets()
        with persisted(
            reduce_batch(changes, self.strategy).withColumn(
                "bucket", self._bucket(F.col("pk"))
            )
        ) as last:
            self._apply_reduced(last, batch_id)

    def _apply_reduced(self, last: DataFrame, batch_id: int) -> None:
        touched = sorted(r.bucket for r in last.select("bucket").distinct().collect())
        if not touched:
            return

        # partition pruning: the filter on the partition column means the
        # scan lists/reads ONLY the touched bucket directories
        state = self._read_state().filter(
            F.col("bucket").isin([int(b) for b in touched])
        )
        j = state.join(last, state.pk == last.pk, "full_outer")
        s_pk, l_pk = state.pk, last.pk
        keep = ~((F.col("operation") == "DELETE") & l_pk.isNotNull()).eqNullSafe(
            True
        ) & ~(s_pk.isNull() & (F.col("operation") == "UPDATE")).eqNullSafe(True)
        untouched = l_pk.isNull()
        merged = j.filter(keep).select(
            F.coalesce(s_pk, l_pk).alias("pk"),
            F.when(untouched, F.col("name"))
            .otherwise(F.concat(F.lit("U"), l_pk.cast("string")))
            .alias("name"),
            F.when(untouched, F.col("acctbal")).otherwise(F.col("val")).alias(
                "acctbal"
            ),
        )
        tmp = f"{self.state_dir}.tmp-batch-{batch_id}"
        self._write_state(merged, tmp)

        # audit BEFORE swapping state (the plan scans the pre-batch state
        # lazily); each key's DECIDING row gets a status — the last-wins
        # survivor, or the net op carrying the key's last cdc_seq
        # (sink_audit_log's per-row form is the batch sink; here the
        # audit is per applied decision):
        # UPDATE/DELETE on a missing key -> TARGET_NOT_FOUND (ap03),
        # everything else -> SUCCESS (INSERT on an existing key is the
        # ap02 dup->update path, still SUCCESS). Under strategy='net' a
        # net DELETE whose first op was INSERT means the key was created
        # AND deleted inside this batch: the sequential replay it claims
        # parity with would log INSERT=SUCCESS then DELETE=SUCCESS, so
        # the compacted decision is audited SUCCESS too, not
        # TARGET_NOT_FOUND (ADVICE r4). A batch key's state row
        # necessarily lives in a touched bucket, so the pruned state is
        # sufficient for the existence check. mode=overwrite into the
        # per-batch partition dir makes replays idempotent.
        state_keys = state.select(F.col("pk").alias("state_pk"))
        created_in_batch = F.coalesce(
            F.col("first_op") == "INSERT", F.lit(False)
        )
        audit = last.join(
            state_keys, last.pk == state_keys.state_pk, "left"
        ).select(
            "cdc_seq",
            "pk",
            "operation",
            F.when(
                F.col("operation").isin("UPDATE", "DELETE")
                & F.col("state_pk").isNull()
                & ~created_in_batch,
                "TARGET_NOT_FOUND",
            )
            .otherwise("SUCCESS")
            .alias("status"),
        )
        # one audit file per batch; repartition, not coalesce, so the
        # existence join keeps its parallelism when state is not broadcast
        audit.repartition(1).write.mode("overwrite").parquet(
            os.path.join(self.audit_dir, f"batch_id={batch_id}")
        )

        self._swap_buckets(tmp, touched)


def run_stream_pipeline(
    spark: SparkSession,
    events_path: str,
    base: DataFrame,
    out_dir: str,
    trigger: dict | None = None,
    dedup: str = "watermark",
    strategy: str = "last_wins",
):
    """Wire source -> cdc view -> loop dedup -> foreachBatch merge.
    Returns the started StreamingQuery. Default trigger availableNow for
    tests; production uses processingTime='5 seconds' (st04).

    dedup: 'watermark' (built-in first-seen-wins, production default),
    'stateful' (applyInPandasWithState, exact sequential semantics with
    blocked rows dropped before the merge), or 'none' (no loop dedup —
    required for strategy='net' sequential parity, since dropping
    equal-hash rows can flip a net classification).

    strategy: forwarded to ParquetMergeWriter — 'last_wins' (ap01) or
    'net' (ap06-exact compaction)."""
    from cdc_sync_poc_spark.streaming.dedup import stateful_dedup, watermark_dedup
    from cdc_sync_poc_spark.streaming.source import file_event_stream, stream_cdc_view

    if dedup not in ("watermark", "stateful", "none"):
        raise ValueError(f"unknown dedup mode: {dedup}")
    writer = ParquetMergeWriter(
        spark,
        state_dir=os.path.join(out_dir, "state"),
        audit_dir=os.path.join(out_dir, "audit"),
        strategy=strategy,
    )
    writer.init_state(base)
    cdc = stream_cdc_view(file_event_stream(spark, events_path))
    if dedup == "stateful":
        deduped = stateful_dedup(cdc).filter("NOT loop_blocked").drop("loop_blocked")
    elif dedup == "none":
        deduped = cdc
    else:
        deduped = watermark_dedup(cdc)
    q = (
        deduped.writeStream.foreachBatch(writer.apply_batch)
        .option("checkpointLocation", os.path.join(out_dir, "checkpoint"))
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
    return q, writer
