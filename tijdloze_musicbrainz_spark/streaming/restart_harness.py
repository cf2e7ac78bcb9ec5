"""Shared injected-failure + checkpoint-restart driver for the
streaming restart proofs (r10 verdict item 8 — the lifecycle
scaffolding the index tiers were implementing separately).

The three streaming index maintainers prove the same operability
contract: a micro-batch ingest can die on a TORN COMMIT (the batch's
transaction committed, the Structured Streaming offset NOT) and a
restart from the same checkpoint replays that batch with no effect on
the final store. Each proof's callback is its tier's own committed
write, the one its clean ingest uses, and each is an idempotent sink:
`streaming_ann_ingest_restart` (plans/similarity/pq_lifecycle.py,
`_pq_ingest_batch`) and `streaming_cluster_ingest_restart`
(plans/cc_index.py, `_ingest_and_merge_generation`) run one snapshot-
committed generation per micro-batch, which a replay of an already
committed generation leaves untouched; `streaming_minhash_ingest_restart`
(streaming/jobs.py) runs a batch-id-priority manifest MERGE, which a
replay re-resolves to the same winners. The proof driver — stage
files, 1 file per trigger, crash after the target batch's write,
assert the failure fired, restart from the same checkpoint, drain —
is identical; only the per-batch ingest write differs, so it is the
callback.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

CRASH_MSG = "injected post-write pre-commit failure"


def ingest_with_injected_restart(
    spark: SparkSession,
    schema,
    stage: str,
    checkpoint: str,
    ingest: Callable[[DataFrame, int], None],
    crash_after_batch: int = 1,
) -> None:
    """Run a staged file stream through ``ingest`` with a torn commit
    injected once, then restart from the same checkpoint and drain.

    ``ingest(batch_df, batch_id)`` must be an IDEMPOTENT write (replay
    of the same batch id may not change the final store) — that is the
    property under proof. The injected failure fires AFTER the crash
    batch's ingest completes but BEFORE the offset commit (the worst
    point: data landed, progress did not). Raises if the failure does
    not fire (a stale checkpoint would make the proof vacuous).
    """
    from pyspark.errors import StreamingQueryException  # noqa: PLC0415

    crash = {"armed": True}

    def guarded(batch_df: DataFrame, batch_id: int) -> None:
        ingest(batch_df, batch_id)
        if crash["armed"] and batch_id == crash_after_batch:
            crash["armed"] = False
            raise RuntimeError(CRASH_MSG)

    try:
        drain(spark, schema, stage, checkpoint, guarded)
        raise AssertionError("injected failure did not fire")
    except StreamingQueryException as exc:
        if CRASH_MSG not in str(exc):
            raise
    # restart from the SAME checkpoint: the crash batch replays
    # (idempotent write), remaining batches drain, availableNow stops
    drain(spark, schema, stage, checkpoint, guarded)


def drain(
    spark: SparkSession,
    schema,
    stage: str,
    checkpoint: str,
    ingest: Callable[[DataFrame, int], None],
) -> None:
    """Drain the staged files at ``stage`` through ``ingest`` one file
    per micro-batch (maxFilesPerTrigger=1, availableNow), resuming from
    ``checkpoint``."""
    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
