"""The NCA pipeline as a Structured Streaming job (SURVEY §2.9).

Reference topology → engine mapping:
- SQS queue between stages (T1)      → a watched inbox directory;
  each dropped parquet file of raw rows is one "message batch".
- Lambda worker per batch (T2)       → ``foreachBatch``: each
  micro-batch runs the pure cleaner and the idempotent store load.
- at-least-once + idempotent upsert (T6) → replays of a micro-batch
  converge because :meth:`NCAStore.load_batch` is idempotent; the
  checkpoint dir gives exactly-once file tracking on top.
- idle-detection teardown (T4/T5)    → ``trigger(availableNow=True)``
  drains the inbox and terminates — the 15-minute CloudWatch
  alarm dance (initialize_aws.py:487-513) becomes one flag.
- DLQ after 1 attempt (T1)           → cleaner failures in a batch
  quarantine that batch's rows to ``<store>/dlq`` instead of
  killing the stream (try/except dead-letter, same redrive shape).

Scale: the cleaner is shuffle-partitioned by release_id inside each
micro-batch; ``maxFilesPerTrigger`` bounds batch size the way the
reference bounds Lambda batch size (queue_batch_size=1,
initialize_aws.py:101). State lives in the store, not the stream —
no streaming aggregation state to size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from dbm_nca_ph_etl_spark.nca.cleaner import clean_raw_rows
from dbm_nca_ph_etl_spark.nca.schemas import RAW_ROWS_SCHEMA
from dbm_nca_ph_etl_spark.sinks.merge import NCAStore, append_parquet


def run_nca_pipeline(
    spark: SparkSession,
    inbox_dir: str,
    store: NCAStore,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    max_concurrency: int | None = None,
) -> StreamingQuery | None:
    """Stream raw-rows parquet drops from ``inbox_dir`` into the
    three-table store. Returns None after the inbox drains when
    ``available_now`` (the reference's teardown semantics); otherwise
    returns the started query, which runs until ``query.stop()`` (T5
    trigger-disable).

    ``max_concurrency`` is the T3 surface (reference: Lambda
    ``MaximumConcurrency: 40`` per event source,
    initialize_aws.py:82-102): it caps how many tasks process one
    micro-batch concurrently, by coalescing the batch to at most
    that many partitions before the cleaner runs — at most N
    "workers" per delivery, the same backpressure contract the
    reference enforces against its downstream database. Cluster-wide
    caps (spark.cores.max / dynamic-allocation maxExecutors) remain
    the deployment-level half; this is the per-feed half."""
    reader = spark.readStream.schema(RAW_ROWS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(inbox_dir)
    return run_nca_stream(
        raw,
        store,
        checkpoint_dir,
        available_now=available_now,
        max_concurrency=max_concurrency,
    )


def _is_cancellation(exc: Exception) -> bool:
    """True when a foreachBatch action failed because the QUERY was
    stopped — job-group cancellation (SPARK_JOB_CANCELLED) or the
    stop interrupting the stream thread mid-action
    (java.lang.InterruptedException) — not because the data is bad:
    the one failure class the DLQ must never swallow. Matching leans
    permissive: misreading a rare real failure as cancellation only
    re-raises it, so the batch retries under at-least-once instead
    of dead-lettering — the safe direction."""
    low = str(exc).lower()
    return "cancel" in low or "interrupt" in low


def run_nca_stream(
    raw: DataFrame,
    store: NCAStore,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    max_concurrency: int | None = None,
) -> StreamingQuery | None:
    """The same topology over ANY streaming source of raw rows — the
    S16/T1 contract is source-agnostic: :func:`run_nca_pipeline`
    feeds it a watched file inbox, tests also drive it from a
    ``rate-micro-batch`` source, and a deployment would pass a Kafka
    reader projected onto ``RAW_ROWS_SCHEMA``. The per-batch body
    (cleaner → idempotent store load, DLQ on failure) never sees the
    source.

    With ``available_now`` the call drains the source and returns
    None (teardown semantics, bounded sources); otherwise the started
    ``StreamingQuery`` is returned for the caller to manage (T5
    trigger lifecycle — stop it to disable the trigger)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # no emptiness probe: every action on batch_df rescans the
        # batch, and load_batch already returns on an empty batch
        if max_concurrency is not None:
            # coalesce, not repartition: narrows without a shuffle, and
            # can only REDUCE parallelism (a cap, never a fan-out)
            batch_df = batch_df.coalesce(int(max_concurrency))
        try:
            records, allocations = clean_raw_rows(batch_df)
            store.load_batch(records, allocations)
        except Exception as exc:
            if _is_cancellation(exc):
                # an orderly stop/shutdown cancelled the in-flight
                # batch — NOT a data failure: re-raise so the batch
                # stays uncommitted in the checkpoint and replays on
                # restart (dead-lettering it would break the
                # at-least-once contract for a healthy batch)
                raise
            # dead-letter the raw rows (maxReceiveCount:1 semantics)
            append_parquet(batch_df, os.path.join(store.base, "dlq"))

    writer = raw.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if not available_now:
        return writer.start()
    writer.trigger(availableNow=True).start().awaitTermination()
    return None
