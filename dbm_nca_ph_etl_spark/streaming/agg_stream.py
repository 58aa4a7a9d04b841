"""Streaming incremental aggregation into the lake (matview twin).

Structured Streaming's own aggregation state lives in the state
store — great for in-flight windows, wrong for a *queryable lake
table* that outlives the stream. This module points a stream at a
:class:`~dbm_nca_ph_etl_spark.sinks.matview.MaterializedAgg`:
``foreachBatch`` reduces each micro-batch to decomposable partials
and folds them into the versioned view, keyed by the epoch id.

Exactly-once composition, two independent layers:
- the checkpoint gives at-least-once epoch delivery with stable
  epoch ids across restarts;
- ``MaterializedAgg.refresh`` is replay-idempotent on the epoch id
  (the version's ``_COMMITTED`` marker commits data + "epoch
  applied" atomically), so a re-delivered epoch is a no-op.

Together: exactly-once view state with no distributed transaction —
the same T6 at-least-once + idempotent-load contract the NCA store
uses (streaming/nca_stream.py), applied to aggregation. Each epoch
shuffles O(groups in batch) rows; the view merge reads the current
snapshot (O(groups total)) and writes the next — raw data is never
re-scanned, which is what makes an always-on 100 TB/day feed
maintainable as a dashboard table.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from dbm_nca_ph_etl_spark.sinks.matview import MaterializedAgg
from dbm_nca_ph_etl_spark.sources.lakefs import local_path
from dbm_nca_ph_etl_spark.streaming.nca_stream import _start


def _norm_ckpt(p: str) -> str:
    """Canonical checkpoint identity: the local spelling resolved
    (``sources/lakefs.local_path``), made absolute, trailing slashes
    dropped. Two spellings of one local checkpoint must compare
    equal (see stream_into_keyed's guard); non-file URIs (s3://,
    hdfs://) pass through scheme-intact with only the trailing-slash
    strip."""
    s = local_path(p.strip())
    if "://" in s:
        return s.rstrip("/")
    return os.path.abspath(s).rstrip("/")


def stream_into_matview(
    stream: DataFrame,
    view: MaterializedAgg,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
) -> StreamingQuery | None:
    """Fold a streaming DataFrame into ``view``, one refresh per
    micro-batch. Drains and returns None under ``available_now``;
    otherwise returns the started query, which runs until
    ``query.stop()``."""

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        view.refresh(batch_df, f"epoch{epoch_id}")

    return _start(stream, fold, checkpoint_dir, available_now)


def stream_into_keyed(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    *,
    writer: str = "stream",
    available_now: bool = True,
) -> StreamingQuery | None:
    """Stream micro-batch upserts into a KEYED lake table through the
    multi-writer coordination layer (sinks/txlog): each epoch takes
    the writer lease, merges only the buckets its keys touch, and
    appends a commit-log entry tagged with the epoch id.

    Why this composition matters: a real deployment has BOTH a
    streaming ingester and ad-hoc batch backfills writing the same
    table; the lease serializes them (no lost update regardless of
    which side is mid-merge), and the log is one audit trail across
    both. Exactly-once per epoch = the same T6 layering as
    stream_into_matview — the checkpoint re-delivers, and a replayed
    epoch is skipped when its log entry exists (crash between merge
    and log append re-merges idempotently, then logs once).

    ONE STREAM PER WRITER NAME is the contract (the joinview twin's
    one-writer-per-side rule, stated here for the keyed table): the
    replay gate keys on ``(writer, epoch)``, and epoch ids are only
    unique *within* one checkpoint. Two streams pointed at the same
    table must use distinct ``writer`` names (any number of them is
    safe — the lease serializes the merges); two streams SHARING a
    name would silently drop each other's epochs on id collisions.
    Guarded: each log entry records its checkpoint, and a
    ``(writer, epoch)`` hit from a different checkpoint raises
    instead of skipping. Checkpoint identity compares NORMALIZED
    paths (scheme stripped, absolute, no trailing slash) — raw string
    compare would false-positive when the same checkpoint is respelled
    across restarts ('./ckpt' vs '/data/ckpt' vs 'file:/data/ckpt/')
    and permanently wedge a legitimate single stream. Returns as
    :func:`stream_into_matview` does."""
    from dbm_nca_ph_etl_spark.sinks.txlog import CommitLog, upsert_keyed_serialized

    ckpt_norm = _norm_ckpt(checkpoint_dir)

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        log = CommitLog(path)
        for e in log.entries():
            if e.get("writer") == writer and e.get("epoch") == epoch_id:
                # entries predating the ckpt field can only be ours
                if _norm_ckpt(e.get("ckpt", checkpoint_dir)) != ckpt_norm:
                    raise RuntimeError(
                        f"writer name {writer!r} on {path} is shared by "
                        f"another stream (checkpoint {e['ckpt']!r}): epoch "
                        f"ids collide across checkpoints — give each "
                        "stream a distinct writer name"
                    )
                return  # re-delivered epoch already applied + logged
        upsert_keyed_serialized(
            batch_df.sparkSession,
            batch_df,
            path,
            list(keys),
            writer=writer,
            extra={"epoch": epoch_id, "ckpt": checkpoint_dir},
        )

    return _start(stream, fold, checkpoint_dir, available_now)


def stream_into_joinview(
    stream: DataFrame,
    view,
    side: str,
    checkpoint_dir: str,
    *,
    sign_col: str | None = None,
    available_now: bool = True,
) -> StreamingQuery | None:
    """Fold a CDC stream into one side of a
    :class:`~dbm_nca_ph_etl_spark.sinks.joinview.MaterializedJoin` —
    the streaming leg of incremental join maintenance: each
    micro-batch becomes one delta refresh (±1 weights via
    ``sign_col``), so the materialized join stays fresh at
    delta×touched-buckets cost while the stream runs.

    Two streams (one per side) may feed the same view, each with its
    OWN checkpoint: batch ids are epoch·2 (left) / epoch·2+1 (right),
    so the two writers' batch-id namespaces never collide. Exactly-
    once across BOTH writers is the view's own commit protocol
    (sinks/joinview module doc): refreshes serialize on the table's
    writer lease, delta joins read only marker-committed partitions,
    and a replayed epoch whose marker exists is skipped outright —
    so a left epoch that crashed mid-write can never be recomputed
    against right batches that already joined its half-written data
    (the double-count an own-batch-exclusion scheme cannot prevent).
    One writer per side remains the contract (the checkpoint is what
    makes each side's epoch ids unique and monotonic). Returns as
    :func:`stream_into_matview` does.
    """
    if side not in ("left", "right"):
        raise ValueError(f"side must be 'left' or 'right', got {side!r}")
    parity = 0 if side == "left" else 1

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        view.refresh(
            int(epoch_id) * 2 + parity,
            left_delta=batch_df if side == "left" else None,
            right_delta=batch_df if side == "right" else None,
            sign_col=sign_col,
        )

    return _start(stream, fold, checkpoint_dir, available_now)
