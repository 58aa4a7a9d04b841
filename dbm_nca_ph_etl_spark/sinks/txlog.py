"""Multi-writer coordination for mutable lake tables: a CAS-backed
append-only commit log plus a TTL writer lease.

The problem: the keyed/partitioned sinks mutate bucket directories in
place (that is what makes a merge O(touched buckets) instead of
O(table)), so two writers merging into the same table can lose
updates — writer B reads the base before A's overwrite lands, then
overwrites the same bucket without A's rows. Table formats solve this
with immutable data files plus an optimistic commit log; for an
in-place layout the correct-and-honest primitive set is:

- :class:`CommitLog` — numbered entries (``_log/00000001.json``)
  committed by ``put_if_absent`` (compare-and-swap on the entry
  name): under any interleaving exactly ONE writer wins each
  version, every other sees ``False`` and re-reads. This is the
  serialization point of Delta/Iceberg commits reduced to its core;
  the entries double as a queryable table history (who wrote which
  buckets when — the metadata half of time travel).
- :class:`WriterLease` — a TTL lock file CAS'd into the table dir.
  Because the DATA write is in-place (not atomically published by
  the log CAS), writers must be serialized for the whole
  read-merge-overwrite span, not just the commit instant: the lease
  is that span lock, with expiry so a crashed writer never wedges
  the table, and a fencing token (the lease generation) so a
  stalled writer that lost its lease cannot commit a stale log
  entry (Kleppmann's fencing argument).
- :func:`upsert_keyed_serialized` — the two composed over
  ``sinks/keyed.upsert_keyed``: lease → merge (touched buckets
  only) → log append (with fencing check) → release.

On POSIX the CAS is ``O_EXCL`` (kernel-arbitrated); S3/GCS expose it
as ``If-None-Match`` conditional PUTs (see
``lakefs.LakeFS.put_if_absent``). Reader isolation is unchanged —
it remains the layout's concern (the pointer-swap layouts in
merge/matview give it; raw keyed dirs trade it for pruned writes).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from dbm_nca_ph_etl_spark.sources.lakefs import LakeFS, get_fs
from dbm_nca_ph_etl_spark.sources.lakefs import join as _pjoin

LOG_DIR = "_log"
LEASE_FILE = "_lease.json"


class CommitFenced(RuntimeError):
    """A writer tried to commit after losing its lease — its merge
    may have been partially overwritten by the lease's new holder,
    so the commit must NOT be recorded as applied."""


class CommitLog:
    """Append-only numbered commit log under ``<table>/_log``.

    ``try_commit`` is a pure CAS: it never blocks and never retries;
    exactly one concurrent caller per version returns True. Entries
    are immutable once created (the name IS the commit), so readers
    can tail the history with plain listing + reads."""

    def __init__(self, table_path: str, fs: LakeFS | None = None) -> None:
        self.path = table_path
        self.fs = fs
        self._dir = _pjoin(table_path, LOG_DIR)
        get_fs(table_path, fs).mkdirs(self._dir)

    def _f(self) -> LakeFS:
        return get_fs(self.path, self.fs)

    def _entry_path(self, version: int) -> str:
        return _pjoin(self._dir, f"{version:08d}.json")

    def version(self) -> int:
        """Highest committed version (0 = empty log)."""
        names = [
            os.path.basename(p)
            for p in self._f().ls(self._dir, suffixes=[".json"])
        ]
        nums = [int(n[:-5]) for n in names if n[:-5].isdigit()]
        return max(nums, default=0)

    def entries(self, since: int = 0) -> list[dict]:
        """Committed entries with version > ``since``, ascending."""
        f = self._f()
        out = []
        for p in sorted(f.ls(self._dir, suffixes=[".json"])):
            n = os.path.basename(p)[:-5]
            if n.isdigit() and int(n) > since:
                e = json.loads(f.read_bytes(p).decode("utf-8"))
                e["version"] = int(n)
                out.append(e)
        return out

    def try_commit(self, payload: dict, expected_version: int) -> bool:
        """CAS-append ``payload`` as version ``expected_version + 1``.
        Returns False when another writer won that version first."""
        data = json.dumps(payload, sort_keys=True).encode("utf-8")
        return self._f().put_if_absent(
            self._entry_path(expected_version + 1), data
        )


class WriterLease:
    """TTL writer lock for the in-place merge span.

    Acquisition CAS-creates the lease file; a live lease blocks
    others until ``ttl_s`` elapses, after which any writer may STEAL
    it (delete+CAS under a new generation) — a crashed holder never
    wedges the table. ``generation`` is the fencing token: it
    increases on every acquisition, and committers must verify their
    generation is still the one on disk before recording work done
    under the lease.

    Like every lease built on create/delete primitives (Chubby's
    argument, restated by Kleppmann), the lock is a LIVENESS
    mechanism, not the safety proof: clock skew or a steal-race can
    briefly give two writers the belief they hold it. Safety comes
    from the fencing check at commit time plus idempotent merges —
    which is exactly the contract :func:`upsert_keyed_serialized`
    implements. Size ``ttl_s`` well above the longest expected merge
    (an expired-but-alive writer is fenced, its work retried)."""

    def __init__(
        self, table_path: str, ttl_s: float = 60.0, fs: LakeFS | None = None
    ) -> None:
        self.path = _pjoin(table_path, LEASE_FILE)
        self.ttl_s = float(ttl_s)
        self.fs = fs
        self.holder = uuid.uuid4().hex[:12]
        self.generation: int | None = None
        get_fs(table_path, fs).mkdirs(table_path)

    def _f(self) -> LakeFS:
        return get_fs(self.path, self.fs)

    def _read(self) -> dict | None:
        f = self._f()
        if not f.exists(self.path):
            return None
        try:
            return json.loads(f.read_bytes(self.path).decode("utf-8"))
        except (ValueError, OSError):
            return None

    def acquire(self, timeout_s: float = 30.0, poll_s: float = 0.05) -> int:
        """Block until the lease is held; returns the fencing
        generation. Raises TimeoutError when ``timeout_s`` elapses."""
        f = self._f()
        deadline = time.monotonic() + timeout_s
        while True:
            cur = self._read()
            if cur is None:
                gen = 1
            # the holder's own declared TTL governs expiry — a
            # 60s-lease is not stealable by an impatient 0.1s waiter
            elif time.time() - cur["ts"] > float(cur.get("ttl_s", self.ttl_s)):
                # expired — delete, then race for the CAS. Re-read
                # first: only delete the lease we judged expired, so
                # a slow second stealer does not delete the first
                # stealer's FRESH lease. delete-if-match is not
                # atomic on these primitives (object stores need an
                # ETag-conditional delete); the residual window is
                # why commits are fenced rather than trusted to the
                # lock (see class docstring).
                if self._read() == cur:
                    f.delete_file(self.path)
                gen = int(cur["generation"]) + 1
            else:
                gen = None  # live lease held by someone else
            if gen is not None:
                body = json.dumps(
                    {
                        "holder": self.holder,
                        "generation": gen,
                        "ts": time.time(),
                        "ttl_s": self.ttl_s,
                    }
                ).encode("utf-8")
                if f.put_if_absent(self.path, body):
                    self.generation = gen
                    return gen
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"writer lease on {self.path} not acquired in {timeout_s}s"
                )
            time.sleep(poll_s)

    def is_current(self) -> bool:
        """Fencing check: is the on-disk lease still ours?"""
        cur = self._read()
        return (
            cur is not None
            and cur.get("holder") == self.holder
            and int(cur.get("generation", -1)) == self.generation
        )

    def release(self) -> None:
        if self.is_current():
            self._f().delete_file(self.path)
        self.generation = None


def upsert_keyed_serialized(
    spark,
    df,
    path: str,
    keys: list[str],
    *,
    writer: str = "anon",
    lease_ttl_s: float = 60.0,
    timeout_s: float = 30.0,
    fs: LakeFS | None = None,
    extra: dict | None = None,
) -> list[int]:
    """Multi-writer-safe keyed merge: LEASE → merge touched buckets →
    fencing check → LOG append → release.

    Concurrent callers serialize on the lease, so the lost-update
    interleaving (read-before-other's-write, overwrite-after) cannot
    occur; each completed merge appends a commit entry recording the
    writer and touched buckets — the audit/history surface. If the
    lease expired mid-merge and was stolen, the fencing check raises
    :class:`CommitFenced` instead of recording a commit whose bucket
    writes may have been partially overwritten by the new holder
    (the caller's retry then re-runs the merge, which converges:
    upserts are idempotent per key)."""
    from dbm_nca_ph_etl_spark.sinks.keyed import upsert_keyed

    lease = WriterLease(path, ttl_s=lease_ttl_s, fs=fs)
    log = CommitLog(path, fs=fs)
    lease.acquire(timeout_s=timeout_s)
    try:
        touched = upsert_keyed(spark, df, path, keys, fs=fs)
        if not lease.is_current():
            raise CommitFenced(
                f"lease on {path} lost mid-merge (writer={writer}); "
                "merge must be retried"
            )
        entry = {"op": "upsert", "writer": writer, "buckets": touched}
        entry.update(extra or {})
        while True:
            v = log.version()
            if log.try_commit(entry, v):
                return touched
    finally:
        lease.release()


def expire_log(
    table_path: str,
    keep: int = 1000,
    fs: LakeFS | None = None,
) -> int:
    """Retention for the commit log: delete the oldest entries,
    keeping the most recent ``keep`` (the VACUUM/expire-snapshots
    half every table format ships). The log's correctness contract
    survives expiry: ``version()`` is the MAX entry number (dense
    numbering is append-side only — try_commit CASes version+1,
    which never needs the expired tail), and a caller that gates
    replays on logged entries only needs those younger than its
    feed's redelivery horizon — size ``keep`` to that horizon,
    exactly like MaterializedAgg's version pruning. Returns the
    number of entries deleted."""
    log = CommitLog(table_path, fs=fs)
    f = get_fs(table_path, fs)
    entries = sorted(
        p
        for p in f.ls(log._dir, suffixes=[".json"])
        if os.path.basename(p)[:-5].isdigit()
    )
    victims = entries[:-keep] if keep > 0 else entries
    for p in victims:
        f.delete_file(p)
    return len(victims)


def compact_keyed_serialized(
    spark,
    path: str,
    *,
    buckets: list[int] | None = None,
    target_files: int = 1,
    target_bytes: int | None = None,
    writer: str = "maintenance",
    lease_ttl_s: float = 60.0,
    timeout_s: float = 30.0,
    fs: LakeFS | None = None,
    extra: dict | None = None,
) -> list[int]:
    """Multi-writer-safe small-file compaction: LEASE → read+pack →
    fencing check (PRE-overwrite) → overwrite → fencing check →
    LOG append → release.

    Compaction is the read-rewrite span with the LONGEST window for
    the lost-update interleaving: it reads whole bucket directories
    and overwrites them with byte-identical content, so an upsert
    landing between its read and its overwrite would be silently
    rolled back. Bare :func:`~dbm_nca_ph_etl_spark.sinks.keyed.
    compact_keyed` is therefore only safe single-writer (its
    docstring says so); this wrapper serializes it on the SAME lease
    the merges take, which is what makes running a maintenance
    compactor beside an ingester that upserts through
    :func:`upsert_keyed_serialized` correct: the lease
    orders them, and the log records ``op="compact"`` with the
    rewritten buckets — the table history distinguishes content
    changes (upserts) from layout maintenance.

    Fencing and recovery — compaction is NOT like a fenced merge:

    - The first fencing check runs *inside* ``compact_keyed``, after
      the replacement content is materialized and immediately before
      the destructive overwrite. A lease lost by then raises
      :class:`CommitFenced` with ``clobber_possible=False`` — nothing
      was written, the table is untouched, and simply re-running the
      compaction is a complete recovery.
    - If the lease is found lost only AFTER the overwrite (the resid-
      ual window is the overwrite itself — unavoidable with non-
      transactional primitives), the overwrite may have rolled back
      upserts the new lease holder committed meanwhile. Re-running
      the compaction does NOT recover those (unlike a fenced merge,
      where retrying re-applies the data): the raised
      :class:`CommitFenced` carries ``clobber_possible=True`` and
      ``possibly_clobbered`` — the commit-log entries appended after
      this compactor took the lease. Recovery is to RE-APPLY those
      entries' writes (replay the upserts from their source; merges
      are idempotent per key, so re-application converges), then
      retry the compaction.

    Size ``lease_ttl_s`` well above the worst-case compaction
    duration (read + shuffle + rewrite of every candidate bucket) —
    the TTL expiring mid-rewrite is the only way the post-overwrite
    window opens at all."""
    from dbm_nca_ph_etl_spark.sinks.keyed import compact_keyed

    lease = WriterLease(path, ttl_s=lease_ttl_s, fs=fs)
    log = CommitLog(path, fs=fs)
    lease.acquire(timeout_s=timeout_s)
    v0 = log.version()

    def _pre_overwrite_fence() -> None:
        if not lease.is_current():
            exc = CommitFenced(
                f"lease on {path} lost mid-compaction, before overwrite "
                f"(writer={writer}); nothing was written — retry the "
                "compaction"
            )
            exc.clobber_possible = False
            exc.possibly_clobbered = []
            raise exc

    try:
        done = compact_keyed(
            spark,
            path,
            buckets=buckets,
            target_files=target_files,
            target_bytes=target_bytes,
            fs=fs,
            pre_overwrite_check=_pre_overwrite_fence,
        )
        if not lease.is_current():
            clobbered = log.entries(since=v0)
            exc = CommitFenced(
                f"lease on {path} lost mid-compaction, after overwrite "
                f"(writer={writer}); the overwrite may have rolled back "
                f"{len(clobbered)} commit(s) made under the new lease — "
                "RE-APPLY those entries' writes (replay the upserts from "
                "their source; merges are idempotent), then retry the "
                f"compaction. Possibly clobbered: "
                f"{[(e.get('writer'), e.get('op'), e.get('buckets')) for e in clobbered]}"
            )
            exc.clobber_possible = True
            exc.possibly_clobbered = clobbered
            raise exc
        if done:
            entry = {"op": "compact", "writer": writer, "buckets": done}
            entry.update(extra or {})
            while True:
                v = log.version()
                if log.try_commit(entry, v):
                    break
        return done
    finally:
        lease.release()
