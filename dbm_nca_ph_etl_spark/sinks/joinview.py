"""Incremental JOIN-view maintenance (delta rules over the keyed lake).

``sinks/matview.py`` keeps AGGREGATES fresh without re-reading the
world; this module does the same for an equi-JOIN view — the other
half of classic incremental view maintenance. The insert-only delta
rule (Blakeley et al. 1986):

    Δ(R ⋈ S) = ΔR ⋈ S_pre  ∪  R_pre ⋈ ΔS  ∪  ΔR ⋈ ΔS

so a refresh touches work proportional to the DELTAS, never |R ⋈ S|.

The 100 TB leg: both base tables live in the key-bucketed layout
(``sinks/keyed.key_bucket`` — md5-prefix buckets, hive-partitioned),
so ``ΔR ⋈ S_pre`` partition-PRUNES the stored side to the buckets
containing ΔR's join keys (bounded driver state: ≤ min(|ΔR|, n)
bucket ids) — a day's delta joins against a day's worth of touched
buckets, not a 100 TB scan. The view itself is batch-partitioned
append-only.

Exactly-once commit protocol (object-store-safe, two small pieces on
top of the batch-partitioned layout):

- **Commit markers.** Every refresh writes its data under partition
  ``_b=<id>`` and then PUTs ``_commits/b<id>.json`` as the LAST step
  — the single commit point. Readers and delta joins only ever see
  COMMITTED partitions, so a crashed half-written refresh is
  invisible until its replay completes and commits. A replayed
  already-committed batch is skipped outright (no recompute, no
  dependence on the other side's state at replay time).
- **Writer lease.** Refreshes serialize on the table's
  ``sinks/txlog.WriterLease`` with a fencing check before the marker
  PUT. This is what makes TWO INDEPENDENT WRITERS (one CDC feed per
  side) exactly-once: each joined pair (L_a, R_b) is counted by
  exactly one batch — whichever side committed LATER saw the other
  side's partition as committed and owns the pair; the earlier side
  could not have seen the later one. Serialization removes the race
  where both (or neither) see each other, and markers remove the
  replay race where a crashed left batch is recomputed AFTER a right
  batch already joined its half-written data (the double-count that
  an own-batch-exclusion scheme cannot prevent).

Updates and deletes are SIGNED deltas (differential-dataflow / CDF
multiset algebra): a delta row carries weight +1 (insert) or −1
(retract an earlier insert), an update is retract+insert in one
batch. The delta-join rule is LINEAR in the weights, so joining a
delta against the raw signed history — no pre-netting — produces
view rows whose weights sum to exactly the net join delta:
``w(r⋈s) = w(r)·w(s)``. Reads net the multiset at the end
(groupBy → Σw > 0 → restore multiplicity), which is view-sized
register math. Same algebra as matview's retractable sums, extended
to join multiplicities.

Compaction is a crash-safe SWAP, not an in-place fold: the netted
history is written to a FRESH partition id (negative ids are
reserved for compaction outputs, so a rerun after a crash never
re-derives from its own half-written output — the in-place variant
would double-count sources on rerun), and one atomic PUT of
``_commits/_horizon.json`` simultaneously publishes the output and
retires every source. Readers see the old state or the new state,
never a mix; leftover source directories are garbage-collected
after the swap and a crashed compaction rolls forward from its
intent record.

All sidecar/marker/listing IO goes through the ``sources/lakefs``
seam, so the layout runs unchanged on object stores
(``atomic_rename=False``): every commit decision is a single-object
PUT or a conditional PUT, never a rename. The conditional PUTs
(lease + marker CAS) are only as atomic as the adapter's
``put_if_absent``: POSIX ``O_EXCL`` and the S3-dialect
``sources/lakefs_http.HttpCasLakeFS`` (``If-None-Match: *``) are
true CAS (``atomic_cas=True``) — on either, the DUAL-WRITER
exactly-once guarantee is exact. ``ArrowLakeFS`` remains
check-then-write (pyarrow.fs surfaces no conditional write), so on
it specifically that guarantee is best-effort; the single-writer
crash-replay guarantees (markers, horizon swap, roll-forward) hold
on any adapter because they never race.

Reference parity: the reference has no join materialization at all
(its repository joins are per-request lookups, supabase_repository.py
— S12/J2); this is north-star extension surface.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.sinks.keyed import KB_COL, key_bucket
from dbm_nca_ph_etl_spark.sinks.txlog import CommitFenced, WriterLease
from dbm_nca_ph_etl_spark.sources.lakefs import LakeFS, get_fs
from dbm_nca_ph_etl_spark.sources.lakefs import join as _pjoin

_META = "_joinview_meta.json"
_COMMITS = "_commits"
_HORIZON = "_horizon.json"
_INTENT = "_intent.json"
B_COL = "_b"
S_COL = "_s"


def _net_multiset(df: DataFrame) -> DataFrame:
    """Collapse a signed row multiset to its net contents: group the
    payload, keep positive net weights, restore multiplicity. The
    one non-linear step of the algebra — runs at READ time on
    view-sized data, never inside a refresh."""
    payload = [c for c in df.columns if c != S_COL]
    net = df.groupBy(*payload).agg(F.sum(S_COL).cast("int").alias("_m")).where(
        F.col("_m") > 0
    )
    return net.select(
        *payload, F.explode(F.sequence(F.lit(1), F.col("_m"))).alias("_i")
    ).drop("_i")


def _overwrite_batch(df: DataFrame, path: str, parts: list[str]) -> None:
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*parts)
        .parquet(path)
    )


class MaterializedJoin:
    """An incrementally-maintained equi-join view: ``refresh`` folds
    per-batch signed deltas for either or both sides; ``read_view``
    scans the committed materialized join rows. Non-key column names
    of the two sides must be disjoint (validated on first refresh).

    Batch ids must be non-negative and, across ALL writers of one
    view, unique per batch of data (the dual-stream helper derives
    them as epoch·2 / epoch·2+1). Negative ids are reserved for
    compaction outputs."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: list[str],
        num_buckets: int = 16,
        fs: LakeFS | None = None,
        lease_ttl_s: float = 120.0,
        lease_timeout_s: float = 60.0,
    ):
        self.spark = spark
        self.path = path
        self.key = list(key)
        self.fs = fs
        self.lease_ttl_s = float(lease_ttl_s)
        self.lease_timeout_s = float(lease_timeout_s)
        self.left_path = _pjoin(path, "left")
        self.right_path = _pjoin(path, "right")
        self.view_path = _pjoin(path, "view")
        self._commits_dir = _pjoin(path, _COMMITS)
        f = self._fs()
        meta_path = _pjoin(path, _META)
        if f.exists(meta_path):
            meta = json.loads(f.read_bytes(meta_path).decode("utf-8"))
            if meta["key"] != self.key or (
                num_buckets is not None and meta["num_buckets"] != num_buckets
            ):
                raise ValueError(
                    f"join view at {path} was created with key={meta['key']} "
                    f"num_buckets={meta['num_buckets']}; opening with "
                    f"key={self.key} num_buckets={num_buckets} would route "
                    "keys to the wrong buckets — match the layout"
                )
            self.num_buckets = int(meta["num_buckets"])
            self._adopt_legacy()
        else:
            self.num_buckets = int(num_buckets)
            f.mkdirs(path)
            f.mkdirs(self._commits_dir)
            f.put_if_absent(
                _pjoin(self._commits_dir, "_adopted.json"), b"{}"
            )
            f.write_bytes(
                meta_path,
                json.dumps(
                    {"key": self.key, "num_buckets": self.num_buckets}
                ).encode("utf-8"),
            )

    # -- filesystem / commit-state internals ---------------------------

    def _fs(self) -> LakeFS:
        return get_fs(self.path, self.fs)

    def _marker(self, batch_id: int) -> str:
        return _pjoin(self._commits_dir, f"b{int(batch_id)}.json")

    def _horizon(self) -> dict:
        f = self._fs()
        p = _pjoin(self._commits_dir, _HORIZON)
        if not f.exists(p):
            return {"hz": -1, "output": None}
        return json.loads(f.read_bytes(p).decode("utf-8"))

    def _marker_ids(self) -> set[int]:
        f = self._fs()
        out = set()
        for p in f.ls(self._commits_dir, suffixes=[".json"]):
            n = os.path.basename(p)
            if n.startswith("b") and n[1:-5].lstrip("-").isdigit():
                out.add(int(n[1:-5]))
        return out

    def _committed_ids(self) -> list[int]:
        """Batch ids visible to readers and delta joins: marker-bearing
        positive ids above the compaction horizon, plus the horizon's
        output partition. Bounded driver state (≤ live batches — the
        same budget as the bucket-id lists)."""
        hz = self._horizon()
        ids = sorted(b for b in self._marker_ids() if b > int(hz["hz"]))
        if hz.get("output") is not None:
            ids.append(int(hz["output"]))
        return ids

    def _applied(self, batch_id: int) -> bool:
        """Replay gate: a batch is applied when its marker exists or
        it predates the compaction horizon (its content lives in the
        horizon's output partition)."""
        hz = self._horizon()
        return batch_id <= int(hz["hz"]) or self._fs().exists(
            self._marker(batch_id)
        )

    def _batch_ids_on_disk(self, path: str) -> set[int]:
        """Partition ids present under ``path`` (committed or not) —
        one or two listing calls, never a data read."""
        f = self._fs()
        out: set[int] = set()
        for d in f.ls_dirs(path):
            name = os.path.basename(d.rstrip("/"))
            if name.startswith(f"{B_COL}="):
                out.add(int(name.split("=", 1)[1]))
            elif name.startswith(f"{KB_COL}="):
                for d2 in f.ls_dirs(d):
                    n2 = os.path.basename(d2.rstrip("/"))
                    if n2.startswith(f"{B_COL}="):
                        out.add(int(n2.split("=", 1)[1]))
        return out

    def _adopt_legacy(self) -> None:
        """One-time upgrade for tables written before the commit
        protocol: every partition already on disk was published by a
        completed (pre-marker) refresh, so adopt each id with a
        marker PUT. Idempotent and race-safe (put_if_absent)."""
        f = self._fs()
        sentinel = _pjoin(self._commits_dir, "_adopted.json")
        if f.exists(sentinel):
            return
        f.mkdirs(self._commits_dir)
        ids: set[int] = set()
        for p in (self.view_path, self.left_path, self.right_path):
            ids |= self._batch_ids_on_disk(p)
        for b in ids:
            f.put_if_absent(self._marker(b), b"{}")
        f.put_if_absent(sentinel, b"{}")

    # -- dataflow internals ---------------------------------------------

    def _read_base(self, path: str, committed: list[int]) -> DataFrame:
        """The committed pre-state of one side: partition-filtered to
        the committed batch ids, so half-written crashed refreshes
        and retired compaction sources are never joined."""
        live = sorted(self._batch_ids_on_disk(path) & set(committed))
        if not live:
            return None
        return self.spark.read.parquet(path).where(F.col(B_COL).isin(live))

    def _pruned(self, base: DataFrame, delta: DataFrame) -> DataFrame:
        """Partition-prune ``base`` to the buckets containing
        ``delta``'s join keys — ≤ min(|delta keys|, num_buckets)
        ids of driver state, the lookup_keyed discipline."""
        buckets = [
            r[KB_COL]
            for r in delta.select(
                key_bucket(self.key, self.num_buckets).alias(KB_COL)
            )
            .distinct()
            .collect()
        ]
        return base.where(F.col(KB_COL).isin(buckets))

    def _bucketed(self, df: DataFrame, batch_id: int) -> DataFrame:
        return df.withColumn(KB_COL, key_bucket(self.key, self.num_buckets)).withColumn(
            B_COL, F.lit(int(batch_id))
        )

    @staticmethod
    def _payload(df: DataFrame, key: list[str]) -> list[str]:
        return [c for c in df.columns if c not in (*key, KB_COL, B_COL, S_COL)]

    @staticmethod
    def _signed(df: DataFrame, sign_col: str | None) -> DataFrame:
        if sign_col is None:
            return df.withColumn(S_COL, F.lit(1))
        return df.withColumn(S_COL, F.col(sign_col).cast("int")).drop(sign_col)

    # -- API ----------------------------------------------------------

    def refresh(
        self,
        batch_id: int,
        left_delta: DataFrame | None = None,
        right_delta: DataFrame | None = None,
        sign_col: str | None = None,
    ) -> None:
        """Fold one batch of signed deltas (all +1 inserts when
        ``sign_col`` is None; ±1 weights otherwise — a retraction
        must restate the retracted row exactly). Exactly-once under
        at-least-once redelivery AND under concurrent per-side
        writers: see module doc (lease-serialized, marker-committed,
        committed-only reads)."""
        bid = int(batch_id)
        if bid < 0:
            raise ValueError(
                f"batch_id must be >= 0 (negative ids are reserved for "
                f"compaction outputs), got {bid}"
            )
        if self._applied(bid):
            return  # redelivered batch — already committed, a no-op
        dl = None if left_delta is None else self._signed(left_delta, sign_col)
        dr = None if right_delta is None else self._signed(right_delta, sign_col)
        if dl is not None and dr is not None:
            clash = (set(self._payload(dl, self.key)) & set(self._payload(dr, self.key)))
            if clash:
                raise ValueError(
                    f"non-key columns must be disjoint across sides, got {sorted(clash)}"
                )
        lease = WriterLease(self.path, ttl_s=self.lease_ttl_s, fs=self.fs)
        lease.acquire(timeout_s=self.lease_timeout_s)
        try:
            if self._applied(bid):  # re-check now that we're serialized
                return
            pending = self._pending_intent()
            if pending is not None and bid <= int(pending["hz"]):
                # a NEW batch id at-or-below a crashed compaction's
                # pinned horizon: roll-forward would net only the
                # pinned sources and read_view would skip this batch
                # forever (ids ≤ horizon are presumed compacted). The
                # caller broke the "compact only checkpointed batches"
                # contract — fail loudly instead of losing the batch.
                # (A REPLAY of a pinned source is fine: its marker
                # still exists until post-swap GC, so _applied()
                # returned above.)
                raise ValueError(
                    f"batch {bid} is at-or-below the pending compaction "
                    f"horizon {pending['hz']} of {self.path}; batch ids "
                    "must stay above every horizon passed to compact()"
                )
            committed = self._committed_ids()
            l_pre = self._read_base(self.left_path, committed)
            r_pre = self._read_base(self.right_path, committed)

            def piece(left: DataFrame, right: DataFrame) -> DataFrame:
                # weights multiply through the join — the linearity
                # that lets deltas join the raw signed history un-netted
                l = left.withColumnRenamed(S_COL, "_sl")
                r = right.withColumnRenamed(S_COL, "_sr")
                return (
                    l.join(r, self.key)
                    .withColumn(S_COL, F.col("_sl") * F.col("_sr"))
                    .drop("_sl", "_sr")
                )

            pieces = []
            if dl is not None and r_pre is not None:
                pieces.append(piece(dl, self._pruned(r_pre, dl).drop(KB_COL, B_COL)))
            if dr is not None and l_pre is not None:
                pieces.append(piece(self._pruned(l_pre, dr).drop(KB_COL, B_COL), dr))
            if dl is not None and dr is not None:
                pieces.append(piece(dl, dr))
            view_delta = None
            for p in pieces:
                view_delta = p if view_delta is None else view_delta.unionByName(
                    p, allowMissingColumns=False
                )
            if view_delta is not None:
                _overwrite_batch(
                    view_delta.withColumn(B_COL, F.lit(bid)),
                    self.view_path,
                    [B_COL],
                )
            # (a batch whose deltas join nothing writes no view
            # partition — nothing to commit there, the marker alone
            # records the batch as applied)
            if dl is not None:
                _overwrite_batch(
                    self._bucketed(dl, bid), self.left_path, [KB_COL, B_COL]
                )
            if dr is not None:
                _overwrite_batch(
                    self._bucketed(dr, bid), self.right_path, [KB_COL, B_COL]
                )
            if not lease.is_current():
                raise CommitFenced(
                    f"lease on {self.path} lost mid-refresh of batch {bid}; "
                    "the batch is uncommitted (invisible) and must be replayed"
                )
            self._fs().put_if_absent(
                self._marker(bid), json.dumps({"batch": bid}).encode("utf-8")
            )
        finally:
            lease.release()

    def compact(self, up_to_batch: int) -> None:
        """Fold every committed partition with ``_b ≤ up_to_batch``
        (and any previous compaction output) into ONE netted partition
        at a fresh reserved id, for the view and both bases — the
        small-file / unbounded-partition maintenance a batch-per-
        refresh layout otherwise accumulates. Netting the signed
        history changes no net content, so reads before and after are
        identical — and because the swap is a single horizon PUT,
        reads DURING are identical too (old state or new state, never
        doubled).

        Contract: call only for batches the UPSTREAM checkpoint has
        committed (a replay of a compacted-away batch is skipped via
        the horizon, but a brand-new batch id at-or-below the horizon
        would be silently skipped too — the same horizon rule as any
        log-compaction scheme). Crash-safe roll-forward: the intent
        record pins the output id and source set, so a rerun (the
        next ``compact`` call) finishes the identical swap."""
        lease = WriterLease(self.path, ttl_s=self.lease_ttl_s, fs=self.fs)
        lease.acquire(timeout_s=self.lease_timeout_s)
        try:
            self._finish_compact(lease)  # roll forward a crashed swap first
            hz = int(up_to_batch)
            cur = self._horizon()
            if hz <= int(cur["hz"]):
                return  # already compacted past this horizon
            committed = self._committed_ids()
            sources = sorted(b for b in committed if b <= hz)  # negatives too
            if not sources:
                return
            target = min(self._all_negative_ids() | {0}) - 1
            intent = {"hz": hz, "target": target, "sources": sources}
            self._fs().write_bytes(
                _pjoin(self._commits_dir, _INTENT),
                json.dumps(intent).encode("utf-8"),
            )
            self._run_compact(intent, lease)
        finally:
            lease.release()

    def _all_negative_ids(self) -> set[int]:
        out: set[int] = set()
        for p in (self.view_path, self.left_path, self.right_path):
            out |= {b for b in self._batch_ids_on_disk(p) if b < 0}
        return out

    def _pending_intent(self) -> dict | None:
        f = self._fs()
        ip = _pjoin(self._commits_dir, _INTENT)
        if not f.exists(ip):
            return None
        return json.loads(f.read_bytes(ip).decode("utf-8"))

    def _finish_compact(self, lease: WriterLease) -> None:
        intent = self._pending_intent()
        if intent is None:
            return
        self._run_compact(intent, lease)

    def _fence_compact(self, intent: dict, lease: WriterLease) -> None:
        """Fencing gate before each irreversible compaction step
        (the horizon PUT and the GC phase). Leases are liveness-only:
        a compactor stalled past the TTL whose lease was stolen by a
        LATER compact must not re-PUT its stale horizon (pointing at
        a GC'd target) or GC the new holder's output — so require
        both our lease generation AND our pinned intent to still be
        the ones on disk."""
        if not lease.is_current():
            raise CommitFenced(
                f"lease on {self.path} lost mid-compaction (intent "
                f"hz={intent['hz']}); the swap/GC must not proceed"
            )
        if self._pending_intent() != intent:
            raise CommitFenced(
                f"compaction intent on {self.path} superseded (pinned "
                f"hz={intent['hz']}); a newer compaction owns the table"
            )

    def _run_compact(self, intent: dict, lease: WriterLease) -> None:
        f = self._fs()
        hz, target = int(intent["hz"]), int(intent["target"])
        sources = [int(b) for b in intent["sources"]]
        swapped = self._horizon() == {"hz": hz, "output": target}
        if not swapped:
            # phase 1: net the pinned sources into the fresh output
            # partition. The output id is NOT a source, so a rerun
            # after a crash re-derives from the identical still-live
            # inputs — never from its own half-written output.
            for path, parts in (
                (self.view_path, [B_COL]),
                (self.left_path, [KB_COL, B_COL]),
                (self.right_path, [KB_COL, B_COL]),
            ):
                live = sorted(self._batch_ids_on_disk(path) & set(sources))
                if not live:
                    continue
                df = self.spark.read.parquet(path).where(F.col(B_COL).isin(live))
                payload = [c for c in df.columns if c not in (S_COL, B_COL)]
                netted = (
                    df.groupBy(*payload)
                    .agg(F.sum(S_COL).cast("int").alias(S_COL))
                    .where(F.col(S_COL) != 0)
                    .withColumn(B_COL, F.lit(target))
                    .localCheckpoint(eager=True)
                )
                if not netted.isEmpty():
                    _overwrite_batch(netted, path, parts)
            # phase 2: ONE atomic PUT publishes the output and retires
            # every source — the reader-visible commit point. Fence
            # first: phase 1 runs full Spark jobs, easily longer than
            # a lease TTL.
            self._fence_compact(intent, lease)
            f.write_bytes(
                _pjoin(self._commits_dir, _HORIZON),
                json.dumps({"hz": hz, "output": target}).encode("utf-8"),
            )
        # phase 3: garbage-collect retired partitions and markers —
        # ONLY the pinned sources (plus superseded compaction outputs,
        # which are always safe: exactly one negative id is ever live).
        # Never "everything ≤ hz": a batch committed against contract
        # while this intent was pending must survive for the refresh
        # guard to have rejected it / an operator to recover it.
        # (Idempotent; a crash here is finished by the next call.)
        self._fence_compact(intent, lease)
        src_set = set(sources)

        def _retired(b: int) -> bool:
            return b in src_set or (b < 0 and b != target)

        for path in (self.view_path, self.left_path, self.right_path):
            for d in f.ls_dirs(path):
                name = os.path.basename(d.rstrip("/"))
                if name.startswith(f"{B_COL}="):
                    if _retired(int(name.split("=", 1)[1])):
                        f.delete_dir(d)
                elif name.startswith(f"{KB_COL}="):
                    for d2 in f.ls_dirs(d):
                        n2 = os.path.basename(d2.rstrip("/"))
                        if not n2.startswith(f"{B_COL}="):
                            continue
                        if _retired(int(n2.split("=", 1)[1])):
                            f.delete_dir(d2)
        for b in self._marker_ids():
            if b in src_set:
                f.delete_file(self._marker(b))
        f.delete_file(_pjoin(self._commits_dir, _INTENT))

    def _committed_read(self, path: str) -> DataFrame | None:
        return self._read_base(path, self._committed_ids())

    def read_view(self) -> DataFrame:
        df = self._committed_read(self.view_path)
        if df is None:
            # schema unknowable before the first committed joined
            # batch — and a fully-retracted-then-compacted view is
            # the same state
            raise ValueError(f"join view at {self.path} has no materialized rows yet")
        return _net_multiset(df.drop(B_COL))

    def read_view_signed(self) -> DataFrame:
        """The raw signed view rows (``_s`` = ±1 weight) — the feed
        for DOWNSTREAM incremental aggregation: Σ(_s·x) / Σ(_s) over
        these rows are exactly the retraction-native sum/count
        partials of ``sinks/matview``, so an aggregate OVER the join
        stays fresh at view-delta cost with no netting step at all
        (netting is only needed when row identity matters)."""
        df = self._committed_read(self.view_path)
        if df is None:
            raise ValueError(f"join view at {self.path} has no materialized rows yet")
        return df.drop(B_COL)

    def _read_side(self, path: str) -> DataFrame:
        df = self._committed_read(path)
        if df is None:
            raise ValueError(f"join view at {self.path} has no committed rows for {path}")
        return _net_multiset(df.drop(KB_COL, B_COL))

    def read_left(self) -> DataFrame:
        return self._read_side(self.left_path)

    def read_right(self) -> DataFrame:
        return self._read_side(self.right_path)
