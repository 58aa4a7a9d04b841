"""Table sinks: upsert / append / delete / cascade over a parquet lake.

Reference parity (SURVEY §2.1 S10-S14, §2.5 J3, §2.9 T6). Every
keyed write is one step, :func:`_merge`: drop the base rows whose key
is in a batch (broadcast left-anti join), union the batch, publish
once.
- S10 chunked upsert ``on_conflict=key``  (supabase_repository.py:59-65)
  → :func:`upsert_parquet` — new rows win on key conflict (the
  reference's last-write-wins).
- S11 chunked insert (supabase_repository.py:67-71)
  → :func:`append_parquet` — ``mode("append")``; it serves only the
  pipeline's dead-letter table, no store table appends.
- S14 delete-by-key + J3 FK cascade (supabase_repository.py:41-43,
  supabase_schema.sql:29,40) → :func:`delete_by_keys`,
  :meth:`NCAStore.delete_children` and :meth:`NCAStore.delete_releases`
  — explicit multi-table delete by semi/anti join (no FK engine in a
  lake; the cascade is spelled out).
- T6 at-least-once + idempotent load → :meth:`NCAStore.load_batch` —
  records upsert on ``nca_number``; allocations are replaced per
  incoming ``release_id`` in one publish, which FIXES the reference's
  replay hazard (plain-inserted allocations duplicate on redelivery,
  supabase_repository.py:50-53) while converging to the same state on
  clean runs. Divergence documented in SURVEY §7.

Implementation note: without a transactional table format, an
in-place overwrite of a parquet dir Spark is lazily reading from is
unsafe (read-under-write). Rewrites are published through the lake
filesystem seam (``sources/lakefs``), which picks the commit
protocol the store can actually honor:

- POSIX-like (``atomic_rename=True``, the default for bare paths
  and Spark's ``file:/…`` spelling, both resolved to the on-disk
  name by ``sources/lakefs.local_path`` before any ``os`` call):
  write to a fresh ``.tmp`` directory, then swap via two renames
  (``path → .old``, ``.tmp → path``). Each rename is atomic, but the
  PAIR is not: a crash between them strands the table in ``.old-*``.
  ALL resolution resolves to the stranded pre-swap dir without
  mutating anything (``_stranded_old`` — the commit point is the
  second rename, so the pre-swap contents ARE the committed state);
  the next ``_rewrite`` recovers by WRITING THROUGH (its plan reads
  the stranded dir, its commit rename lands on the absent table
  path — an eager roll-back rename would instead invalidate the
  caller's lazy plan mid-merge) and then GCs stray
  ``.tmp-*``/``.old-*``. The layout is
  single-writer and briefly READER-opaque between the renames;
  multi-reader deployments should pre-create ``_CURRENT`` to opt
  into the pointer layout below, whose flip is reader-atomic.
- object stores (``atomic_rename=False`` — S3/GCS semantics, or any
  injected adapter reporting it): rename doesn't exist, and a
  copy+delete "rename" would ADD a torn window. Instead each rewrite
  writes a fresh VERSION directory (``_v-<id>/``) under the table
  path and publishes it by atomically PUTting its name into a
  ``_CURRENT`` pointer file — the single-object-PUT commit the
  store does guarantee. Readers resolve
  ``_CURRENT`` first; superseded versions are GC'd with a ONE-FLIP
  grace window (keep current + pre-flip — matview's keep=2
  discipline), so an in-flight reader that resolved the pre-flip
  pointer never has files deleted under its scan. GC is scoped to
  versions the pointer history names (the ``_GRACE`` marker records
  the pre-flip version; the next flip deletes exactly that) — a
  ``_v-*`` dir NOT named by the chain is never swept, because it may
  belong to a concurrent/zombie writer that has written data but not
  yet PUT ``_CURRENT``, and deleting it would dangle that writer's
  later flip. A crash before the PUT leaves the old version live and
  the orphan version invisible (a bounded one-dir leak) —
  at-least-once replay then converges (T6).

On a real deployment these functions map 1:1 onto Delta/Iceberg
``MERGE INTO`` / ``DELETE`` and inherit real ACID; the engine's call
sites don't change — that's why the sink is an interface. The two
layouts don't mix: a table created under an object-store adapter
must keep being accessed through one (``_CURRENT`` resolution).

Scale: the anti-join side is the *incoming* batch — small relative to
the base table — so Spark broadcasts it and the "merge" is one scan
of the base plus a hash probe; no base-table shuffle. Partition the
base dir by a stable key (year for release, release_id bucket for
record/allocation) and the scan prunes to touched partitions.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.functions.scalars import quote_ident
from dbm_nca_ph_etl_spark.sources.lakefs import LakeFS, get_fs, local_path
from dbm_nca_ph_etl_spark.sources.lakefs import join as _pjoin

#: pointer file naming the live version dir (object-store layout)
CURRENT_MARKER = "_CURRENT"
#: marker naming the PRE-flip version of the latest flip (the grace
#: version an in-flight reader may still be scanning). GC deletes
#: ONLY the version this named before the current flip — never any
#: other ``_v-*`` dir, which may belong to a concurrent/zombie writer
#: that has written data but not yet PUT ``_CURRENT`` (deleting it
#: would dangle that writer's later flip under the module's
#: at-least-once replay story, T6).
GRACE_MARKER = "_GRACE"


def _stranded_old(path: str, f: LakeFS) -> str | None:
    """Non-mutating detector for a half-crashed POSIX rename swap.

    ``_rewrite``'s POSIX path commits at ``rename(tmp → path)``; a
    crash after ``rename(path → old)`` but before that commit leaves
    the table directory missing with the pre-swap contents stranded
    in ``<path>.old-*``. Returns the newest such stranded dir (the
    committed state — the swap never happened), or None. ALL
    resolution goes through this WITHOUT renaming anything: a
    roll-back rename from a read path would race a live writer
    sitting between its two renames (rolling its swap back under it,
    so its commit rename lands on a non-empty dir), and one from
    ``_rewrite`` would invalidate the caller's still-lazy merge plan
    that scans the stranded dir. Recovery is write-through instead —
    see the POSIX branch of ``_rewrite``.
    """
    local = local_path(path)
    if not f.atomic_rename or os.path.exists(local):
        return None
    parent, base = os.path.split(os.path.abspath(local))
    olds = sorted(
        (
            os.path.join(parent, n)
            for n in os.listdir(parent)
            if n.startswith(f"{base}.old-")
        )
        if os.path.isdir(parent)
        else [],
        key=os.path.getmtime,
    )
    return olds[-1] if olds else None


def _exists(path: str, fs: LakeFS | None = None) -> bool:
    f = get_fs(path, fs)
    if f.exists(_pjoin(path, CURRENT_MARKER)):
        return True
    return f.exists(path) or _stranded_old(path, f) is not None


def _data_dir(path: str, fs: LakeFS | None = None) -> str:
    """Resolve the directory Spark should scan: the ``_CURRENT``
    version dir when the table uses the pointer layout, else the
    path itself (POSIX rename layout; a half-crashed swap resolves
    to the stranded pre-swap dir WITHOUT mutating — see
    ``_stranded_old``)."""
    f = get_fs(path, fs)
    cur = _pjoin(path, CURRENT_MARKER)
    if f.exists(cur):
        return _pjoin(path, f.read_bytes(cur).decode("utf-8").strip())
    stranded = _stranded_old(path, f)
    return stranded if stranded is not None else path


def read_table(spark: SparkSession, path: str, fs: LakeFS | None = None) -> DataFrame:
    """Layout-aware table scan (resolves the version pointer when
    present). All sinks in this module read through here."""
    return spark.read.parquet(_data_dir(path, fs))


def _rewrite(df: DataFrame, path: str, fs: LakeFS | None = None) -> None:
    """Publish ``df`` as the table's new contents with no torn-read
    window, using the strongest commit primitive the store has (see
    module doc: rename swap on POSIX, version-pointer PUT on object
    stores)."""
    f = get_fs(path, fs)
    if f.atomic_rename and not f.exists(_pjoin(path, CURRENT_MARKER)):
        # POSIX fast path — rename swap. The second rename is the
        # commit point; a crash between the two strands the table in
        # `.old-*`. No explicit roll-back rename happens ANYWHERE: a
        # rename here would invalidate the caller's still-lazy plan
        # that reads the stranded dir via _data_dir (read-under-
        # write), so recovery is write-through instead — `df` below
        # materializes FROM the stranded dir into tmp, the commit
        # rename lands on the absent `path` directly, and the stray
        # GC at the end removes the stranded dir. NOTE this layout is
        # single-writer AND briefly reader-opaque (path absent
        # between the renames) — multi-reader deployments should
        # pre-create _CURRENT to opt into the pointer layout, whose
        # flip is reader-atomic.
        local = local_path(path)
        tmp = f"{local}.tmp-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
        old = f"{local}.old-{uuid.uuid4().hex[:8]}"
        if os.path.exists(local):
            os.rename(local, old)
        os.rename(tmp, local)
        if os.path.exists(old):
            shutil.rmtree(old)
        # GC strays from crashed earlier swaps: a `.tmp-*` never
        # renamed in (pre-commit garbage) or a `.old-*` not yet
        # rmtree'd (post-commit garbage). Safe under the layout's
        # single-writer contract; never touches `path` itself.
        parent, base = os.path.split(os.path.abspath(local))
        for n in os.listdir(parent):
            full = os.path.join(parent, n)
            if full != tmp and (
                n.startswith(f"{base}.tmp-") or n.startswith(f"{base}.old-")
            ):
                shutil.rmtree(full, ignore_errors=True)
        return
    # version-pointer commit: new dir, single-PUT pointer flip, GC.
    # Also taken on POSIX once a table is pointer-laid-out (mixing
    # the two layouts in one directory is not supported).
    cur = _pjoin(path, CURRENT_MARKER)
    old = f.read_bytes(cur).decode("utf-8").strip() if f.exists(cur) else None
    version = f"_v-{uuid.uuid4().hex[:12]}"
    df.write.mode("overwrite").parquet(_pjoin(path, version))
    f.write_bytes(cur, version.encode("utf-8"))  # the atomic commit
    # Post-flip GC with a one-flip grace window (the matview keep=2
    # discipline), scoped to versions the POINTER HISTORY names:
    # after this flip the reachable chain is {version (live), old
    # (grace — an in-flight reader that resolved the pre-flip pointer
    # must not have files deleted under its scan)}. The version
    # retired TWO flips ago — recorded in ``_GRACE`` by the previous
    # flip — is unreachable by any reader and is deleted. No other
    # ``_v-*`` dir is EVER touched: an unnamed dir may belong to a
    # concurrent/zombie writer that has written its version but not
    # yet PUT ``_CURRENT``; sweeping it would dangle that writer's
    # subsequent flip (all reads would fail), which is strictly worse
    # than the bounded leak of one orphan dir per crashed writer.
    # Delete-then-record ordering bounds the crash leak to one dir:
    # a crash between the two steps leaks ``old`` (never again named
    # by the chain) but never deletes anything still reachable.
    grace = _pjoin(path, GRACE_MARKER)
    prev_grace = (
        f.read_bytes(grace).decode("utf-8").strip() if f.exists(grace) else None
    )
    if prev_grace and prev_grace not in {version, old}:
        f.delete_dir(_pjoin(path, prev_grace))
    if old:
        f.write_bytes(grace, old.encode("utf-8"))


def append_parquet(df: DataFrame, path: str, fs: LakeFS | None = None) -> None:
    """S11 — plain append (into the live version dir when the table
    uses the pointer layout). Only the pipeline's dead-letter table
    is written this way: every store table publishes through
    :func:`_merge`."""
    df.write.mode("append").parquet(
        _data_dir(path, fs) if _exists(path, fs) else path
    )


def _merge(
    spark: SparkSession,
    path: str,
    keys: list[str],
    drop: DataFrame,
    add: DataFrame | None,
    fs: LakeFS | None = None,
    base: DataFrame | None = None,
) -> None:
    """The one anti-join-and-publish step behind every keyed write:
    publish the table at ``path`` minus the rows whose ``keys`` appear
    in ``drop``, plus ``add`` (``None`` only deletes), with ONE
    ``_rewrite``. A missing table is created from ``add``. ``drop``
    is the broadcast side and may repeat keys — a left-anti join keeps
    the same rows either way, so it needs no dedup shuffle. ``base``
    is the existing table as the caller already read it, which saves
    a second read (and its schema-inference job). The table keeps its
    column order (the anti join's output puts ``keys`` first)."""
    if base is None:
        if not _exists(path, fs):
            if add is not None:
                _rewrite(add, path, fs)
            return
        base = read_table(spark, path, fs)
    kept = base.join(F.broadcast(drop.select(*keys)), on=keys, how="left_anti")
    out = kept if add is None else kept.unionByName(add)
    _rewrite(out.select(*[F.col(quote_ident(c)) for c in base.columns]), path, fs)


def upsert_parquet(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
    fs: LakeFS | None = None,
    base: DataFrame | None = None,
) -> None:
    """S10/T6 — merge ``df`` into the parquet table at ``path`` on
    ``keys``: matching base rows are replaced, new rows inserted.
    ``df`` is deduplicated on ``keys`` here, and which of a key's
    repeated rows wins is arbitrary (the NCA cleaner already emits one
    row per key). ``base`` is the table as the caller already read it
    (see :func:`_merge`). For batch-proportional write cost on huge
    tables use ``sinks.keyed.upsert_keyed``."""
    _merge(spark, path, keys, df, df.dropDuplicates(keys), fs, base)


def upsert_parquet_cdf(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
    fs: LakeFS | None = None,
) -> DataFrame:
    """S10 upsert that also RETURNS the change feed: one row per
    affected key, tagged ``_change ∈ {insert, update}`` with the new
    values (and ``update`` rows only where some non-key column
    actually changed — a no-op re-send of identical rows produces an
    empty feed, which is what makes downstream CDC consumers
    replay-safe).

    The feed is what an incremental consumer (a matview refresh, a
    search-index updater, a cache invalidator) needs to avoid
    re-reading the base table — the lake analog of a table format's
    change data feed. It is ``localCheckpoint``-materialized BEFORE
    the directory swap: the lazy plan reads the pre-merge base, which
    the swap deletes; returning an unmaterialized frame would hand
    the caller dangling lineage.
    """
    incoming = df.dropDuplicates(keys)
    base = read_table(spark, path, fs) if _exists(path, fs) else None
    if base is None:
        feed = incoming.withColumn("_change", F.lit("insert"))
    else:
        val_cols = [c for c in incoming.columns if c not in keys]
        b_vals = base.select(*keys, *[F.col(c).alias(f"_old_{c}") for c in val_cols])
        changed = F.lit(False)
        for c in val_cols:
            changed = changed | ~F.col(c).eqNullSafe(F.col(f"_old_{c}"))
        # presence marker (not null-checking _old_ columns: an existing
        # row whose values are all NULL must still classify as update)
        presence = base.select(*keys).withColumn("_present", F.lit(True))
        feed = (
            incoming.join(F.broadcast(presence), on=keys, how="left")
            .join(F.broadcast(b_vals), on=keys, how="left")
            .withColumn(
                "_change",
                F.when(F.col("_present").isNull(), F.lit("insert")).otherwise(
                    F.lit("update")
                ),
            )
            .where((F.col("_present").isNull()) | changed)
            .select(*incoming.columns, "_change")
        )
    feed = feed.localCheckpoint()
    _merge(spark, path, keys, df, incoming, fs, base)
    return feed


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    keys: list[str],
    effective: int,
    *,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2: apply a change batch to a
    versioned dimension, keeping FULL HISTORY as validity intervals.

    ``dim`` carries ``[keys…, value cols…, valid_from, valid_to]``
    with ``valid_to IS NULL`` marking each key's current version;
    ``changes`` carries ``[keys…, value cols…]``. ``effective`` is
    the batch's effective time (a caller-supplied long — epoch-µs or
    a version number; passing it in keeps the operator deterministic
    and replayable, the same no-wall-clock rule as the rest of the
    engine). Per changed key, the current version CLOSES
    (``valid_to = effective``) and a new open version appends; a
    change row whose values equal the current version is a no-op
    (idempotent re-delivery, the T6 contract); history rows never
    change. Pure relational algebra — two broadcast joins against
    the change batch (batch-sized build side, the dimension streams)
    and a union; no window over history.

    Returns the NEW full-history dimension (the caller persists via
    ``_rewrite``/table-format merge). Current snapshot =
    ``WHERE valid_to IS NULL``; as-of time T =
    ``WHERE valid_from <= T AND (valid_to IS NULL OR valid_to > T)``
    — the same interval predicate operators/asof.py range-joins on.
    """
    val_cols = [c for c in changes.columns if c not in keys]
    incoming = changes.dropDuplicates(keys)
    cur = dim.where(F.col(to_col).isNull())
    hist = dim.where(F.col(to_col).isNotNull())
    # current side annotated with the batch's values ("_p" marks key
    # presence; "same" = values identical → no-op redelivery)
    c_vals = incoming.select(
        *keys,
        F.lit(True).alias("_p"),
        *[F.col(c).alias(f"_new_{c}") for c in val_cols],
    )
    same = F.lit(True)
    for c in val_cols:
        same = same & F.col(c).eqNullSafe(F.col(f"_new_{c}"))
    joined = cur.join(F.broadcast(c_vals), on=keys, how="left")
    effective_lit = F.lit(effective).cast("long")
    closed = joined.where(F.col("_p").isNotNull() & ~same).select(
        *keys, *val_cols, F.col(from_col), effective_lit.alias(to_col)
    )
    untouched = joined.where(F.col("_p").isNull() | same).select(*cur.columns)
    # New open versions, decomposed so the 100 TB dimension is NEVER
    # a shuffle side (Spark cannot build-left a right-outer, so a
    # broadcast hint on the preserved batch side would be ignored and
    # the dimension would shuffle):
    #  - changed existing keys come from the SAME broadcast left join
    #    as `closed` — the new values ride in as _new_* columns;
    #  - brand-new keys are the batch minus the PRESENT key set,
    #    which is itself batch-bounded (≤ |incoming| rows), so the
    #    anti join broadcasts its build (right) side.
    changed_new = joined.where(F.col("_p").isNotNull() & ~same).select(
        *keys, *[F.col(f"_new_{c}").alias(c) for c in val_cols]
    )
    present = joined.where(F.col("_p").isNotNull()).select(*keys)
    brand_new = incoming.join(F.broadcast(present), on=keys, how="left_anti")
    fresh = changed_new.unionByName(brand_new.select(*keys, *val_cols)).select(
        *keys,
        *val_cols,
        effective_lit.alias(from_col),
        F.lit(None).cast("long").alias(to_col),
    )
    return hist.unionByName(closed).unionByName(untouched).unionByName(fresh)


def delete_by_keys(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    key_cols: list[str],
    fs: LakeFS | None = None,
) -> None:
    """S14 — delete base rows whose key appears in ``keys_df``."""
    _merge(spark, path, key_cols, keys_df, None, fs)


class NCAStore:
    """The three-table NCA lake (release 1→N record 1→N allocation,
    supabase_schema.sql:6-41) with explicit-cascade semantics. Each
    step publishes each table it changes once, through
    :func:`_merge`."""

    def __init__(
        self, spark: SparkSession, base_dir: str, fs: LakeFS | None = None
    ) -> None:
        self.spark = spark
        self.base = base_dir
        self.fs = fs
        get_fs(base_dir, fs).mkdirs(base_dir)

    def path(self, table: str) -> str:
        return _pjoin(self.base, table)

    def exists(self, table: str) -> bool:
        return _exists(self.path(table), self.fs)

    def read(self, table: str) -> DataFrame:
        return read_table(self.spark, self.path(table), self.fs)

    def upsert_releases(
        self, releases: DataFrame, base: DataFrame | None = None
    ) -> None:
        """supabase_repository.py:37-39 — upsert on ``id``. ``base`` is
        the ``release`` table as the caller already read it."""
        upsert_parquet(
            self.spark, releases, self.path("release"), ["id"], self.fs, base
        )

    def load_batch(self, records: DataFrame, allocations: DataFrame) -> None:
        """T6 — idempotent batch load. Records upsert on nca_number
        (reference parity); allocations are replaced per incoming
        release_id in one publish (replay-safe divergence, see module
        doc). ``records`` is cached for the call and released before
        it returns.
        """
        records = records.cache()
        try:
            if records.isEmpty():  # nca_db_loader.py:19-31 short-circuit
                return
            upsert_parquet(
                self.spark, records, self.path("record"), ["nca_number"], self.fs
            )
            alloc = self.path("allocation")
            _merge(self.spark, alloc, ["release_id"], allocations, allocations, self.fs)
        finally:
            records.unpersist()

    def delete_children(self, release_ids: DataFrame) -> None:
        """J3 — the cascade under releases (``release_ids`` has an
        ``id`` column): allocations by the nca_numbers of the
        releases' records, then the records by release_id (the FK
        chain spelled out as joins). The release rows stay; an update
        replaces them in its upsert. ``record`` is read once, for both
        deletes."""
        if not self.exists("record"):
            return
        rec = self.read("record")
        ids = F.broadcast(release_ids)
        doomed_ncas = rec.join(ids, rec["release_id"] == ids["id"], "left_semi")
        delete_by_keys(
            self.spark, self.path("allocation"), doomed_ncas, ["nca_number"], self.fs
        )
        rids = release_ids.withColumnRenamed("id", "release_id")
        _merge(self.spark, self.path("record"), ["release_id"], rids, None, self.fs, rec)

    def delete_releases(self, release_ids: DataFrame) -> None:
        """S14+J3 — delete releases and cascade to their children
        (:meth:`delete_children`)."""
        ids = release_ids.select("id").cache()
        try:
            self.delete_children(ids)
            delete_by_keys(self.spark, self.path("release"), ids, ["id"], self.fs)
        finally:
            ids.unpersist()


def table_diff(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Keyed reconciliation of two table snapshots — the
    migration-validation / anti-entropy primitive (audit an engine
    swap, a backfill, or two replicas): classify every key as
    ``added`` (right only), ``removed`` (left only), ``changed``
    (both sides, any non-key column differs) or pass silently when
    identical.

    Plan: both sides reduce to (key, row_fingerprint) projections —
    the md5-48 of the concatenated non-key columns with null
    sentinels, computed INSIDE the scan — then one full-outer join
    on the key. The shuffle carries key+fingerprint (16-24 bytes a
    row), never the payload, which is what makes diffing two 100 TB
    snapshots a metadata-sized exchange. Output: (key columns...,
    diff_kind). Identical rows are dropped pre-join-output (the
    common case at scale — emit only the delta).

    Columns must match (checked). Key columns are assumed non-null —
    FULL OUTER null semantics would report a null-keyed row as an
    added+removed pair rather than matching it; run a
    ``constraints.not_null`` check on the keys first when in doubt
    (the same suite this diff typically runs beside)."""
    from dbm_nca_ph_etl_spark.functions.scalars import hash48

    if set(left.columns) != set(right.columns):
        raise ValueError(
            f"column sets differ: {sorted(left.columns)} vs {sorted(right.columns)}"
        )
    payload = [c for c in left.columns if c not in keys]

    def fp(df: DataFrame, alias: str) -> DataFrame:
        sig = hash48(
            F.concat_ws(
                "\x1f",
                *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in sorted(payload)],
            )
        )
        return df.select(*keys, sig.alias(alias))

    lf = fp(left, "_lfp")
    rf = fp(right, "_rfp")
    joined = lf.join(rf, keys, "full_outer")
    kind = (
        F.when(F.col("_lfp").isNull(), F.lit("added"))
        .when(F.col("_rfp").isNull(), F.lit("removed"))
        .when(F.col("_lfp") != F.col("_rfp"), F.lit("changed"))
    )
    return (
        joined.select(*keys, kind.alias("diff_kind"))
        .where(F.col("diff_kind").isNotNull())
    )
