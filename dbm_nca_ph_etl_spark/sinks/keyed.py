"""Key-bucketed lake layout — merges that rewrite only the buckets
containing incoming keys.

The r4 design gap this closes: ``merge.upsert_parquet`` rewrites the
WHOLE table per batch (correct, atomic locally — O(table) write
amplification). At 100 TB a daily merge must touch work proportional
to the BATCH, not the table. The reference's counterpart is a keyed
upsert (supabase_repository.py:59-65) that touches only affected
rows; the lake equivalent is a hash-bucket partition layout:

- the base table is hive-partitioned on ``_kb = pmod(hash48(key), n)``
  — a uniform, deterministic, oracle-replayable bucket id (same
  md5-prefix hash family as the rest of the engine, so DuckDB can
  replay bucket assignment bit-for-bit);
- a merge batch computes its own bucket set (≤ min(|batch|, n) ids —
  bounded driver state), partition-PRUNES the base scan to exactly
  those directories, left-antis the batch keys within them, and
  rewrites ONLY those directories via dynamic partition overwrite
  (``sinks.partitioned.overwrite_partitions``).

Write amplification per batch = touched_buckets × bucket_size, not
table_size. Sizing rule: pick ``num_buckets`` so one bucket ≈
128-256 MB compressed at the target scale (100 TB / 256 MB ≈ 400k is
too many directories — cap around 16-64k and accept multi-GB
buckets; the merge cost scales with bucket size × batch key spread).

Atomicity: dynamic partition overwrite commits per partition — a
crash mid-commit can leave a prefix of the touched buckets new and
the rest old. That is the same at-least-once window every
non-transactional lake write has; the merge is idempotent (replaying
the same batch converges to the same bytes — SURVEY T6), so the
recovery is "replay the batch", identical to the epoch-overwrite
streaming contract. On Delta/Iceberg these functions map onto
``MERGE INTO`` and inherit snapshot isolation; the call sites don't
change.

A ``_keyed_meta.json`` sidecar pins (keys, num_buckets); merging
with drifted parameters would route keys to the wrong buckets and
silently duplicate them, so the merge fails loudly on mismatch —
the same fail-on-drift contract as the LSH band index sidecar.

The read-then-overwrite of the same directory set requires cutting
lineage first (Spark refuses to overwrite a path it is reading
from): the merged bucket subset is ``localCheckpoint``-materialized
(MEMORY_AND_DISK, spills, recoverable sizing is the num_buckets
rule above) before the overwrite starts.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.functions.scalars import hash48
from dbm_nca_ph_etl_spark.sinks.partitioned import overwrite_partitions
from dbm_nca_ph_etl_spark.sources.lakefs import LakeFS, get_fs
from dbm_nca_ph_etl_spark.sources.lakefs import join as _pjoin

KB_COL = "_kb"
_META = "_keyed_meta.json"
#: unit separator — cannot appear in parquet string keys' typical
#: domain; keeps ("a","bc") and ("ab","c") in different buckets
_SEP = "\x1f"


def key_bucket(keys: list[str], num_buckets: int) -> Column:
    """Deterministic bucket id for a key tuple: 48-bit md5 prefix of
    the separator-joined key strings, mod ``num_buckets``. DuckDB
    replays it as
    ``('0x' || substr(md5(k1 || chr(31) || k2), 1, 12))::BIGINT % n``."""
    joined = F.concat_ws(_SEP, *[F.col(k).cast("string") for k in keys])
    return F.pmod(hash48(joined), F.lit(num_buckets)).cast("int")


def _read_meta(path: str, fs: LakeFS | None = None) -> dict:
    return json.loads(
        get_fs(path, fs).read_bytes(_pjoin(path, _META)).decode("utf-8")
    )


def _write_meta(path: str, meta: dict, fs: LakeFS | None = None) -> None:
    # single atomic publish (tmp+rename on POSIX, one PUT on stores)
    get_fs(path, fs).write_bytes(
        _pjoin(path, _META), json.dumps(meta).encode("utf-8")
    )


def _check_meta(
    path: str, keys: list[str], num_buckets: int | None, fs: LakeFS | None = None
) -> int:
    meta = _read_meta(path, fs)
    if list(meta["keys"]) != list(keys) or (
        num_buckets is not None and meta["num_buckets"] != num_buckets
    ):
        raise ValueError(
            f"keyed table at {path} was written with keys={meta['keys']} "
            f"num_buckets={meta['num_buckets']}, merge called with "
            f"keys={keys} num_buckets={num_buckets}; drifted parameters "
            "would route keys to the wrong buckets and duplicate them — "
            "match the layout or rewrite the table"
        )
    return int(meta["num_buckets"])


def write_keyed(
    df: DataFrame,
    path: str,
    keys: list[str],
    num_buckets: int,
    fs: LakeFS | None = None,
) -> None:
    """Create/replace the keyed base table: hive-partitioned on the
    bucket of ``keys``, one directory per non-empty bucket. The
    repartition on the bucket column keeps files-per-bucket ==
    write-task-parallelism-per-bucket at 1 for small tables; at scale
    callers can repartition wider first — correctness only needs the
    partition column."""
    out = df.withColumn(KB_COL, key_bucket(keys, num_buckets))
    out.repartition(F.col(KB_COL)).write.mode("overwrite").partitionBy(
        KB_COL
    ).parquet(path)
    meta = {
        "keys": list(keys),
        "num_buckets": int(num_buckets),
        "schema": _ddl(out),
    }
    _write_meta(path, meta, fs)


def _ddl(df: DataFrame) -> str:
    """Schema as a DDL string with the layout column last (hive
    partition discovery appends it)."""
    cols = [f for f in df.schema.fields if f.name != KB_COL]
    parts = [f"{f.name} {f.dataType.simpleString()}" for f in cols]
    return ", ".join(parts + [f"{KB_COL} int"])


def _read_base(
    spark: SparkSession, path: str, fs: LakeFS | None = None
) -> DataFrame:
    """Scan the base table under the SIDECAR-tracked schema — the
    table-format move that makes schema evolution work on plain
    parquet: after an evolving merge only the touched buckets'
    files carry the new column, and a footer-sampled read would
    miss or randomly see it. The sidecar schema is authoritative
    (files missing a column read it as null, at zero IO cost);
    falls back to footer discovery for pre-evolution tables whose
    meta has no schema. Avoids ``mergeSchema=true``, which reads
    EVERY footer — O(files) metadata IO at 100 TB."""
    try:
        ddl = _read_meta(path, fs).get("schema")
    except (OSError, ValueError):
        ddl = None
    reader = spark.read
    if ddl:
        reader = reader.schema(ddl)
    return reader.parquet(path)


def read_keyed(
    spark: SparkSession, path: str, fs: LakeFS | None = None
) -> DataFrame:
    """Scan the keyed table without the layout column. Filters on the
    key columns do NOT prune (the bucket id is derived); point
    lookups should filter on ``key_bucket(...)`` too — see
    :func:`lookup_keyed`."""
    return _read_base(spark, path, fs).drop(KB_COL)


def lookup_keyed(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    keys: list[str],
    fs: LakeFS | None = None,
) -> DataFrame:
    """Point/semi lookup that prunes to the probed keys' buckets
    before joining — the read-side payoff of the layout."""
    n = _check_meta(path, keys, None, fs)
    probe = keys_df.select(*keys).dropDuplicates().withColumn(
        KB_COL, key_bucket(keys, n)
    )
    buckets = [r[KB_COL] for r in probe.select(KB_COL).distinct().collect()]
    base = _read_base(spark, path, fs).where(F.col(KB_COL).isin(buckets))
    return base.join(
        F.broadcast(probe.select(*keys)), on=keys, how="left_semi"
    ).drop(KB_COL)


def upsert_keyed(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
    *,
    evolve_schema: bool = False,
    fs: LakeFS | None = None,
) -> list[int]:
    """Merge ``df`` into the keyed table on ``keys`` — matching rows
    replaced, new rows inserted (same semantics as
    ``merge.upsert_parquet``, bit-identical results) — touching ONLY
    the bucket directories that contain incoming keys.

    Plan shape: incoming buckets collected to the driver (bounded by
    num_buckets), base scan partition-pruned to them (PartitionFilters,
    zero IO on untouched buckets), left-anti against the broadcast
    batch keys, union, localCheckpoint (cuts lineage so the dynamic
    partition overwrite may target the directories just read), then
    ``overwrite_partitions`` on ``_kb``. Untouched bucket directories
    are never opened, never rewritten.

    Schema drift: by default a batch whose column set differs from
    the table FAILS LOUDLY (silently dropping a new column is data
    loss; silently nulling a missing one may not be what the caller
    meant). With ``evolve_schema=True`` the merge widens instead —
    batch-only columns join the table schema (pre-existing rows read
    them as null via the sidecar-tracked schema, no rewrite of
    untouched buckets), and table-only columns are null on the
    replaced/inserted rows (a replace is the whole row). Same-name/
    different-type conflicts always fail — changing a column's type
    under readers needs a rewrite, not a merge.

    Returns the list of touched bucket ids (for tests/observability).
    """
    if not get_fs(path, fs).exists(_pjoin(path, _META)):
        raise FileNotFoundError(
            f"no keyed table at {path}; create it with write_keyed first"
        )
    n = _check_meta(path, keys, None, fs)
    incoming = df.dropDuplicates(keys).withColumn(KB_COL, key_bucket(keys, n))
    touched = sorted(
        r[KB_COL] for r in incoming.select(KB_COL).distinct().collect()
    )
    if not touched:
        return []
    base = _read_base(spark, path, fs).where(F.col(KB_COL).isin(touched))
    base_t = {f.name: f.dataType for f in base.schema.fields}
    in_t = {f.name: f.dataType for f in incoming.schema.fields}
    clash = [c for c in in_t if c in base_t and in_t[c] != base_t[c]]
    if clash:
        raise ValueError(
            f"column type conflict on {clash}: table "
            f"{[str(base_t[c]) for c in clash]} vs batch "
            f"{[str(in_t[c]) for c in clash]} — type changes need a "
            "table rewrite, not a merge"
        )
    drift = set(in_t) != set(base_t)
    if drift and not evolve_schema:
        raise ValueError(
            f"schema drift: batch-only columns {sorted(set(in_t) - set(base_t))}, "
            f"table-only columns {sorted(set(base_t) - set(in_t))}; pass "
            "evolve_schema=True to widen the table (old rows read new "
            "columns as null) instead of silently dropping data"
        )
    kept = base.join(
        F.broadcast(incoming.select(*keys)), on=keys, how="left_anti"
    )
    merged = kept.unionByName(
        incoming if drift else incoming.select(*kept.columns),
        allowMissingColumns=drift,
    ).localCheckpoint(eager=True)
    overwrite_partitions(merged, path, [KB_COL])
    if drift:
        meta = _read_meta(path, fs)
        meta["schema"] = _ddl(merged)
        _write_meta(path, meta, fs)
    return touched


def delete_keyed(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    keys: list[str],
    fs: LakeFS | None = None,
) -> list[int]:
    """Delete rows whose key appears in ``keys_df`` — bucket-pruned
    twin of ``merge.delete_by_keys``. Returns touched bucket ids.

    A bucket whose every row is deleted needs special handling:
    dynamic partition overwrite only replaces partitions PRESENT in
    the written data, so an emptied bucket would keep its old files
    and the delete would silently not happen. Emptied bucket
    directories are therefore removed explicitly (through the lakefs
    seam); replay converges — the directory delete is idempotent."""
    if not get_fs(path, fs).exists(_pjoin(path, _META)):
        return []
    n = _check_meta(path, keys, None, fs)
    doomed = keys_df.select(*keys).dropDuplicates().withColumn(
        KB_COL, key_bucket(keys, n)
    )
    touched = sorted(
        r[KB_COL] for r in doomed.select(KB_COL).distinct().collect()
    )
    if not touched:
        return []
    base = _read_base(spark, path, fs).where(F.col(KB_COL).isin(touched))
    kept = base.join(
        F.broadcast(doomed.select(*keys)), on=keys, how="left_anti"
    ).localCheckpoint(eager=True)
    kept_buckets = {
        r[KB_COL] for r in kept.select(KB_COL).distinct().collect()
    }
    if kept_buckets:
        overwrite_partitions(kept, path, [KB_COL])
    f = get_fs(path, fs)
    for b in touched:
        if b not in kept_buckets:
            f.delete_dir(_pjoin(path, f"{KB_COL}={b}"))
    return touched


def scd2_apply_keyed(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys: list[str],
    effective: int,
    *,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    fs: LakeFS | None = None,
) -> list[int]:
    """Persisted SCD Type-2 over the keyed layout: apply a change
    batch to the versioned dimension AT ``path``, rewriting only the
    buckets whose keys appear in the batch.

    ``merge.scd2_apply`` is the pure operator (full-history in, full
    history out); its r4 persistence contract was "caller rewrites
    the table". This is the contract upgrade: only rows whose key is
    in the change batch can change (close + new version), so the
    merge reads the touched buckets' history, applies scd2 within
    them, and dynamic-overwrites just those directories. Write cost
    per batch: touched_buckets × bucket_size — a 1-customer change
    to a 100 TB dimension rewrites one bucket.
    """
    from dbm_nca_ph_etl_spark.sinks.merge import scd2_apply

    n = _check_meta(path, keys, None, fs)
    incoming = changes.dropDuplicates(keys).localCheckpoint(eager=True)
    touched = sorted(
        r[KB_COL]
        for r in incoming.withColumn(KB_COL, key_bucket(keys, n))
        .select(KB_COL)
        .distinct()
        .collect()
    )
    if not touched:
        return []
    dim_sub = (
        _read_base(spark, path, fs)
        .where(F.col(KB_COL).isin(touched))
        .drop(KB_COL)
    )
    new_sub = scd2_apply(
        dim_sub, incoming, keys, effective, from_col=from_col, to_col=to_col
    ).withColumn(KB_COL, key_bucket(keys, n))
    merged = new_sub.localCheckpoint(eager=True)
    overwrite_partitions(merged, path, [KB_COL])
    return touched


def compact_keyed(
    spark: SparkSession,
    path: str,
    buckets: list[int] | None = None,
    target_files: int = 1,
    fs: LakeFS | None = None,
    target_bytes: int | None = None,
    pre_overwrite_check: "Callable[[], None] | None" = None,
) -> list[int]:
    """Small-file compaction for the keyed layout — the OPTIMIZE /
    rewrite-data-files maintenance op every table format ships.

    Streaming epochs and wide-parallelism merges leave each touched
    bucket directory with one file PER WRITE TASK that held its rows;
    at 100 TB that is the classic small-file problem (footer-read and
    task-schedule overhead per file, not per byte). Compaction
    rewrites every bucket whose file count exceeds ``target_files``
    down to at most ``target_files`` files, CONTENT-IDENTICAL —
    ``operators/integrity.keyed_digest`` before and after is equal by
    construction (pinned by tests), so a digest baseline stays valid
    across compactions (no bucket is "touched" in the incremental-
    digest sense).

    Plan shape: the candidate list comes from a file LISTING through
    the lakefs seam (metadata-only, no data read); the scan is
    partition-pruned to the candidate buckets; the repartition keys
    on ``_kb`` (plus a bounded salt when a bucket packs to more than
    one file) so a bucket's rows land in at most its target task
    count (hash collisions merge tasks, never split a bucket beyond
    it); the rewrite rides the same dynamic-partition-overwrite
    commit path as the merges — a crash mid-compaction leaves a
    prefix of buckets compacted and the rest old, every bucket
    readable and content-correct either way (compaction is a no-op
    on content, so replay converges trivially).

    Per-bucket output sizing: with ``target_bytes`` set, each
    bucket's target file count is ``max(target_files,
    ceil(bucket_bytes / target_bytes))`` from the same listing's file
    sizes — a hot bucket compacts to several right-sized files in
    several tasks instead of one giant task (the 100 TB guard: one
    task per bucket regardless of bucket bytes is a straggler/OOM at
    skew), while small buckets still pack to ``target_files``.

    Buckets whose files hold ZERO rows (a writer's empty epoch can
    leave footer-only files) contribute no rows to the rewrite, so
    dynamic partition overwrite would never rewrite their directory;
    they are compacted through the filesystem seam directly (the
    stale zero-row files are deleted) so the second-pass-no-op
    contract holds for them too.

    ``buckets=None`` considers the whole table; pass a merge's
    touched-bucket list to compact in its wake. Returns the bucket
    ids actually rewritten (empty = nothing exceeded its target).

    SINGLE-WRITER ONLY, like the bare merges: compaction holds the
    longest read-rewrite window of any op here, so an upsert landing
    between its read and its overwrite would be silently rolled
    back. Beside concurrent writers (a streaming ingester, another
    maintenance job) use ``sinks/txlog.compact_keyed_serialized`` —
    the lease-serialized, fenced, commit-logged form; it passes
    ``pre_overwrite_check`` (called after the replacement content is
    materialized, immediately before any destructive write) to fence
    a lost lease BEFORE the overwrite can clobber a concurrent
    upsert, not merely before logging.
    """
    import math as _math
    import os as _os

    f = get_fs(path, fs)
    if not f.exists(_pjoin(path, _META)):
        return []
    want = None if buckets is None else set(buckets)
    candidates: list[int] = []
    n_out: dict[int, int] = {}
    bucket_files: dict[int, list[str]] = {}
    for d in f.ls_dirs(path):
        base = _os.path.basename(d)
        if not base.startswith(f"{KB_COL}="):
            continue
        b = int(base.split("=", 1)[1])
        if want is not None and b not in want:
            continue
        t = target_files
        if target_bytes is not None:
            # sized listing: one LIST per bucket, never an N+1 HEAD
            # per file (object-store listings already carry sizes)
            sized = f.ls_with_sizes(d, suffixes=[".parquet"])
            files = [p for p, _ in sized]
            nbytes = sum(sz for _, sz in sized)
            t = max(target_files, _math.ceil(nbytes / target_bytes))
        else:
            files = f.ls(d, suffixes=[".parquet"])
        if len(files) > t:
            candidates.append(b)
            n_out[b] = t
            bucket_files[b] = files
    if not candidates:
        return []
    candidates.sort()
    sub = _read_base(spark, path, fs).where(F.col(KB_COL).isin(candidates))
    if all(t == 1 for t in n_out.values()):
        packed = sub.repartition(len(candidates), F.col(KB_COL))
    else:
        # spread each bucket over ≤ its target task count: salt the
        # partitioner by a per-bucket modulus (a literal map — the
        # candidate list is metadata-sized), keep bucket affinity
        # dominant. The salt cycles WITHIN an input partition
        # (monotonically_increasing_id is partition-offset-based), so
        # a fat bucket spreads even when the scan packed it into few
        # input splits; which rows land in which output file is
        # salt-dependent, but compaction's contract is content
        # identity of the bucket, not file identity.
        mod = F.create_map(
            *[F.lit(x) for b in candidates for x in (b, n_out[b])]
        )[F.col(KB_COL)]
        packed = sub.repartition(
            sum(n_out.values()),
            F.col(KB_COL),
            F.pmod(F.monotonically_increasing_id(), mod),
        )
    merged = packed.localCheckpoint(eager=True)
    present = {r[KB_COL] for r in merged.select(KB_COL).distinct().collect()}
    if pre_overwrite_check is not None:
        pre_overwrite_check()
    # zero-row candidates never appear in `merged`, so the dynamic
    # overwrite below won't touch their directories — compact them
    # through the seam: drop the redundant footer-only files.
    for b in candidates:
        if b not in present:
            for p in bucket_files[b][1:]:
                f.delete_file(p)
    if present:
        overwrite_partitions(merged, path, [KB_COL])
    return candidates
