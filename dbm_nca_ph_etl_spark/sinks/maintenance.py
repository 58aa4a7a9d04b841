"""Lake maintenance: small-file compaction + sort-clustered layout.

Micro-batch loaders (streaming/nca_stream.py appends one directory of
part files per batch) and fine-grained task parallelism both produce
small-file sprawl; at 100 TB the scan's task count — and the
NameNode/object-store listing cost — is driven by file count, so
periodic compaction is part of the engine, not an ops afterthought
(the reference's Postgres sink has no analog: supabase_repository.py
chunks INSERTS, the database owns the layout).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.sources.lakefs import local_path

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # one HDFS-ish block per file


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
) -> int:
    """Rewrite ``src_path`` into ``dst_path`` with ~target-sized files.

    Returns the output file count. The write goes to a NEW directory —
    Spark cannot overwrite a path it is lazily reading, and a
    fresh-directory + rename swap is the atomic pattern on object
    stores anyway (the caller owns the swap; a table format's commit
    log would subsume this).

    File count = ceil(current_bytes / target): compaction math uses
    the real on-disk (compressed) size via the scan's file listing,
    not row counts — row width varies, bytes are what the next scan
    pays for. ``repartition`` (not ``coalesce``): coalesce chains
    narrow dependencies and would make the WRITE tasks read many
    source files each without rebalancing skew; a real shuffle gives
    uniformly sized outputs, which is the point of compacting.
    """
    df = spark.read.parquet(src_path)
    files = df.inputFiles()
    total = sum(os.path.getsize(local_path(f)) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df.repartition(n_out).write.mode("error").parquet(dst_path)
    return n_out


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits_per_col: int = 8,
) -> "tuple[DataFrame, str]":
    """Append a Morton (Z-order) key column interleaving the bits of
    each column's equi-width bucket id; returns (df, key_col_name).

    Each column is scaled to ``2**bits_per_col`` buckets between its
    global min and max (one tiny agg → ``first()`` of 2·N scalars on
    the driver — model-sized, like a range partitioner's sampling),
    then bucket bits are interleaved:

        z = Σ_{col i, bit b} bit_b(bucket_i) << (b·ncols + i)

    The whole key is a single codegen'd integer expression — no UDF,
    no shuffle of its own. ``ncols · bits_per_col`` must fit a long
    (≤ 63); the default 8 bits × up to 7 columns is plenty — finer
    buckets than the file count add nothing to pruning.
    """
    nbits = len(cols) * bits_per_col
    if nbits > 63:
        raise ValueError(f"z-key needs {nbits} bits; reduce bits_per_col")
    buckets = 1 << bits_per_col
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).first()

    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) or 1.0
        bucket = F.least(
            F.lit(buckets - 1),
            F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * buckets),
        )
        bucket = F.coalesce(bucket, F.lit(0)).cast("long")
        for b in range(bits_per_col):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + i))
    name = "_zorder_key"
    return df.withColumn(name, z), name


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int | None = None,
    bits_per_col: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet write: range-partition + sort on the
    Morton key so every part file covers a compact *multi-dimensional*
    region, and its footer min/max are tight on EVERY clustered
    column — not just the leading one.

    This is the multi-column upgrade of :func:`write_sorted_parquet`:
    a 1-D sort prunes scans filtered on the sort prefix and nothing
    else; a Z-order layout lets a predicate on any clustered column
    skip most files from footer stats alone (a contiguous Morton
    range is a near-square region, so each file spans ~2^-k of each
    dimension instead of all of it). Same cost profile — one range
    shuffle per write, amortized over every pruning read. The pruning
    property is asserted by tests/test_sinks.py from real footers via
    sources/introspect.py.
    """
    keyed, key = zorder_key(df, cols, bits_per_col)
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        keyed.repartitionByRange(n, F.col(key))
        .sortWithinPartitions(key)
        .drop(key)
        .write.mode(mode)
        .parquet(path)
    )


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Sort-clustered parquet write: range-partition by ``sort_cols``
    then sort within each task, so every part file holds a contiguous
    key range and its parquet footer min/max stats are TIGHT.

    Why it matters at 100 TB: a point/range predicate on the sort key
    then skips whole files (and row groups within the survivors) from
    footer stats alone — the scan reads O(matching range), not
    O(table). This is the 1-D clustering analog of Z-ordering; for
    multi-column predicates prefer the leading column with the most
    selective workload filters (same reasoning as index prefix
    choice). The layout property (pairwise-disjoint per-file ranges)
    is asserted by test_sinks directly from the parquet footers.

    One extra range shuffle per write — amortized over every future
    read that prunes. Combine with hive partitioning
    (sinks/partitioned.py) for the coarse cut + this for intra-
    partition clustering.
    """
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .parquet(path)
    )
