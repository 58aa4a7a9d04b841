"""Lake maintenance: sort- and Z-order-clustered parquet layouts.

A clustered write range-partitions and sorts before it writes, so
each part file covers a compact key range and its footer min/max are
tight; a filtered scan then skips whole files from footer statistics
alone (the reference's Postgres sink has no analog:
supabase_repository.py chunks INSERTS, the database owns the layout).
Small-file compaction of keyed tables is ``sinks/keyed.compact_keyed``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
