"""Hive-partitioned parquet layout — partition pruning + surgical
incremental overwrite.

Key bucketing (sinks/keyed.py) bounds merge cost; partitioning
handles the other axis of 100 TB layout: coarse, low-cardinality
predicates (ingest date, language, source) become DIRECTORIES, so a
filtered query never opens non-matching files at all — pruning
happens at planning time from the file index, before a single byte
of parquet is read. The reference's incremental refresh (SURVEY J1:
delete stale release → reload) maps to dynamic partition overwrite:
rewriting one day's partition touches one directory, not the table.

Layout rules that matter at scale:

- partition column cardinality must stay in the 10^2-10^5 range —
  one directory per value; a high-cardinality key (user_id) as a
  partition column creates millions of tiny files (use bucketing for
  those keys instead);
- partition on what queries FILTER on, bucket on what they JOIN on —
  the two compose (partitionBy + bucketBy on one table);
- ``overwrite_partitions`` uses dynamic mode: only partitions present
  in the incoming frame are replaced; static mode would truncate the
  WHOLE table — the classic data-loss foot-gun this module exists to
  fence off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as hive-layout parquet (``col=value`` directories).

    Values of ``partition_cols`` are encoded in directory names and
    dropped from the data files; readers recover them from paths and
    Catalyst turns filters on them into PartitionFilters (pruning at
    the file-index level, visible in the scan node).
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
) -> None:
    """Replace ONLY the partitions present in ``df``; all other
    partitions are left untouched (dynamic partition overwrite).

    This is the lake form of the reference's per-release refresh
    (releases_scraper.py:119 delete-then-reload): an updated NCA
    release rewrites its own partition without scanning or rewriting
    the rest of the table. Idempotent under replay — rewriting the
    same input twice converges (SURVEY T6).
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Scan a hive-partitioned directory. Partition columns come back
    typed (directory-name inference); filters on them prune before
    I/O."""
    return spark.read.parquet(path)
