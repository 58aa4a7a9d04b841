"""Lake introspection: distributed parquet-footer statistics.

Data skipping (sort-clustered layouts, `sinks/maintenance.py`; hive
partition pruning, `sinks/partitioned.py`) is only as trustworthy as
the footer statistics it reads — a writer bug or a truncated stat
silently turns "skip this file" into "lose these rows". This module
reads row-group column-chunk metadata *distributed* (one task per
file batch, footer-only I/O — no data pages are touched) and exposes
it relationally, so footer health is queryable like any other table:

- :func:`parquet_footer_stats` — one row per (file, row_group,
  column): value counts, null counts, min/max, encoded sizes.
- the ``parquet_footer_audit`` catalog query joins the footer view
  against the *data* (exact per-column count/nulls/min/max computed
  by the engine, and independently by the DuckDB oracle) — an
  end-to-end proof that what pruning would skip matches what the
  rows actually contain.

Scale: file listing is a driver-side metadata operation (exactly
what Spark's own scan planning does); footers are ~KB each and read
by executors via ``mapInPandas`` — a 100 TB lake with 100k files is
a 100k-row DataFrame and a few hundred MB of footer bytes spread
across the cluster. Nothing about file *contents* crosses the plan.

Reference parity: the reference has no lake introspection (its
storage adapter is an opaque blob store, s3_storage.py); this is
extension surface (SURVEY §2.11) required by the sorted/bucketed
layout work.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Sequence
from urllib.parse import unquote

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.sources.lakefs import local_path

FOOTER_SCHEMA = (
    "file string, row_group int, col string, n_values bigint, "
    "n_nulls bigint, vmin double, vmax double, vmin_str string, "
    "vmax_str string, compressed_bytes bigint, uncompressed_bytes bigint"
)


def _footer_rows(files: Iterable[str], columns: Sequence[str] | None):
    import pyarrow.parquet as pq

    want = set(columns) if columns is not None else None
    for uri in files:
        md = pq.ParquetFile(local_path(uri)).metadata
        for rg_idx in range(md.num_row_groups):
            rg = md.row_group(rg_idx)
            for ci in range(rg.num_columns):
                cc = rg.column(ci)
                name = cc.path_in_schema
                if want is not None and name not in want:
                    continue
                st = cc.statistics
                has = st is not None and st.has_min_max
                vmin = vmax = None
                vmin_str = vmax_str = None
                if has:
                    try:
                        vmin, vmax = float(st.min), float(st.max)
                    except (TypeError, ValueError):
                        pass
                    vmin_str, vmax_str = str(st.min), str(st.max)
                yield (
                    uri,
                    rg_idx,
                    name,
                    cc.num_values,
                    int(st.null_count) if st is not None and st.has_null_count else None,
                    vmin,
                    vmax,
                    vmin_str,
                    vmax_str,
                    cc.total_compressed_size,
                    cc.total_uncompressed_size,
                )


def parquet_footer_stats(
    spark: SparkSession,
    path: str,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """One row per (file, row_group, column) of footer metadata.

    ``columns=None`` returns every leaf column. Footer reads run on
    executors (``mapInPandas`` over the file list); only the listing
    — the same metadata walk every Spark scan performs — happens on
    the driver. ``inputFiles()`` percent-encodes each name as a URI
    (a space is ``%20``, a ``%`` is ``%25``); it is decoded here, once,
    so ``file`` holds the name as it is on disk.
    """
    files = [unquote(f) for f in spark.read.parquet(path).inputFiles()]
    cols = list(columns) if columns is not None else None
    files_df = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(max(1, min(len(files), 64)))

    def read_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = list(_footer_rows(pdf["file"], cols))
            yield pd.DataFrame(
                rows,
                columns=[
                    "file",
                    "row_group",
                    "col",
                    "n_values",
                    "n_nulls",
                    "vmin",
                    "vmax",
                    "vmin_str",
                    "vmax_str",
                    "compressed_bytes",
                    "uncompressed_bytes",
                ],
            )

    return files_df.mapInPandas(read_footers, FOOTER_SCHEMA)


def footer_column_summary(
    spark: SparkSession,
    path: str,
    columns: Sequence[str],
) -> DataFrame:
    """Footer-derived per-column totals: value/null counts summed over
    all row groups, min/max folded across chunks — the numbers data
    skipping trusts, aggregated to table grain so they can be checked
    against the data itself (see ``parquet_footer_audit``)."""
    stats = parquet_footer_stats(spark, path, columns)
    return stats.groupBy("col").agg(
        F.sum("n_values").alias("n_values"),
        F.sum("n_nulls").alias("n_nulls"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )
