"""File-level zone maps — data skipping by column min/max statistics.

The lakehouse move this models: Delta's per-file stats, Iceberg's
manifest value ranges, and every warehouse's zone maps. A predicate
like ``price BETWEEN a AND b`` should not OPEN files whose
``[min, max]`` range cannot intersect it; at 100 TB this is the
difference between scanning a clustered table's 3 relevant files and
all 400k of them. Spark's parquet reader already skips ROW GROUPS
inside an opened file via footer stats — but it must still list,
open, and read the footer of every file per query. A persisted
stats sidecar moves that cost to ONE harvest per write, and the
planner-side prune is a metadata-only filter on the sidecar
(file-list-sized, broadcastable), exactly like Delta's stats-based
file pruning.

Mechanics here:

- :func:`harvest_zonemaps` reads ONLY parquet footers (zero data IO —
  the stats parquet wrote anyway), distributed: the file list
  parallelizes and each task opens its files' metadata with pyarrow.
  O(files/parallelism) wall clock, nothing driver-side but the path
  list Spark's own scan listing already pays.
- :func:`write_zonemaps` persists the harvest as a parquet sidecar
  under ``<table>/_zonemaps`` with a JSON meta pinning the stat
  columns (the fail-on-drift contract of the keyed sink's
  ``_keyed_meta.json``).
- :func:`pruned_read` filters the sidecar to files whose range
  intersects the predicate's ``[lo, hi]``, reads exactly those files,
  and re-applies the predicate (zone pruning is conservative — a
  surviving file still carries non-matching rows). Files with
  missing stats (written by engines that skip statistics) are always
  read: skipping is an optimization, never a correctness bet.

Effectiveness is a LAYOUT property: range-clustered writes (sort or
bucket the cluster column before writing — zorder_layout_audit is
the multi-column version) give disjoint zones and sharp pruning;
random layout gives overlapping zones and no skip. That asymmetry is
the point — the audit query exposes files_read/files_total so a
layout regression is visible as a pruning regression.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.sources.lakefs import LakeFS, get_fs
from dbm_nca_ph_etl_spark.sources.lakefs import join as _pjoin

ZM_DIR = "_zonemaps"
_ZM_META = "_zonemap_meta.json"


def harvest_zonemaps(
    spark: SparkSession, files: list[str], columns: list[str]
) -> DataFrame:
    """Distributed footer harvest: (file, n_rows, col, vmin, vmax)
    per stat column, min/max folded across each file's row groups.
    Values travel as strings (parquet stats are typed per column;
    the sidecar is schema-stable regardless of the stat column's
    type) alongside ``is_numeric`` so the pruner knows how to
    compare. Missing stats surface as null vmin/vmax → never pruned.
    """
    cols = list(columns)

    def _read_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for b in batches:
            out = []
            for path in b["file"]:
                md = pq.read_metadata(path)
                names = {md.schema.column(i).name: i for i in range(md.num_columns)}
                for c in cols:
                    vmin = vmax = None
                    ok = c in names
                    if ok:
                        for rg in range(md.num_row_groups):
                            st = md.row_group(rg).column(names[c]).statistics
                            if st is None or not st.has_min_max:
                                vmin = vmax = None
                                break
                            vmin = st.min if vmin is None else min(vmin, st.min)
                            vmax = st.max if vmax is None else max(vmax, st.max)
                    numeric = isinstance(vmin, (int, float)) and not isinstance(
                        vmin, bool
                    )
                    out.append(
                        (
                            path,
                            int(md.num_rows),
                            c,
                            None if vmin is None else str(vmin),
                            None if vmax is None else str(vmax),
                            numeric,
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=["file", "n_rows", "col", "vmin", "vmax", "is_numeric"],
            )

    paths = spark.createDataFrame([(f,) for f in files], "file string")
    return paths.mapInPandas(
        _read_footers,
        "file string, n_rows long, col string, vmin string, vmax string, "
        "is_numeric boolean",
    )


def _data_files(path: str, fs: LakeFS | None = None) -> list[str]:
    """Recursive data-file listing through the lakefs seam (skips the
    sidecar dir and _-prefixed metadata files). A missing/typo'd table
    path fails loudly instead of harvesting zero footers."""
    f = get_fs(path, fs)
    if not f.exists(path):
        raise FileNotFoundError(f"no table at {path}")
    out: list[str] = []
    stack = [path]
    while stack:
        d = stack.pop()
        out += [
            p
            for p in f.ls(d, suffixes=[".parquet"])
            if not os.path.basename(p).startswith("_")
        ]
        stack += [
            sub
            for sub in f.ls_dirs(d)
            if os.path.basename(sub.rstrip("/")) != ZM_DIR
        ]
    return sorted(out)


def write_zonemaps(
    spark: SparkSession,
    path: str,
    columns: list[str],
    fs: LakeFS | None = None,
) -> None:
    """Harvest and persist the stats sidecar for a parquet table dir."""
    zm = harvest_zonemaps(spark, _data_files(path, fs), columns)
    zm.coalesce(1).write.mode("overwrite").parquet(_pjoin(path, ZM_DIR))
    get_fs(path, fs).write_bytes(
        _pjoin(path, _ZM_META),
        json.dumps({"columns": list(columns)}).encode("utf-8"),
    )


def pruned_read(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
    fs: LakeFS | None = None,
) -> tuple[DataFrame, int, int]:
    """Read only the files whose ``column`` zone intersects
    ``[lo, hi]``; returns (rows, files_read, files_total). The range
    predicate is RE-APPLIED to the surviving files — pruning is
    conservative, correctness never depends on it. Fails loudly if
    the sidecar does not track ``column`` (stats drift — same
    contract as the keyed sink's ``_keyed_meta.json``)."""
    meta = json.loads(
        get_fs(path, fs).read_bytes(_pjoin(path, _ZM_META)).decode("utf-8")
    )
    if column not in meta["columns"]:
        raise ValueError(
            f"zonemap sidecar at {path} tracks {meta['columns']}, not {column!r}"
        )
    zm = spark.read.parquet(_pjoin(path, ZM_DIR)).where(
        F.col("col") == column
    )
    keep = zm.where(
        F.col("vmin").isNull()  # statless file: must read
        | ~F.col("is_numeric")  # non-numeric stats: this pruner can't compare
        | ~(
            (F.col("vmax").cast("double") < float(lo))
            | (F.col("vmin").cast("double") > float(hi))
        )
    )
    files = [r.file for r in keep.select("file").collect()]
    total = zm.count()
    if not files:
        empty = spark.read.parquet(path).where(F.lit(False))
        return empty, 0, total
    rows = spark.read.parquet(*files).where(F.col(column).between(lo, hi))
    return rows, len(files), total
