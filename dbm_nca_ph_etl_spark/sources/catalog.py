"""Parquet table catalog over the driver testdata layout.

One parquet file per table under ``{sf_dir}/{name}.parquet``
(TESTDATA.md). Reads are plain ``spark.read.parquet`` so Catalyst
gets predicate pushdown, column pruning and partition-sized splits
for free — at 100 TB the same call reads a partitioned lake
directory and nothing in the engine changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from dbm_nca_ph_etl_spark.session import session_memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one catalog table. Filters/projections applied by the
    caller reach the parquet reader (PushedFilters / ReadSchema).

    ``events.ts`` carries an extra ``ts_us`` epoch-microsecond column
    for window/gap arithmetic — DuckDB's ``epoch_us(ts)`` on the naive
    timestamp is its exact oracle twin. Two physical encodings exist
    across testdata generations: ``TIMESTAMP(NANOS)`` (rejected by
    Spark's reader — read as long via nanosAsLong and rebuilt into a
    TIMESTAMP_NTZ with exact decimal interval arithmetic, no LTZ hop
    so results cannot shift with the session timezone) and plain
    ``timestamp[us]`` (read natively as TIMESTAMP_NTZ; ``ts_us`` is a
    session-timezone-independent timestampdiff from the NTZ epoch).
    """
    path = table_path(sf_dir, name)
    if name == "events":
        # Set per read, not in get_spark: __spark_entry__ callers build
        # their own vanilla session, where get_spark confs never apply
        # and a TIMESTAMP(NANOS) read would throw.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # a known schema skips footer inference (a metastore's job)
    infer = lambda: spark.read.parquet(path).schema  # noqa: E731
    schema = session_memo(spark, ("table_schema", path), [path], infer)
    raw = spark.read.schema(schema).parquet(path)
    if name != "events":
        return raw
    if isinstance(raw.schema["ts"].dataType, LongType):
        # `ts div 1000`, NOT `ts / 1000`: the nanosecond epoch (~1.7e18)
        # exceeds double's 2^53 exact-integer range, so float division is
        # off by ±1 µs on some rows; integer div is exact and matches
        # DuckDB's epoch_us() truncation bit-for-bit.
        ts_us = F.expr("ts div 1000")
        ts_ntz = F.expr(
            "TIMESTAMP_NTZ '1970-01-01 00:00:00' + make_dt_interval(0, 0, 0, "
            "cast(ts div 1000 as decimal(20, 0)) / 1000000)"
        )
    else:
        # This branch is only correct when parquet timestamp[us]
        # decodes as TIMESTAMP_NTZ. If the file was written with
        # isAdjustedToUTC=true (or inferTimestampNTZ is disabled),
        # Spark yields TIMESTAMP_LTZ and both ts and ts_us would
        # silently become session-timezone-dependent — fail loudly
        # instead of shipping TZ-dependent "deterministic" columns.
        if not isinstance(raw.schema["ts"].dataType, TimestampNTZType):
            raise TypeError(
                f"events.ts decoded as {raw.schema['ts'].dataType}; expected "
                "TIMESTAMP_NTZ. The parquet column is UTC-adjusted or "
                "spark.sql.parquet.inferTimestampNTZ.enabled is off — "
                "normalize the file or the session before loading."
            )
        ts_us = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
        ts_ntz = F.col("ts")
    return raw.select(
        "event_id",
        ts_ntz.alias("ts"),
        ts_us.alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
