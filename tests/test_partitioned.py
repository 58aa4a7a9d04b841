"""Partitioned-layout contract (sinks/partitioned.py): directory-level
partition pruning must show up in the physical plan (PartitionFilters,
matched file counts) and dynamic overwrite must touch only the
partitions present in the incoming frame. The asserts read the plan:
a silent pruning regression means a full-table scan per filtered
query at 100 TB."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row

from dbm_nca_ph_etl_spark.sinks.partitioned import (
    overwrite_partitions,
    read_partitioned,
    write_partitioned,
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lake") / "docs")
    rows = [
        Row(doc_id=i, lang=["en", "fr", "de"][i % 3], text=f"doc {i}")
        for i in range(300)
    ]
    write_partitioned(spark.createDataFrame(rows), path, ["lang"])
    return path


class TestPruning:
    def test_partition_directories_exist(self, lake):
        assert sorted(
            d for d in os.listdir(lake) if d.startswith("lang=")
        ) == ["lang=de", "lang=en", "lang=fr"]

    def test_filter_becomes_partition_filter(self, spark, lake):
        df = read_partitioned(spark, lake).where(F.col("lang") == "en")
        plan = plan_of(df)
        assert "PartitionFilters" in plan and "lang" in plan.split(
            "PartitionFilters"
        )[1].split("]")[0]

    def test_pruned_scan_reads_one_partition(self, spark, lake):
        df = read_partitioned(spark, lake).where(F.col("lang") == "en")
        assert df.count() == 100
        # matched partition count: selectedPartitions is not printed, so
        # assert via input_file_name cardinality — only en files read
        files = {
            r[0]
            for r in df.select(F.input_file_name()).distinct().collect()
        }
        assert files and all("lang=en" in f for f in files)

    def test_partition_value_roundtrip_typed(self, spark, lake):
        df = read_partitioned(spark, lake)
        assert df.where(F.col("lang") == "fr").count() == 100
        assert set(df.select("lang").distinct().toPandas()["lang"]) == {
            "en",
            "fr",
            "de",
        }


class TestDynamicOverwrite:
    def test_overwrite_touches_only_incoming_partitions(self, spark, tmp_path):
        path = str(tmp_path / "dyn")
        base = spark.createDataFrame(
            [Row(k=i, day=d) for d in ("d1", "d2", "d3") for i in range(10)]
        )
        write_partitioned(base, path, ["day"])
        patch = spark.createDataFrame([Row(k=i + 100, day="d2") for i in range(5)])
        overwrite_partitions(patch, path, ["day"])
        out = read_partitioned(spark, path)
        assert out.where(F.col("day") == "d1").count() == 10  # untouched
        assert out.where(F.col("day") == "d3").count() == 10  # untouched
        d2 = sorted(
            r["k"] for r in out.where(F.col("day") == "d2").collect()
        )
        assert d2 == [100, 101, 102, 103, 104]  # replaced wholesale

    def test_replay_idempotent(self, spark, tmp_path):
        path = str(tmp_path / "replay")
        base = spark.createDataFrame([Row(k=i, day="d1") for i in range(8)])
        write_partitioned(base, path, ["day"])
        patch = spark.createDataFrame([Row(k=i, day="d1") for i in range(3)])
        overwrite_partitions(patch, path, ["day"])
        overwrite_partitions(patch, path, ["day"])
        assert read_partitioned(spark, path).count() == 3
