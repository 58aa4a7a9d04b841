"""Lake introspection: distributed footer reads vs the data itself."""

import pyspark.sql.functions as F
import pytest

from dbm_nca_ph_etl_spark.sources.introspect import (
    footer_column_summary,
    parquet_footer_stats,
)


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """A 4-file parquet directory with nulls and a known value range."""
    dest = str(tmp_path_factory.mktemp("introspect") / "t")
    (
        spark.range(0, 10_000)
        .select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 7 == 0, None)
            .otherwise((F.col("id") * 3) % 1000)
            .alias("v"),
            F.concat(F.lit("s"), (F.col("id") % 50).cast("string")).alias("tag"),
        )
        .repartition(4)
        .write.mode("overwrite")
        .parquet(dest)
    )
    return dest


class TestFooterStats:
    def test_per_chunk_rows_cover_all_files_and_columns(self, spark, lake):
        stats = parquet_footer_stats(spark, lake).toPandas()
        assert set(stats["col"]) == {"k", "v", "tag"}
        assert stats["file"].nunique() == 4
        # every (file, row_group) has all three leaf columns
        per_rg = stats.groupby(["file", "row_group"])["col"].nunique()
        assert (per_rg == 3).all()
        # value counts include nulls; they sum to the table row count
        assert stats.loc[stats["col"] == "v", "n_values"].sum() == 10_000

    def test_column_filter(self, spark, lake):
        only_k = parquet_footer_stats(spark, lake, ["k"]).toPandas()
        assert set(only_k["col"]) == {"k"}

    def test_summary_matches_data_exactly(self, spark, lake):
        """The audit invariant: footer-derived totals == scanning the rows."""
        summary = {
            r["col"]: r
            for r in footer_column_summary(spark, lake, ["k", "v"]).collect()
        }
        data = (
            spark.read.parquet(lake)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count("v").alias("v_nonnull"),
                F.min("k").alias("kmin"),
                F.max("k").alias("kmax"),
                F.min("v").alias("vmin"),
                F.max("v").alias("vmax"),
            )
            .first()
        )
        assert summary["k"]["n_values"] == data["n"]
        assert summary["k"]["n_nulls"] == 0
        assert summary["k"]["vmin"] == float(data["kmin"])
        assert summary["k"]["vmax"] == float(data["kmax"])
        assert summary["v"]["n_nulls"] == data["n"] - data["v_nonnull"]
        assert summary["v"]["vmin"] == float(data["vmin"])
        assert summary["v"]["vmax"] == float(data["vmax"])

    def test_string_stats_surface_as_strings(self, spark, lake):
        stats = parquet_footer_stats(spark, lake, ["tag"]).toPandas()
        assert stats["vmin_str"].notna().all()
        # numeric view of a string column stays null rather than lying
        assert stats["vmin"].isna().all()

    def test_footer_read_is_executor_side(self, spark, lake):
        """The plan is a mapInPandas over the file list — footer bytes
        never route through the driver."""
        plan = parquet_footer_stats(spark, lake)._sc._jvm.PythonSQLUtils.explainString(
            parquet_footer_stats(spark, lake)._jdf.queryExecution(), "simple"
        )
        assert "MapInPandas" in plan

    @pytest.mark.parametrize("name", ["a b", "x%41y"], ids=["space", "literal-percent"])
    def test_table_dir_name_is_read_as_on_disk(self, spark, tmp_path, name):
        """``inputFiles()`` spells ``a b`` as ``a%20b`` and ``x%41y`` as
        ``x%2541y``: the footer scan decodes each name exactly once, so
        it opens the files on disk (a second decode would look for
        ``xAy``)."""
        import os

        from dbm_nca_ph_etl_spark.sources.lakefs import local_path

        dest = tmp_path / name
        spark.range(5).coalesce(1).write.parquet(str(dest))
        stats = parquet_footer_stats(spark, str(dest)).toPandas()
        assert stats["n_values"].sum() == 5
        assert all(
            os.path.dirname(local_path(f)) == str(dest) for f in stats["file"]
        )
