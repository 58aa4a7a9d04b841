"""Incremental digest verification on the keyed layout: a merge's
touched-bucket set drives a partition-pruned re-digest whose splice
into the stored digest table equals a full re-digest; corruption
localizes to its bucket (operators/integrity keyed_digest /
refresh_digest / diff_digest)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.operators.integrity import (
    canon_fingerprint,
    diff_digest,
    keyed_digest,
    refresh_digest,
    with_canon,
)
from dbm_nca_ph_etl_spark.sinks.keyed import (
    KB_COL,
    delete_keyed,
    upsert_keyed,
    write_keyed,
)

N_BUCKETS = 8
CANON = lambda: [F.col("k").cast("string"), F.col("v")]  # noqa: E731


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "k long, v string"
    )
    write_keyed(base, path, ["k"], num_buckets=N_BUCKETS)
    return path


class TestIncrementalDigest:
    def test_upsert_then_incremental_equals_full(self, spark, table):
        # materialize the pre-merge digest: its lazy plan reads files
        # the upsert is about to rewrite
        stored = keyed_digest(spark, table, CANON()).localCheckpoint(eager=True)
        stored_rows = _rows(stored)
        assert 1 < len(stored_rows) <= N_BUCKETS

        batch = spark.createDataFrame(
            [(3, "NEW3"), (17, "NEW17"), (99, "v99")], "k long, v string"
        )
        touched = upsert_keyed(spark, batch, table, ["k"])
        assert touched  # the merge reports its bucket set

        partial = keyed_digest(spark, table, CANON(), buckets=touched)
        incremental = refresh_digest(stored, partial, touched)
        full = keyed_digest(spark, table, CANON())
        assert _rows(incremental) == _rows(full)
        # and the content actually changed vs the pre-merge digest
        assert _rows(full) != stored_rows
        # ...only in the touched buckets
        changed = {r[0] for r in diff_digest(stored, full).collect()}
        assert changed <= set(touched)

    def test_partial_scan_is_partition_pruned(self, spark, table):
        touched = upsert_keyed(
            spark,
            spark.createDataFrame([(3, "x")], "k long, v string"),
            table,
            ["k"],
        )
        partial = keyed_digest(spark, table, CANON(), buckets=touched)
        plan = partial._sc._jvm.PythonSQLUtils.explainString(
            partial._jdf.queryExecution(), "formatted"
        )
        assert "PartitionFilters" in plan and KB_COL in plan, plan

    def test_delete_empties_bucket_and_still_reconciles(self, spark, table):
        stored = keyed_digest(spark, table, CANON()).localCheckpoint(eager=True)
        # delete every key in one bucket: its digest row must vanish
        base = spark.read.parquet(table)
        some_bucket = base.select(KB_COL).first()[0]
        doomed = base.where(F.col(KB_COL) == some_bucket).select("k")
        touched = delete_keyed(spark, table, doomed, ["k"])
        assert some_bucket in touched
        partial = keyed_digest(spark, table, CANON(), buckets=touched)
        incremental = refresh_digest(stored, partial, touched)
        full = keyed_digest(spark, table, CANON())
        assert _rows(incremental) == _rows(full)
        assert some_bucket not in {r[0] for r in full.collect()}

    def test_corruption_localizes_to_its_bucket(self, spark, table):
        expected = keyed_digest(spark, table, CANON()).localCheckpoint()
        # corrupt one bucket directory behind the digest's back:
        # flip a value without changing the row count
        victim = spark.read.parquet(table).select(KB_COL).first()[0]
        bucket_dir = f"{table}/{KB_COL}={victim}"
        rows = spark.read.parquet(bucket_dir).localCheckpoint(eager=True)
        corrupted = rows.withColumn(
            "v",
            F.when(
                F.col("k") == rows.select(F.min("k")).first()[0],
                F.lit("CORRUPTED"),
            ).otherwise(F.col("v")),
        )
        corrupted.write.mode("overwrite").parquet(bucket_dir)

        actual = keyed_digest(spark, table, CANON())
        bad = diff_digest(expected, actual).collect()
        assert [r.bucket for r in bad] == [victim]
        r = bad[0]
        # a value-only corruption keeps the row count, changes the digest
        assert r.n_rows_expected == r.n_rows_actual
        assert r.digest_expected != r.digest_actual

    def test_one_sided_bucket_is_a_mismatch(self, spark):
        a = spark.createDataFrame(
            [(0, 2, "d0"), (1, 3, "d1")], "bucket long, n_rows long, digest string"
        )
        b = spark.createDataFrame(
            [(0, 2, "d0")], "bucket long, n_rows long, digest string"
        )
        bad = diff_digest(a, b).collect()
        assert [r.bucket for r in bad] == [1]
        assert bad[0].n_rows_actual is None


# a DIFFERENT canonicalization of the same table — e.g. the recipe
# after an evolve_schema upsert added a column
CANON_WIDE = lambda: [  # noqa: E731
    F.col("k").cast("string"),
    F.col("v"),
    F.lit(None).cast("string"),
]


class TestCanonDrift:
    """Recipe drift between a stored digest and a re-digest must fail
    loudly (with_canon stamp + refresh/diff check) — silently diffing
    across canon_cols flags every untouched bucket as corrupt."""

    def test_refresh_raises_on_recipe_drift(self, spark, table):
        stored = with_canon(
            keyed_digest(spark, table, CANON()), CANON()
        ).localCheckpoint(eager=True)
        touched = upsert_keyed(
            spark,
            spark.createDataFrame([(3, "x")], "k long, v string"),
            table,
            ["k"],
        )
        partial = with_canon(
            keyed_digest(spark, table, CANON_WIDE(), buckets=touched), CANON_WIDE()
        )
        with pytest.raises(ValueError, match="canonicalization drift"):
            refresh_digest(stored, partial, touched)

    def test_diff_raises_on_recipe_drift(self, spark, table):
        a = with_canon(keyed_digest(spark, table, CANON()), CANON())
        b = with_canon(keyed_digest(spark, table, CANON_WIDE()), CANON_WIDE())
        with pytest.raises(ValueError, match="canonicalization drift"):
            diff_digest(a, b)

    def test_unstamped_against_stamped_is_drift(self, spark, table):
        # recipe UNKNOWN is not recipe EQUAL: one-sided stamps raise
        stamped = with_canon(keyed_digest(spark, table, CANON()), CANON())
        bare = keyed_digest(spark, table, CANON())
        with pytest.raises(ValueError, match="canonicalization drift"):
            diff_digest(stamped, bare)

    def test_same_recipe_passes_and_splices(self, spark, table):
        stored = with_canon(
            keyed_digest(spark, table, CANON()), CANON()
        ).localCheckpoint(eager=True)
        touched = upsert_keyed(
            spark,
            spark.createDataFrame([(3, "x")], "k long, v string"),
            table,
            ["k"],
        )
        partial = with_canon(
            keyed_digest(spark, table, CANON(), buckets=touched), CANON()
        )
        incremental = refresh_digest(stored, partial, touched)
        full = with_canon(keyed_digest(spark, table, CANON()), CANON())
        assert _rows(incremental) == _rows(full)
        assert diff_digest(incremental, full).count() == 0

    def test_mixed_stamps_within_one_table_raise(self, spark):
        mixed = spark.createDataFrame(
            [(0, 1, "d0", "fpA"), (1, 1, "d1", "fpB")],
            "bucket long, n_rows long, digest string, _canon string",
        )
        clean = mixed.where(F.col("bucket") == 0)
        with pytest.raises(ValueError, match="mixed canonicalization"):
            diff_digest(mixed, clean)

    def test_fingerprint_is_deterministic_and_recipe_sensitive(self):
        assert canon_fingerprint(CANON()) == canon_fingerprint(CANON())
        assert canon_fingerprint(CANON()) != canon_fingerprint(CANON_WIDE())


SCD2_CANON = lambda: [  # noqa: E731
    F.col("id").cast("string"),
    F.col("bal").cast("string"),
    F.col("valid_from").cast("string"),
    F.col("valid_to").cast("string"),
]


class TestScd2IncrementalDigest:
    """scd2_apply_keyed returns touched buckets (sinks/keyed.py) —
    the incremental digest contract must hold for the versioned-
    dimension path too: splice == full re-digest, mismatch localizes."""

    def _dim(self, spark, tmp_path):
        path = str(tmp_path / "dim")
        cur = spark.createDataFrame(
            [(i, i * 10, 100, None) for i in range(30)],
            "id long, bal long, valid_from long, valid_to long",
        )
        write_keyed(cur, path, ["id"], num_buckets=N_BUCKETS)
        return path

    def test_scd2_incremental_equals_full(self, spark, tmp_path):
        from dbm_nca_ph_etl_spark.sinks.keyed import scd2_apply_keyed

        path = self._dim(spark, tmp_path)
        stored = keyed_digest(spark, path, SCD2_CANON()).localCheckpoint(
            eager=True
        )
        changes = spark.createDataFrame(
            [(7, 777), (19, 1919)], "id long, bal long"
        )
        touched = scd2_apply_keyed(spark, path, changes, ["id"], effective=200)
        assert touched

        partial = keyed_digest(spark, path, SCD2_CANON(), buckets=touched)
        incremental = refresh_digest(stored, partial, touched)
        full = keyed_digest(spark, path, SCD2_CANON())
        assert _rows(incremental) == _rows(full)
        # the close+new-version rewrite changed exactly the touched set
        changed = {r.bucket for r in diff_digest(stored, full).collect()}
        assert changed
        assert changed <= set(touched)


class TestStreamedEpochIncrementalDigest:
    """``upsert_keyed_serialized`` logs each upsert's touched buckets
    in the commit log (sinks/txlog) — after an ingest batch the
    incremental re-digest over the union of logged buckets must equal
    a full re-digest, and the change must localize to those buckets."""

    def test_streamed_epoch_incremental_equals_full(self, spark, tmp_path):
        from dbm_nca_ph_etl_spark.sinks.txlog import (
            CommitLog,
            upsert_keyed_serialized,
        )

        path = str(tmp_path / "tbl")
        base = spark.createDataFrame(
            [(i, f"v{i}") for i in range(40)], "k long, v string"
        )
        write_keyed(base, path, ["k"], num_buckets=N_BUCKETS)
        stored = keyed_digest(spark, path, CANON()).localCheckpoint(eager=True)

        batch = spark.createDataFrame(
            [(3, "STREAMED3"), (99, "v99")], "k long, v string"
        )
        upsert_keyed_serialized(spark, batch, path, ["k"], writer="ingest")

        touched = sorted(
            {
                b
                for e in CommitLog(path).entries()
                if e.get("op") == "upsert"
                for b in e["buckets"]
            }
        )
        assert touched

        partial = keyed_digest(spark, path, CANON(), buckets=touched)
        incremental = refresh_digest(stored, partial, touched)
        full = keyed_digest(spark, path, CANON())
        assert _rows(incremental) == _rows(full)
        assert _rows(full) != _rows(stored)
        changed = {r.bucket for r in diff_digest(stored, full).collect()}
        assert changed <= set(touched)


class TestCanonStampVersioning:
    """The stamp records the PySpark renderer version beside the
    fingerprint: equality compares only the fingerprint (a version
    bump with a stable rendering never fails), but when fingerprints
    DO differ across versions the error diagnoses renderer drift
    instead of masquerading as a recipe change. ``spec=`` stamps are
    renderer-independent entirely."""

    def test_version_bump_with_stable_rendering_passes(self, spark, table):
        a = with_canon(keyed_digest(spark, table, CANON()), CANON())
        fp = canon_fingerprint(CANON())
        b = keyed_digest(spark, table, CANON()).withColumn(
            "_canon", F.lit(f"{fp}@9.9.9")
        )
        assert diff_digest(a, b).count() == 0

    def test_cross_version_drift_diagnoses_renderer(self, spark, table):
        fresh = with_canon(keyed_digest(spark, table, CANON()), CANON())
        old = keyed_digest(spark, table, CANON()).withColumn(
            "_canon", F.lit("0" * 32 + "@0.0.0")
        )
        with pytest.raises(ValueError, match="RENDERER"):
            diff_digest(old, fresh)

    def test_same_version_drift_stays_recipe_diagnosis(self, spark, table):
        a = with_canon(keyed_digest(spark, table, CANON()), CANON())
        b = with_canon(keyed_digest(spark, table, CANON_WIDE()), CANON_WIDE())
        with pytest.raises(ValueError, match="current canon_cols"):
            diff_digest(a, b)

    def test_spec_fingerprint_is_renderer_independent(self):
        s = "k:string|v"
        assert canon_fingerprint(CANON(), spec=s) == canon_fingerprint(
            CANON_WIDE(), spec=s
        )
        assert canon_fingerprint(CANON(), spec=s) != canon_fingerprint(
            CANON(), spec="other"
        )

    def test_spec_stamps_compare_equal_across_column_objects(
        self, spark, table
    ):
        a = with_canon(
            keyed_digest(spark, table, CANON()), CANON(), spec="recipe-v1"
        )
        b = with_canon(
            keyed_digest(spark, table, CANON()), CANON(), spec="recipe-v1"
        )
        assert diff_digest(a, b).count() == 0

    def test_refresh_across_versions_same_recipe_stays_valid(
        self, spark, table
    ):
        """A baseline refreshed across a PySpark upgrade carries rows
        stamped under TWO versions with one fingerprint — that is one
        recipe, not a mixed table: the spliced digest must keep
        working (diff clean vs a fresh stamp), while two distinct
        FINGERPRINTS still raise."""
        fp = canon_fingerprint(CANON())
        stored = keyed_digest(spark, table, CANON()).withColumn(
            "_canon", F.lit(f"{fp}@0.0.0")  # written under an old runtime
        ).localCheckpoint(eager=True)
        touched = upsert_keyed(
            spark,
            spark.createDataFrame([(3, "x")], "k long, v string"),
            table,
            ["k"],
        )
        partial = with_canon(
            keyed_digest(spark, table, CANON(), buckets=touched), CANON()
        )
        spliced = refresh_digest(stored, partial, touched)
        full = with_canon(keyed_digest(spark, table, CANON()), CANON())
        assert diff_digest(spliced, full).count() == 0

    def test_newest_version_pick_is_numeric_not_lexicographic(self):
        """'fp@10.0.0' must beat 'fp@9.9.9' (and legacy unversioned
        stamps sort oldest) so the drift diagnosis cites the true
        newest renderer once PySpark versions reach double digits."""
        from dbm_nca_ph_etl_spark.operators.integrity import (
            _stamp_sort_key,
        )

        fp = "a" * 32
        vals = [f"{fp}@9.9.9", f"{fp}@10.0.0", fp, f"{fp}@4.1.2"]
        assert max(vals, key=_stamp_sort_key) == f"{fp}@10.0.0"
        assert min(vals, key=_stamp_sort_key) == fp  # legacy oldest
        # non-numeric segments fall back without raising
        assert _stamp_sort_key(f"{fp}@4.1.0rc1") < _stamp_sort_key(
            f"{fp}@4.1.2"
        )
