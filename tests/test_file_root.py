"""Sinks rooted at Spark's ``file:/…`` spelling of a local path.

``get_fs`` sends ``file:/…`` to ``PosixLakeFS`` (it has no ``://``),
so every adapter call and every POSIX-only step of the sinks must
resolve it to the on-disk name (``sources/lakefs.local_path``). Each
flow below runs once at ``file:/<tmp>/…`` and once at the bare path:
both must read back the same rows, and nothing may land in a literal
``file:`` directory under the working directory.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F


@pytest.fixture
def roots(tmp_path, monkeypatch):
    """(file:-spelled root, bare root) in fresh directories, with the
    working directory moved to an empty one so a stray relative
    ``file:`` directory is caught."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    yield f"file:{tmp_path}/spelled", str(tmp_path / "bare")
    assert os.listdir(cwd) == [], "a file: path was written relative to the cwd"


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _nca_flow(spark, root):
    from dbm_nca_ph_etl_spark.sinks.merge import NCAStore

    store = NCAStore(spark, root)
    store.upsert_releases(
        spark.createDataFrame([Row(id="r1", year=2024), Row(id="r2", year=2025)])
    )
    store.load_batch(
        spark.createDataFrame(
            [
                Row(nca_number="N1", department="DepEd", release_id="r1"),
                Row(nca_number="N2", department="DOH", release_id="r2"),
            ]
        ),
        spark.createDataFrame(
            [
                Row(nca_number="N1", amount=10.0, release_id="r1"),
                Row(nca_number="N2", amount=30.0, release_id="r2"),
            ]
        ),
    )
    # an update of r1: cascade its children away, then reload it
    store.delete_children(spark.createDataFrame([Row(id="r1")]))
    store.upsert_releases(spark.createDataFrame([Row(id="r1", year=2026)]))
    store.load_batch(
        spark.createDataFrame(
            [Row(nca_number="N3", department="DepEd-2", release_id="r1")]
        ),
        spark.createDataFrame([Row(nca_number="N3", amount=5.0, release_id="r1")]),
    )
    store.delete_releases(spark.createDataFrame([Row(id="r2")]))
    return {t: _rows(store.read(t)) for t in ("release", "record", "allocation")}


def _keyed_flow(spark, root):
    from dbm_nca_ph_etl_spark.sinks.keyed import (
        delete_keyed,
        read_keyed,
        upsert_keyed,
        write_keyed,
    )

    schema = "id long, v string"
    base = spark.createDataFrame([(i, f"v{i}") for i in range(6)], schema)
    write_keyed(base, root, ["id"], 4)
    upsert_keyed(
        spark, spark.createDataFrame([(2, "v2x"), (9, "v9")], schema), root, ["id"]
    )
    delete_keyed(spark, root, spark.createDataFrame([(0,), (5,)], "id long"), ["id"])
    return _rows(read_keyed(spark, root))


def _matview_flow(spark, root):
    from dbm_nca_ph_etl_spark.sinks.matview import MaterializedAgg, Measure

    view = MaterializedAgg(spark, root, ["k"], [Measure("s", "v", "sum")])
    b1 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    assert view.refresh(b1, "b1")
    assert view.refresh(spark.createDataFrame([("a", 10)], "k string, v long"), "b2")
    assert not view.refresh(b1, "b1"), "a replayed batch must be a no-op"
    assert view.applied_batches() == {"b1", "b2"}
    return _rows(view.read_partials().select("k", F.col("s").cast("long")))


class TestFileSchemeRoot:
    def test_nca_store(self, spark, roots, tmp_path):
        spelled, bare = roots
        got = _nca_flow(spark, spelled)
        assert got == _nca_flow(spark, bare)
        assert got["release"] == [("r1", 2026)]
        assert [r[-1] for r in got["allocation"]] == ["r1"]
        assert os.path.isdir(tmp_path / "spelled" / "record")

    def test_keyed_table(self, spark, roots, tmp_path):
        spelled, bare = roots
        got = _keyed_flow(spark, spelled)
        assert got == _keyed_flow(spark, bare)
        assert got == [(1, "v1"), (2, "v2x"), (3, "v3"), (4, "v4"), (9, "v9")]

    def test_matview(self, spark, roots, tmp_path):
        spelled, bare = roots
        got = _matview_flow(spark, spelled)
        assert got == _matview_flow(spark, bare)
        assert got == [("a", 11), ("b", 2)]
        assert sorted(
            d for d in os.listdir(tmp_path / "spelled") if d.startswith("v")
        ) == ["v000000_bb1", "v000001_bb2"]

    def test_writer_lease(self, roots, tmp_path):
        from dbm_nca_ph_etl_spark.sinks.txlog import LEASE_FILE, WriterLease

        spelled, bare = roots
        for root, other, disk in (
            (spelled, str(tmp_path / "spelled"), tmp_path / "spelled"),
            (bare, f"file:{bare}", tmp_path / "bare"),
        ):
            lease = WriterLease(root, ttl_s=30.0)
            assert lease.acquire(timeout_s=5.0) == 1
            assert lease.is_current()
            on_disk = os.path.join(str(disk), LEASE_FILE)
            assert os.path.exists(on_disk)
            # a writer using the other spelling sees the held lease
            with pytest.raises(TimeoutError):
                WriterLease(other, ttl_s=30.0).acquire(timeout_s=0.2)
            lease.release()
            assert not os.path.exists(on_disk)
