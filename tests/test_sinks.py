"""Sink tests: upsert merge, delete, FK-cascade, and replay-idempotent
NCA loading (SURVEY §2.1 S10-S14, §2.5 J3, §2.9 T6).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from dbm_nca_ph_etl_spark.sinks import NCAStore, upsert_parquet


def rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


class TestUpsertParquet:
    def test_insert_then_update(self, spark, tmp_path):
        p = str(tmp_path / "t")
        upsert_parquet(
            spark,
            spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)]),
            p,
            ["k"],
        )
        # replay with one update + one insert: last write wins on 'b'
        upsert_parquet(
            spark,
            spark.createDataFrame([Row(k="b", v=20), Row(k="c", v=3)]),
            p,
            ["k"],
        )
        assert rows(spark.read.parquet(p), "k", "v") == [("a", 1), ("b", 20), ("c", 3)]

    def test_replay_idempotent(self, spark, tmp_path):
        p = str(tmp_path / "t")
        df = spark.createDataFrame([Row(k="a", v=1)])
        upsert_parquet(spark, df, p, ["k"])
        upsert_parquet(spark, df, p, ["k"])
        assert rows(spark.read.parquet(p), "k", "v") == [("a", 1)]

    def test_dotted_column_survives_merge(self, spark, tmp_path):
        """The merge republishes columns by their exact names, so a dot
        in one is not read as a struct field."""
        p = str(tmp_path / "t")
        for v in (1, 2):
            upsert_parquet(spark, spark.createDataFrame([("a", v)], "k string, `v.x` int"), p, ["k"])
        out = spark.read.parquet(p)
        assert out.columns == ["k", "v.x"]
        assert [tuple(r) for r in out.collect()] == [("a", 2)]


class _ObjectStoreFS:
    """Disk-backed fake with OBJECT-STORE semantics: no atomic
    rename; publishes are single PUTs. Records every pointer PUT so
    tests can prove commits flow through the seam (the pattern of
    test_lakefs._RerootedFS, kept at real paths so Spark's parquet
    IO still works underneath)."""

    atomic_rename = False

    def __init__(self):
        from dbm_nca_ph_etl_spark.sources.lakefs import PosixLakeFS

        self._inner = PosixLakeFS()
        self.puts: list[str] = []

    def ls(self, path, suffixes=None):
        return self._inner.ls(path, suffixes)

    def is_dir(self, path):
        return self._inner.is_dir(path)

    def read_bytes(self, path):
        return self._inner.read_bytes(path)

    def write_bytes(self, path, data):
        # single-object PUT — all-or-nothing on close, NO tmp+rename
        self.puts.append(path)
        with open(path, "wb") as fh:
            fh.write(data)

    def exists(self, path):
        return self._inner.exists(path)

    def size(self, path):
        return self._inner.size(path)

    def mkdirs(self, path):
        self._inner.mkdirs(path)

    def delete_dir(self, path):
        self._inner.delete_dir(path)

    def delete_file(self, path):
        self._inner.delete_file(path)

    def put_if_absent(self, path, data):
        self.puts.append(path)
        return self._inner.put_if_absent(path, data)

    def ls_dirs(self, path):
        return self._inner.ls_dirs(path)


class TestObjectStoreLayout:
    """The merge sinks against object-store semantics: version-dir +
    _CURRENT pointer PUT instead of directory rename (SURVEY T6 on a
    store with no atomic rename)."""

    def test_upsert_versioned_commit_and_gc(self, spark, tmp_path):
        import os

        from dbm_nca_ph_etl_spark.sinks.merge import read_table

        fs = _ObjectStoreFS()
        p = str(tmp_path / "t")
        upsert_parquet(
            spark,
            spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)]),
            p,
            ["k"],
            fs,
        )
        upsert_parquet(
            spark,
            spark.createDataFrame([Row(k="b", v=20), Row(k="c", v=3)]),
            p,
            ["k"],
            fs,
        )
        assert rows(read_table(spark, p, fs), "k", "v") == [
            ("a", 1), ("b", 20), ("c", 3),
        ]
        # layout: pointer file + current AND pre-flip version (a
        # one-flip grace window so in-flight readers that resolved
        # the old pointer keep their files — matview's keep=2)
        entries = os.listdir(p)
        assert "_CURRENT" in entries
        versions = {d for d in entries if d.startswith("_v-")}
        assert len(versions) == 2
        # a third flip GCs the oldest: still 2, first version gone
        upsert_parquet(
            spark,
            spark.createDataFrame([Row(k="d", v=4)]),
            p,
            ["k"],
            fs,
        )
        survivors = {d for d in os.listdir(p) if d.startswith("_v-")}
        assert len(survivors) == 2
        assert len(survivors & versions) == 1  # grace version rotated
        # all commits went through the seam's single-PUT publish
        assert len([x for x in fs.puts if x.endswith("_CURRENT")]) == 3
        # plain read of the table path would see no data files at top
        # level — readers must resolve the pointer (read_table)
        with open(os.path.join(p, "_CURRENT"), encoding="utf-8") as fh:
            current = fh.read().strip()
        assert current in survivors and current not in versions

    def test_replay_idempotent_object_store(self, spark, tmp_path):
        from dbm_nca_ph_etl_spark.sinks.merge import read_table

        fs = _ObjectStoreFS()
        p = str(tmp_path / "t")
        df = spark.createDataFrame([Row(k="a", v=1)])
        upsert_parquet(spark, df, p, ["k"], fs)
        upsert_parquet(spark, df, p, ["k"], fs)
        assert rows(read_table(spark, p, fs), "k", "v") == [("a", 1)]

    def test_gc_never_sweeps_unflipped_writer_dir(self, spark, tmp_path):
        """GC is scoped to versions the pointer history names: a
        ``_v-*`` dir written by a slow/zombie writer that has NOT yet
        PUT ``_CURRENT`` must survive any number of concurrent flips —
        sweeping it would dangle the zombie's later flip (all reads
        fail). The old all-but-keep GC failed exactly this."""
        import os

        from dbm_nca_ph_etl_spark.sinks.merge import read_table

        fs = _ObjectStoreFS()
        p = str(tmp_path / "t")
        upsert_parquet(spark, spark.createDataFrame([Row(k="a", v=1)]), p, ["k"], fs)
        # zombie writer: version dir written, _CURRENT never PUT
        zombie = "_v-zombie000000"
        spark.createDataFrame([Row(k="z", v=99)]).write.parquet(
            os.path.join(p, zombie)
        )
        for v in (2, 3, 4):  # three flips = full grace-window rotation
            upsert_parquet(
                spark, spark.createDataFrame([Row(k="a", v=v)]), p, ["k"], fs
            )
        assert zombie in os.listdir(p)  # orphan survives every GC
        # the zombie now flips _CURRENT — the pointer must not dangle
        with open(os.path.join(p, "_CURRENT"), "w", encoding="utf-8") as fh:
            fh.write(zombie)
        assert rows(read_table(spark, p, fs), "k", "v") == [("z", 99)]
        # once flipped, the zombie IS pointer history: the next flip
        # keeps it as the grace version, the flip after retires it.
        upsert_parquet(spark, spark.createDataFrame([Row(k="a", v=5)]), p, ["k"], fs)
        assert zombie in os.listdir(p)  # grace of the v5 flip
        upsert_parquet(spark, spark.createDataFrame([Row(k="a", v=6)]), p, ["k"], fs)
        assert zombie not in os.listdir(p)  # retired two flips later
        assert rows(read_table(spark, p, fs), "k", "v") == [("a", 6), ("z", 99)]

    def test_matview_marker_commit_on_object_store(self, spark, tmp_path):
        import os

        from dbm_nca_ph_etl_spark.sinks.matview import MaterializedAgg, Measure

        fs = _ObjectStoreFS()
        view = MaterializedAgg(
            spark,
            str(tmp_path / "mv"),
            keys=["k"],
            measures=[Measure("total", "v", "sum")],
            fs=fs,
        )
        b1 = spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)])
        b2 = spark.createDataFrame([Row(k="a", v=10)])
        assert view.refresh(b1, "batch1") and view.refresh(b2, "batch2")
        assert not view.refresh(b1, "batch1"), "replayed batch must no-op"
        got = {r.k: r.total for r in view.read_partials().collect()}
        assert got == {"a": 11, "b": 2}
        # every surviving version carries its single-PUT commit marker
        vdirs = [
            d for d in os.listdir(tmp_path / "mv") if d.startswith("v")
        ]
        assert vdirs and all(
            os.path.exists(tmp_path / "mv" / d / "_COMMITTED") for d in vdirs
        )
        # an UNMARKED version dir (crash between data write and
        # marker PUT) is invisible and the batch re-applies cleanly
        orphan = tmp_path / "mv" / "v000099_bcrash"
        orphan.mkdir()
        assert "crash" not in view.applied_batches()
        assert view.refresh(spark.createDataFrame([Row(k="c", v=5)]), "b3")
        got = {r.k: r.total for r in view.read_partials().collect()}
        assert got == {"a": 11, "b": 2, "c": 5}

    def test_nca_store_cascade_on_object_store(self, spark, tmp_path):
        fs = _ObjectStoreFS()
        store, records, allocations = mk_store(spark, tmp_path, fs=fs)
        assert rows(store.read("record"), "nca_number") == [("N1",), ("N2",)]
        # replay the same batch: converges (T6)
        store.load_batch(records, allocations)
        assert rows(store.read("allocation"), "nca_number", "agency") == [
            ("N1", "A1"), ("N1", "A2"), ("N2", "B1"),
        ]
        # cascade delete of one release flows through all three tables
        store.delete_releases(spark.createDataFrame([Row(id="id_2024")]))
        assert rows(store.read("release"), "id") == [("id_2025",)]
        assert rows(store.read("record"), "nca_number") == [("N2",)]
        assert rows(store.read("allocation"), "nca_number") == [("N2",)]
        assert fs.puts, "commits must flow through the injected adapter"

    def test_sync_probes_release_through_adapter(self, spark, tmp_path, monkeypatch):
        """sync_releases asks the store's adapter whether ``release``
        exists; nothing in it resolves the default filesystem, which
        on an object store would look in the wrong place."""
        from dbm_nca_ph_etl_spark.nca.sync import sync_releases
        from dbm_nca_ph_etl_spark.sinks import merge

        class _SpyFS(_ObjectStoreFS):
            def __init__(self):
                super().__init__()
                self.probes: list[str] = []

            def exists(self, path):
                self.probes.append(path)
                return super().exists(path)

        def adapter_only(path, override=None):
            if override is None:
                pytest.fail(f"{path} resolved without the store's adapter")
            return override

        fs = _SpyFS()
        store = NCAStore(spark, str(tmp_path / "lake"), fs)
        monkeypatch.setattr(merge, "get_fs", adapter_only)
        for modified in ("m1", "m2"):  # insert, then update
            scraped = spark.createDataFrame(
                [Row(id="r", file_meta_created_at="c", file_meta_modified_at=modified)]
            )
            fs.probes.clear()
            sync_releases(spark, scraped, store).unpersist()
            assert fs.probes[0].startswith(store.path("release"))
        assert rows(store.read("release"), "file_meta_modified_at") == [("m2",)]

    def test_allocation_reload_is_one_publish(self, spark, tmp_path):
        """A release's allocations are replaced in a new version, so
        no version a reader may have resolved gains files after its
        ``_CURRENT`` PUT, and no reader sees the release without its
        allocations."""
        import os

        class _SnapshotFS(_ObjectStoreFS):
            def __init__(self):
                super().__init__()
                self.published: dict[str, list[str]] = {}

            def write_bytes(self, path, data):
                super().write_bytes(path, data)
                if path.endswith("_CURRENT"):
                    version = os.path.join(os.path.dirname(path), data.decode())
                    self.published[version] = sorted(os.listdir(version))

        fs = _SnapshotFS()
        store, records, allocations = mk_store(spark, tmp_path, fs=fs)
        store.load_batch(records, allocations)
        grown = [
            v
            for v, files in fs.published.items()
            if os.path.isdir(v) and sorted(os.listdir(v)) != files
        ]
        assert not grown, f"published versions gained files: {grown}"
        assert rows(store.read("allocation"), "nca_number", "agency") == [
            ("N1", "A1"), ("N1", "A2"), ("N2", "B1"),
        ]


def mk_store(spark, tmp_path, fs=None):
    store = NCAStore(spark, str(tmp_path / "lake"), fs)
    store.upsert_releases(
        spark.createDataFrame([Row(id="id_2024", year=2024), Row(id="id_2025", year=2025)])
    )
    records = spark.createDataFrame(
        [
            Row(nca_number="N1", department="DepEd", release_id="id_2024"),
            Row(nca_number="N2", department="DOH", release_id="id_2025"),
        ]
    )
    allocations = spark.createDataFrame(
        [
            Row(nca_number="N1", agency="A1", amount=10.0, release_id="id_2024"),
            Row(nca_number="N1", agency="A2", amount=20.0, release_id="id_2024"),
            Row(nca_number="N2", agency="B1", amount=30.0, release_id="id_2025"),
        ]
    )
    store.load_batch(records, allocations)
    return store, records, allocations


class TestNCAStore:
    def test_load_and_replay(self, spark, tmp_path):
        store, records, allocations = mk_store(spark, tmp_path)
        # replaying the same batch must NOT duplicate allocations
        # (the reference WOULD duplicate here — T6 divergence)
        store.load_batch(records, allocations)
        assert store.read("record").count() == 2
        assert rows(store.read("allocation"), "nca_number", "agency", "amount") == [
            ("N1", "A1", 10.0),
            ("N1", "A2", 20.0),
            ("N2", "B1", 30.0),
        ]

    def test_partial_release_reload(self, spark, tmp_path):
        """Re-extracting one release replaces only its allocations."""
        store, _, _ = mk_store(spark, tmp_path)
        store.load_batch(
            spark.createDataFrame(
                [Row(nca_number="N1", department="DepEd-2", release_id="id_2024")]
            ),
            spark.createDataFrame(
                [Row(nca_number="N1", agency="A9", amount=99.0, release_id="id_2024")]
            ),
        )
        assert rows(store.read("allocation"), "nca_number", "agency") == [
            ("N1", "A9"),
            ("N2", "B1"),
        ]
        # record upserted in place
        assert rows(store.read("record"), "nca_number", "department") == [
            ("N1", "DepEd-2"),
            ("N2", "DOH"),
        ]

    def test_cascade_delete(self, spark, tmp_path):
        store, _, _ = mk_store(spark, tmp_path)
        store.delete_releases(spark.createDataFrame([Row(id="id_2024")]))
        assert rows(store.read("release"), "id") == [("id_2025",)]
        assert rows(store.read("record"), "nca_number") == [("N2",)]
        assert rows(store.read("allocation"), "nca_number") == [("N2",)]

    def test_nca_number_moves_between_releases(self, spark, tmp_path):
        """A record upserts on nca_number, last write wins, so N1 ends
        under the later release; the cascade follows nca_number, so
        deleting that release also takes N1's allocations under the
        earlier one."""
        store = NCAStore(spark, str(tmp_path / "lake"))
        store.upsert_releases(spark.createDataFrame([Row(id="A"), Row(id="B")]))
        for rid, amount in (("A", 1.0), ("B", 2.0)):
            store.load_batch(
                spark.createDataFrame([Row(nca_number="N1", release_id=rid)]),
                spark.createDataFrame(
                    [Row(nca_number="N1", amount=amount, release_id=rid)]
                ),
            )
        assert rows(store.read("record"), "nca_number", "release_id") == [("N1", "B")]
        assert rows(store.read("allocation"), "release_id", "amount") == [
            ("A", 1.0), ("B", 2.0),
        ]
        store.delete_releases(spark.createDataFrame([Row(id="B")]))
        assert rows(store.read("release"), "id") == [("A",)]
        assert store.read("record").count() == 0
        assert store.read("allocation").count() == 0

    def test_store_calls_release_their_caches(self, spark, tmp_path):
        def persisted():
            return spark.sparkContext._jsc.getPersistentRDDs().size()

        store, _, _ = mk_store(spark, tmp_path)
        before = persisted()
        store.load_batch(
            spark.createDataFrame(
                [Row(nca_number="N3", department="DOH", release_id="id_2025")]
            ),
            spark.createDataFrame(
                [Row(nca_number="N3", agency="C1", amount=5.0, release_id="id_2025")]
            ),
        )
        assert persisted() == before
        store.delete_releases(spark.createDataFrame([Row(id="id_2024")]))
        assert persisted() == before
        assert rows(store.read("record"), "nca_number") == [("N2",), ("N3",)]

    def test_empty_batch_short_circuit(self, spark, tmp_path):
        store, _, _ = mk_store(spark, tmp_path)
        empty_r = store.read("record").limit(0)
        empty_a = store.read("allocation").limit(0)
        store.load_batch(empty_r, empty_a)
        assert store.read("record").count() == 2
        assert store.read("allocation").count() == 3

    def test_merge_keeps_column_order(self, spark, tmp_path):
        """A table's second publish keeps its first one's column order
        (the anti join's output puts the merge keys first)."""
        store = NCAStore(spark, str(tmp_path / "lake"))
        orders = []
        for amount in (1.0, 2.0):
            store.load_batch(
                spark.createDataFrame([Row(nca_number="N1", release_id="A")]),
                spark.createDataFrame(
                    [Row(nca_number="N1", amount=amount, release_id="A")]
                ),
            )
            orders.append(store.read("allocation").columns)
        assert orders == [["nca_number", "amount", "release_id"]] * 2
        assert rows(store.read("allocation"), "amount") == [(2.0,)]


class TestSortedLayout:
    def test_disjoint_file_ranges_and_pruning(self, spark, sf_dir, tmp_path):
        """write_sorted_parquet must leave pairwise-disjoint per-file
        key ranges (the property footer-stats pruning feeds on), and a
        range read over the layout must push the predicate to the scan."""
        import pyarrow.parquet as pq

        from dbm_nca_ph_etl_spark.sinks.maintenance import write_sorted_parquet
        from dbm_nca_ph_etl_spark.sources.catalog import load_table

        orders = load_table(spark, sf_dir, "orders")
        dest = str(tmp_path / "orders_sorted")
        write_sorted_parquet(orders, dest, ["o_orderdate"], num_files=8)

        import os

        parts = sorted(
            os.path.join(dest, f) for f in os.listdir(dest) if f.endswith(".parquet")
        )
        assert len(parts) > 1
        ranges = []
        for p in parts:
            md = pq.ParquetFile(p).metadata
            idx = md.schema.names.index("o_orderdate")
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            ranges.append((min(mins), max(maxs)))
        ranges.sort()
        for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
            assert hi <= lo  # contiguous, non-interleaved key ranges

        back = spark.read.parquet(dest).where("o_orderdate >= date'1995-06-01' AND o_orderdate < date'1995-07-01'")
        old = spark.conf.get("spark.sql.maxMetadataStringLength")
        spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
        try:
            plan = back._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.maxMetadataStringLength", old)
        assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan
        exact = orders.where(
            "o_orderdate >= date'1995-06-01' AND o_orderdate < date'1995-07-01'"
        ).count()
        assert back.count() == exact


class TestZorderLayout:
    def test_multi_dim_footer_pruning(self, spark, tmp_path):
        """A Z-order layout must give footer-stats pruning on BOTH
        clustered columns; the 1-D sorted layout prunes only its sort
        key. Measured from real footers via sources/introspect.py."""
        from dbm_nca_ph_etl_spark.sinks.maintenance import (
            write_sorted_parquet,
            write_zorder_parquet,
        )
        from dbm_nca_ph_etl_spark.sources.introspect import parquet_footer_stats

        import pyspark.sql.functions as F

        # 256x256 uniform grid: every (x, y) cell exactly once
        grid = spark.range(256 * 256).select(
            (F.col("id") % 256).alias("x"),
            (F.col("id") / 256).cast("long").alias("y"),
        )
        zdest = str(tmp_path / "z")
        sdest = str(tmp_path / "s")
        write_zorder_parquet(grid, zdest, ["x", "y"], num_files=16)
        write_sorted_parquet(grid, sdest, ["x"], num_files=16)

        def overlap_fraction(dest: str, col: str, lo: int, hi: int) -> float:
            stats = parquet_footer_stats(spark, dest, [col]).toPandas()
            per_file = stats.groupby("file").agg(mn=("vmin", "min"), mx=("vmax", "max"))
            hit = ((per_file["mx"] >= lo) & (per_file["mn"] <= hi)).sum()
            return hit / len(per_file)

        # predicate selecting 1/8th of each dimension's range
        assert overlap_fraction(zdest, "x", 0, 31) <= 0.5
        assert overlap_fraction(zdest, "y", 0, 31) <= 0.5
        # the 1-D layout: perfect on x, useless on y
        assert overlap_fraction(sdest, "x", 0, 31) <= 0.25
        assert overlap_fraction(sdest, "y", 0, 31) == 1.0

        # layout must not lose or duplicate rows, and the key column
        # must not leak into the written schema
        back = spark.read.parquet(zdest)
        assert back.columns == ["x", "y"]
        assert back.count() == 256 * 256
        assert back.distinct().count() == 256 * 256

    def test_zkey_handles_nulls_and_constant_columns(self, spark):
        from dbm_nca_ph_etl_spark.sinks.maintenance import zorder_key

        import pyspark.sql.functions as F

        df = spark.range(100).select(
            F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("a"),
            F.lit(7).alias("b"),
        )
        keyed, name = zorder_key(df, ["a", "b"], bits_per_col=4)
        rows = keyed.select(name).toPandas()
        assert rows[name].notna().all()  # nulls bucket to 0, never null key

    def test_zkey_bit_budget_guard(self, spark):
        from dbm_nca_ph_etl_spark.sinks.maintenance import zorder_key

        with pytest.raises(ValueError):
            zorder_key(spark.range(1), ["id"] * 8, bits_per_col=8)


class TestMaterializedAgg:
    def _view(self, spark, tmp_path):
        from dbm_nca_ph_etl_spark.sinks.matview import MaterializedAgg, Measure

        return MaterializedAgg(
            spark,
            str(tmp_path / "mv"),
            keys=["k"],
            measures=[
                Measure("n", "v", "count"),
                Measure("s", "v", "sum"),
            ],
        )

    @staticmethod
    def _batch(spark, rows):
        return spark.createDataFrame(rows, "k string, v long")

    def test_incremental_equals_direct(self, spark, tmp_path):
        mv = self._view(spark, tmp_path)
        assert mv.refresh(self._batch(spark, [("a", 1), ("a", 2), ("b", 5)]), "b1")
        assert mv.refresh(self._batch(spark, [("a", 10), ("c", 7)]), "b2")
        got = rows(mv.read_partials(), "k", "n", "s")
        assert got == [("a", 3, 13), ("b", 1, 5), ("c", 1, 7)]

    def test_replayed_batch_is_skipped(self, spark, tmp_path):
        mv = self._view(spark, tmp_path)
        b = self._batch(spark, [("a", 1)])
        assert mv.refresh(b, "b1") is True
        assert mv.refresh(b, "b1") is False  # at-least-once redelivery
        assert rows(mv.read_partials(), "k", "n", "s") == [("a", 1, 1)]

    def test_retraction_removes_a_batch(self, spark, tmp_path):
        mv = self._view(spark, tmp_path)
        b1 = self._batch(spark, [("a", 1), ("b", 5)])
        mv.refresh(b1, "b1")
        mv.refresh(self._batch(spark, [("a", 2)]), "b2")
        mv.refresh(b1, "b1-retract", retract=True)
        got = {r[0]: (r[1], r[2]) for r in rows(mv.read_partials(), "k", "n", "s")}
        assert got["a"] == (1, 2)
        assert got["b"] == (0, 0)  # retracted to empty, not deleted

    def test_minmax_measures_refuse_retraction(self, spark, tmp_path):
        from dbm_nca_ph_etl_spark.sinks.matview import MaterializedAgg, Measure

        mv = MaterializedAgg(
            spark,
            str(tmp_path / "mv2"),
            keys=["k"],
            measures=[Measure("mx", "v", "max")],
        )
        with pytest.raises(ValueError):
            mv.refresh(self._batch(spark, [("a", 1)]), "b1", retract=True)

    def test_old_versions_pruned(self, spark, tmp_path):
        import os

        mv = self._view(spark, tmp_path)
        for i in range(4):
            mv.refresh(self._batch(spark, [("a", i)]), f"b{i}")
        dirs = [d for d in os.listdir(mv.path) if d.startswith("v")]
        assert len(dirs) == 2  # keep=2 snapshots
        # replay detection only needs surviving dirnames for recent
        # batches; a re-send of the latest two is still refused
        assert mv.refresh(self._batch(spark, [("a", 0)]), "b3") is False

    def test_crash_before_marker_leaves_an_orphan_that_is_gcd(
        self, spark, tmp_path, monkeypatch
    ):
        """A bare-path view runs the marker protocol too: a refresh
        that dies before its ``_COMMITTED`` PUT leaves an unmarked
        version dir, which no read sees, and which the prune of a
        later refresh deletes. No other directory is left behind."""
        import os

        from dbm_nca_ph_etl_spark.sources.lakefs import PosixLakeFS

        mv = self._view(spark, tmp_path)
        assert mv.refresh(self._batch(spark, [("a", 1)]), "b1")
        real_write = PosixLakeFS.write_bytes

        def crash_on_marker(self, path, data):
            if path.endswith("_COMMITTED"):
                raise RuntimeError("injected crash before the marker")
            return real_write(self, path, data)

        monkeypatch.setattr(PosixLakeFS, "write_bytes", crash_on_marker)
        with pytest.raises(RuntimeError, match="injected crash"):
            mv.refresh(self._batch(spark, [("a", 100)]), "dead")
        monkeypatch.undo()
        orphan = os.path.join(mv.path, "v000001_bdead")
        assert os.path.isdir(orphan)
        assert "dead" not in mv.applied_batches()
        assert rows(mv.read_partials(), "k", "s") == [("a", 1)]
        # the next version takes the orphan's number and hides it ...
        assert mv.refresh(self._batch(spark, [("a", 10)]), "b2")
        assert os.path.isdir(orphan)
        assert rows(mv.read_partials(), "k", "s") == [("a", 11)]
        # ... and once a later version commits, the orphan is GC'd
        assert mv.refresh(self._batch(spark, [("a", 20)]), "b3")
        assert sorted(os.listdir(mv.path)) == ["v000001_bb2", "v000002_bb3"]
        assert rows(mv.read_partials(), "k", "s") == [("a", 31)]

    def test_hll_measure_counts_distinct_across_batches(self, spark, tmp_path):
        from dbm_nca_ph_etl_spark.sinks.matview import (
            MaterializedAgg,
            Measure,
            derived_distinct,
        )

        mv = MaterializedAgg(
            spark,
            str(tmp_path / "mv_hll"),
            keys=["k"],
            measures=[
                Measure("n", "v", "count"),
                Measure("uh", "v", "hll"),
            ],
        )
        # users 0..49 in batch 1, 25..74 in batch 2 — overlap 25..49
        # must NOT double-count (the exact-count failure mode of naive
        # incremental distinct), and a replayed batch is a no-op twice
        # over: version bookkeeping refuses it AND the union is
        # idempotent anyway.
        b1 = spark.createDataFrame([("a", v) for v in range(50)], "k string, v long")
        b2 = spark.createDataFrame([("a", v) for v in range(25, 75)], "k string, v long")
        assert mv.refresh(b1, "b1") and mv.refresh(b2, "b2")
        assert mv.refresh(b2, "b2") is False
        got = mv.read_partials().select(
            "k", "n", derived_distinct("uh").alias("d")
        ).collect()[0]
        assert got.n == 100  # events, not users
        assert got.d == 75  # sketch is exact at this cardinality

    def test_var_measure_matches_statistics_pvariance(self, spark, tmp_path):
        import statistics

        from dbm_nca_ph_etl_spark.sinks.matview import (
            MaterializedAgg,
            Measure,
            derived_stddev,
            derived_variance,
        )

        mv = MaterializedAgg(
            spark,
            str(tmp_path / "mv_var"),
            keys=["k"],
            measures=[Measure("mom", "v", "var")],
        )
        vals = [1.25, 2.5, 7.75, 7.75, 100.0, -3.5]
        b1 = spark.createDataFrame([("a", v) for v in vals[:3]], "k string, v double")
        b2 = spark.createDataFrame([("a", v) for v in vals[3:]], "k string, v double")
        assert mv.refresh(b1, "b1") and mv.refresh(b2, "b2")
        got = (
            mv.read_partials()
            .select(
                derived_variance("mom").alias("var"),
                derived_stddev("mom").alias("std"),
            )
            .collect()[0]
        )
        want = statistics.pvariance(vals)
        assert abs(got.var - want) < 1e-4  # 1e-6 per-row quantum
        assert abs(got.std - want**0.5) < 1e-4

    def test_var_measure_retraction_round_trip(self, spark, tmp_path):
        from dbm_nca_ph_etl_spark.sinks.matview import MaterializedAgg, Measure

        mv = MaterializedAgg(
            spark,
            str(tmp_path / "mv_var_r"),
            keys=["k"],
            measures=[Measure("mom", "v", "var")],
        )
        b1 = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", 9.0)], "k string, v double"
        )
        b2 = spark.createDataFrame([("a", 5.0)], "k string, v double")
        mv.refresh(b1, "b1")
        mv.refresh(b2, "b2")
        mv.refresh(b2, "b2-retract", retract=True)
        got = {
            r.k: (r.mom.n, int(r.mom.s), int(r.mom.s2))
            for r in mv.read_partials().collect()
        }
        # back to exactly b1's moments — integer micro-unit sums
        assert got["a"] == (2, 3_000_000, 5_000_000)
        assert got["b"] == (1, 9_000_000, 81_000_000)

    def test_hll_measure_refuses_retraction(self, spark, tmp_path):
        from dbm_nca_ph_etl_spark.sinks.matview import MaterializedAgg, Measure

        mv = MaterializedAgg(
            spark,
            str(tmp_path / "mv_hll2"),
            keys=["k"],
            measures=[Measure("uh", "v", "hll")],
        )
        with pytest.raises(ValueError):
            mv.refresh(self._batch(spark, [("a", 1)]), "b1", retract=True)

    def test_time_travel_to_surviving_version(self, spark, tmp_path):
        mv = self._view(spark, tmp_path)
        mv.refresh(self._batch(spark, [("a", 1)]), "b1")
        mv.refresh(self._batch(spark, [("a", 2)]), "b2")
        # version 0 = after b1 only; version 1 = current
        assert rows(mv.read_partials(version=0), "k", "n", "s") == [("a", 1, 1)]
        assert rows(mv.read_partials(version=1), "k", "n", "s") == [("a", 2, 3)]
        with pytest.raises(FileNotFoundError):
            mv.read_partials(version=9)


class TestUpsertCdf:
    def test_feed_classifies_and_merge_applies(self, spark, tmp_path):
        from dbm_nca_ph_etl_spark.sinks.merge import upsert_parquet_cdf

        path = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        )
        feed0 = upsert_parquet_cdf(spark, base, path, ["id"])
        assert {(r["id"], r["_change"]) for r in feed0.collect()} == {
            (1, "insert"),
            (2, "insert"),
        }

        incoming = spark.createDataFrame(
            [(2, "B"), (3, "c"), (1, "a")],  # update, insert, no-op
            "id long, v string",
        )
        feed = upsert_parquet_cdf(spark, incoming, path, ["id"])
        got = {(r["id"], r["v"], r["_change"]) for r in feed.collect()}
        assert got == {(2, "B", "update"), (3, "c", "insert")}  # no-op absent

        merged = {(r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
        assert merged == {(1, "a"), (2, "B"), (3, "c")}

    def test_feed_survives_the_swap(self, spark, tmp_path):
        """The returned feed must be readable AFTER the base dir it
        derived from was rewritten (materialization contract)."""
        from dbm_nca_ph_etl_spark.sinks.merge import upsert_parquet_cdf

        path = str(tmp_path / "t")
        upsert_parquet_cdf(
            spark, spark.createDataFrame([(1, "a")], "id long, v string"), path, ["id"]
        )
        feed = upsert_parquet_cdf(
            spark, spark.createDataFrame([(1, "z")], "id long, v string"), path, ["id"]
        )
        # another merge rewrites the dir again; the old feed still reads
        upsert_parquet_cdf(
            spark, spark.createDataFrame([(9, "q")], "id long, v string"), path, ["id"]
        )
        assert [(r["id"], r["_change"]) for r in feed.collect()] == [(1, "update")]

    def test_null_valued_update_classifies_as_update(self, spark, tmp_path):
        from dbm_nca_ph_etl_spark.sinks.merge import upsert_parquet_cdf

        path = str(tmp_path / "t")
        upsert_parquet_cdf(
            spark, spark.createDataFrame([(1, None)], "id long, v string"), path, ["id"]
        )
        # same NULL value → no-op (eqNullSafe); real value → update
        noop = upsert_parquet_cdf(
            spark, spark.createDataFrame([(1, None)], "id long, v string"), path, ["id"]
        )
        assert noop.count() == 0
        real = upsert_parquet_cdf(
            spark, spark.createDataFrame([(1, "x")], "id long, v string"), path, ["id"]
        )
        assert [(r["_change"]) for r in real.collect()] == ["update"]


class TestHistMeasure:
    """kind='hist': mergeable AND retractable fixed-bin histogram."""

    def _measures(self):
        from dbm_nca_ph_etl_spark.sinks.matview import Measure

        return ["k"], [Measure("h", "v", "hist", lo=0.0, hi=100.0, bins=10)]

    def test_merge_equals_one_shot(self, spark):
        import pyspark.sql.functions as F

        from dbm_nca_ph_etl_spark.sinks.matview import merge_partials, partial_agg

        keys, ms = self._measures()
        df = spark.createDataFrame(
            [("a", float(v)) for v in range(0, 100, 3)]
            + [("b", 250.0), ("b", -5.0)],  # clamps to edge bins
            "k string, v double",
        )
        parts = [
            partial_agg(df.where((F.col("v") >= 50).cast("int") == i), keys, ms)
            for i in range(2)
        ]
        merged = {r.k: r.h for r in merge_partials(parts, keys, ms).collect()}
        direct = {r.k: r.h for r in partial_agg(df, keys, ms).collect()}
        assert merged == direct
        assert direct["b"] == [1, 0, 0, 0, 0, 0, 0, 0, 0, 1]

    def test_retract_removes_batch_exactly(self, spark):
        from dbm_nca_ph_etl_spark.sinks.matview import (
            merge_partials,
            negate_partial,
            partial_agg,
        )

        keys, ms = self._measures()
        import pyspark.sql.functions as F  # noqa: F401

        base = spark.createDataFrame(
            [("a", float(v)) for v in range(0, 100, 7)], "k string, v double"
        )
        extra = spark.createDataFrame([("a", 55.0), ("a", 66.0)], "k string, v double")
        with_extra = merge_partials(
            [partial_agg(base, keys, ms), partial_agg(extra, keys, ms)], keys, ms
        )
        back = merge_partials(
            [with_extra, negate_partial(partial_agg(extra, keys, ms), ms)],
            keys,
            ms,
        )
        assert {r.k: r.h for r in back.collect()} == {
            r.k: r.h for r in partial_agg(base, keys, ms).collect()
        }

    def test_derived_quantile_within_bin_width(self, spark):
        from dbm_nca_ph_etl_spark.sinks.matview import (
            derived_quantile,
            partial_agg,
        )

        keys, ms = self._measures()
        vals = [float(v) for v in range(100)]
        df = spark.createDataFrame([("a", v) for v in vals], "k string, v double")
        got = (
            partial_agg(df, keys, ms)
            .select(derived_quantile(ms[0], 0.5).alias("q"))
            .first()
            .q
        )
        import statistics

        assert abs(got - statistics.median(vals)) <= 10.0 / 2 + 1e-9


class TestScd2Apply:
    def _dim(self, spark, rows):
        return spark.createDataFrame(
            rows, "k long, v string, valid_from long, valid_to long"
        )

    def test_close_append_noop_and_new_key(self, spark):
        from dbm_nca_ph_etl_spark.sinks.merge import scd2_apply

        dim = self._dim(
            spark,
            [
                (1, "a", 0, None),   # will change
                (2, "b", 0, None),   # no-op redelivery
                (3, "c", 0, None),   # untouched (not in batch)
                (1, "a0", -5, 0),    # existing history row: must survive
            ],
        )
        chg = spark.createDataFrame(
            [(1, "a2"), (2, "b"), (9, "fresh")], "k long, v string"
        )
        out = scd2_apply(dim, chg, ["k"], effective=100)
        got = {(r.k, r.v, r.valid_from, r.valid_to) for r in out.collect()}
        assert got == {
            (1, "a0", -5, 0),      # history untouched
            (1, "a", 0, 100),      # closed at effective
            (1, "a2", 100, None),  # new open version
            (2, "b", 0, None),     # no-op: still the same open row
            (3, "c", 0, None),     # untouched
            (9, "fresh", 100, None),
        }

    def test_replay_is_idempotent(self, spark):
        from dbm_nca_ph_etl_spark.sinks.merge import scd2_apply

        dim = self._dim(spark, [(1, "a", 0, None)])
        chg = spark.createDataFrame([(1, "a2")], "k long, v string")
        once = scd2_apply(dim, chg, ["k"], effective=100)
        twice = scd2_apply(once, chg, ["k"], effective=200)
        assert {tuple(r) for r in once.collect()} == {
            tuple(r) for r in twice.collect()
        }, "re-delivering the same change must not version again"

    def test_as_of_snapshots(self, spark):
        from pyspark.sql import functions as F

        from dbm_nca_ph_etl_spark.sinks.merge import scd2_apply

        dim = self._dim(spark, [(1, "v1", 0, None)])
        h1 = scd2_apply(dim, spark.createDataFrame([(1, "v2")], "k long, v string"), ["k"], 10)
        h2 = scd2_apply(h1, spark.createDataFrame([(1, "v3")], "k long, v string"), ["k"], 20)

        def as_of(t):
            return {
                r.v
                for r in h2.where(
                    (F.col("valid_from") <= t)
                    & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
                ).collect()
            }

        assert as_of(5) == {"v1"} and as_of(15) == {"v2"} and as_of(25) == {"v3"}


class TestCmsMeasure:
    """kind='cms': linear-sketch algebra — exact merge invariance,
    retraction, never-undercount, persisted-view round trip."""

    M = None

    @classmethod
    def _m(cls):
        from dbm_nca_ph_etl_spark.sinks.matview import Measure

        return Measure("cms", "v", "cms", depth=3, width=16)

    def _batch(self, spark, rows):
        return spark.createDataFrame(rows, "k string, v long")

    def test_never_undercounts_and_exact_for_singletons(self, spark):
        from dbm_nca_ph_etl_spark.sinks.matview import (
            derived_cms_count,
            partial_agg,
        )
        import pyspark.sql.functions as F

        m = self._m()
        b = self._batch(
            spark, [("a", 7)] * 5 + [("a", 8)] * 2 + [("a", 9)]
        )
        view = partial_agg(b, ["k"], [m])
        got = {
            v: view.select(derived_cms_count(m, F.lit(v).cast("long"))).first()[0]
            for v in (7, 8, 9, 99)
        }
        assert got[7] >= 5 and got[8] >= 2 and got[9] >= 1
        # total mass bounds any estimate
        assert all(x <= 8 for x in got.values())

    def test_merge_path_invariance_exact(self, spark):
        from dbm_nca_ph_etl_spark.sinks.matview import merge_partials, partial_agg

        m = self._m()
        rows_all = [("a", i % 6) for i in range(30)] + [("b", 1)] * 4
        full = partial_agg(self._batch(spark, rows_all), ["k"], [m])
        split = merge_partials(
            [
                partial_agg(self._batch(spark, rows_all[:11]), ["k"], [m]),
                partial_agg(self._batch(spark, rows_all[11:23]), ["k"], [m]),
                partial_agg(self._batch(spark, rows_all[23:]), ["k"], [m]),
            ],
            ["k"],
            [m],
        )
        a = {r.k: r.cms for r in full.collect()}
        b = {r.k: r.cms for r in split.collect()}
        assert a == b  # linearity: counters identical, not just close

    def test_retraction_restores_counters(self, spark):
        from dbm_nca_ph_etl_spark.sinks.matview import (
            merge_partials,
            negate_partial,
            partial_agg,
        )

        m = self._m()
        b1 = self._batch(spark, [("a", 1), ("a", 2), ("b", 3)])
        b2 = self._batch(spark, [("a", 5)] * 3)
        p1 = partial_agg(b1, ["k"], [m])
        p2 = partial_agg(b2, ["k"], [m])
        merged = merge_partials([p1, p2], ["k"], [m])
        back = merge_partials(
            [merged, negate_partial(p2, [m])], ["k"], [m]
        )
        want = {r.k: r.cms for r in p1.collect()}
        got = {r.k: r.cms for r in back.collect()}
        assert got["a"] == want["a"]
        assert got["b"] == want["b"]

    def test_persisted_view_with_cms(self, spark, tmp_path):
        from dbm_nca_ph_etl_spark.sinks.matview import (
            MaterializedAgg,
            derived_cms_count,
        )
        import pyspark.sql.functions as F

        m = self._m()
        mv = MaterializedAgg(spark, str(tmp_path / "mv"), keys=["k"], measures=[m])
        assert mv.refresh(self._batch(spark, [("a", 1)] * 4), "b1")
        assert mv.refresh(self._batch(spark, [("a", 1), ("a", 2)]), "b2")
        est = (
            mv.read_partials()
            .where(F.col("k") == "a")
            .select(derived_cms_count(m, F.lit(1).cast("long")))
            .first()[0]
        )
        assert 5 <= est <= 7

    def test_depth_one_edge(self, spark):
        from dbm_nca_ph_etl_spark.sinks.matview import (
            Measure,
            derived_cms_count,
            partial_agg,
        )
        import pyspark.sql.functions as F

        m = Measure("cms", "v", "cms", depth=1, width=8)
        view = partial_agg(self._batch(spark, [("a", 3)] * 2), ["k"], [m])
        assert view.select(derived_cms_count(m, F.lit(3).cast("long"))).first()[0] >= 2

    def test_invalid_params_fail_loudly(self):
        from dbm_nca_ph_etl_spark.sinks.matview import Measure
        import pytest as _pt

        with _pt.raises(ValueError):
            Measure("c", "v", "cms", depth=0)
        with _pt.raises(ValueError):
            Measure("c", "v", "cms", width=0)


class TestTableDiff:
    def test_classifies_added_removed_changed(self, spark):
        from dbm_nca_ph_etl_spark.sinks.merge import table_diff

        left = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k long, s string, v double",
        )
        right = spark.createDataFrame(
            [(2, "b", 20.0), (3, "c", 31.0), (4, "d", 40.0)],
            "k long, s string, v double",
        )
        got = {r.k: r.diff_kind for r in table_diff(left, right, ["k"]).collect()}
        assert got == {1: "removed", 3: "changed", 4: "added"}  # 2 identical

    def test_null_payload_distinguished_from_sentinel(self, spark):
        from dbm_nca_ph_etl_spark.sinks.merge import table_diff

        left = spark.createDataFrame([(1, None)], "k long, s string")
        right = spark.createDataFrame([(1, "\x00")], "k long, s string")
        # a NULL and a literal NUL byte must not collide... the
        # sentinel IS the NUL byte, so they do by design — pin the
        # convention: both fingerprints equal, no diff row
        assert table_diff(left, right, ["k"]).count() == 0

    def test_column_mismatch_refused(self, spark):
        import pytest

        from dbm_nca_ph_etl_spark.sinks.merge import table_diff

        a = spark.createDataFrame([(1, "x")], "k long, s string")
        b = spark.createDataFrame([(1, 2.0)], "k long, v double")
        with pytest.raises(ValueError):
            table_diff(a, b, ["k"])


class TestDdMeasure:
    """kind='dd': mergeable AND retractable log-bucket (DDSketch)
    relative-error quantile sketch."""

    def _measures(self, bins=64):
        from dbm_nca_ph_etl_spark.sinks.matview import Measure

        return ["k"], [Measure("d", "v", "dd", lo=1.0, hi=10000.0, bins=bins)]

    def _df(self, spark):
        # lognormal-ish positive values plus clampers and drops
        vals = [1.5**i for i in range(1, 20)] + [0.5, 20000.0]
        rows = [("a", float(v)) for v in vals] + [
            ("b", -3.0),  # dropped: negative
            ("b", 0.0),   # dropped: zero
            ("b", 7.0),
        ]
        return spark.createDataFrame(rows, "k string, v double")

    def test_merge_equals_one_shot_any_order(self, spark):
        import pyspark.sql.functions as F

        from dbm_nca_ph_etl_spark.sinks.matview import merge_partials, partial_agg

        keys, ms = self._measures()
        df = self._df(spark)
        parts = [
            partial_agg(df.where((F.col("v") >= 10).cast("int") == i), keys, ms)
            for i in range(2)
        ]
        direct = {r.k: r.d for r in partial_agg(df, keys, ms).collect()}
        fwd = {r.k: r.d for r in merge_partials(parts, keys, ms).collect()}
        rev = {r.k: r.d for r in merge_partials(parts[::-1], keys, ms).collect()}
        assert fwd == direct == rev

    def test_clamp_drop_semantics(self, spark):
        from dbm_nca_ph_etl_spark.sinks.matview import partial_agg

        keys, ms = self._measures()
        out = {r.k: r.d for r in partial_agg(self._df(spark), keys, ms).collect()}
        # b: -3 and 0 dropped, one positive value counted
        assert sum(out["b"]) == 1
        # a: 0.5 clamps to bucket 0, 20000 clamps to the last bucket
        assert out["a"][0] >= 1 and out["a"][-1] >= 1
        assert sum(out["a"]) == 21  # nothing else lost

    def test_retract_round_trip(self, spark):
        import pyspark.sql.functions as F

        from dbm_nca_ph_etl_spark.sinks.matview import (
            merge_partials,
            negate_partial,
            partial_agg,
        )

        keys, ms = self._measures()
        df = self._df(spark)
        full = partial_agg(df, keys, ms)
        batch = partial_agg(df.where(F.col("v") > 100), keys, ms)
        rest = partial_agg(df.where(~(F.col("v") > 100)), keys, ms)
        back = merge_partials([full, negate_partial(batch, ms)], keys, ms)
        got = {r.k: r.d for r in back.collect()}
        want = {r.k: r.d for r in rest.collect()}
        assert got == want

    def test_quantile_relative_error_bound(self, spark):
        from dbm_nca_ph_etl_spark.sinks.matview import (
            dd_alpha,
            derived_dd_quantile,
            partial_agg,
        )

        keys, ms = self._measures(bins=256)
        m = ms[0]
        import numpy as np

        rng = np.random.default_rng(3)
        vals = np.exp(rng.normal(3.0, 1.2, size=4000))
        vals = np.clip(vals, 1.0001, 9999.0)  # inside [lo, hi): pure α regime
        df = spark.createDataFrame(
            [("g", float(v)) for v in vals], "k string, v double"
        )
        sk = partial_agg(df, keys, ms)
        alpha = dd_alpha(m)
        for q in (0.05, 0.5, 0.9, 0.99):
            est = sk.select(derived_dd_quantile(m, q)).collect()[0][0]
            true = float(np.quantile(vals, q, method="inverted_cdf"))
            assert abs(est - true) / true <= alpha, (q, est, true, alpha)

    def test_empty_sketch_null_quantile(self, spark):
        from dbm_nca_ph_etl_spark.sinks.matview import (
            derived_dd_quantile,
            partial_agg,
        )

        keys, ms = self._measures()
        df = spark.createDataFrame([("z", -1.0)], "k string, v double")
        out = partial_agg(df, keys, ms).select(
            derived_dd_quantile(ms[0], 0.5)
        ).collect()
        assert out[0][0] is None

    def test_validation_guard(self, spark):
        from dbm_nca_ph_etl_spark.sinks.matview import Measure

        with pytest.raises(ValueError, match="dd needs"):
            Measure("d", "v", "dd", lo=0.0, hi=10.0, bins=8)
        with pytest.raises(ValueError, match="dd needs"):
            Measure("d", "v", "dd", lo=5.0, hi=5.0, bins=8)

    def test_view_refreshes_equal_one_shot_sketch(self, spark, tmp_path):
        """A persisted view folded one refresh per batch holds the
        one-shot sketch of all rows, and a replayed batch is a no-op."""
        from dbm_nca_ph_etl_spark.sinks.matview import (
            MaterializedAgg,
            derived_dd_quantile,
            partial_agg,
        )

        keys, ms = self._measures()
        view = MaterializedAgg(spark, str(tmp_path / "mv"), keys, ms)
        batches = [
            [("a", float(1.7**i)) for i in range(1, 10)],
            [("a", 5000.0), ("b", 3.0)],
            [("b", 42.0), ("a", -1.0)],  # negative dropped
        ]
        for i, b in enumerate(batches):
            assert view.refresh(spark.createDataFrame(b, "k string, v double"), f"b{i}")
        last = spark.createDataFrame(batches[-1], "k string, v double")
        assert view.refresh(last, f"b{len(batches) - 1}") is False
        folded = {r.k: r.d for r in view.read_partials().collect()}
        everything = spark.createDataFrame(
            [r for b in batches for r in b], "k string, v double"
        )
        assert folded == {r.k: r.d for r in partial_agg(everything, keys, ms).collect()}
        est = (
            view.read_partials().where("k = 'a'")
            .select(derived_dd_quantile(ms[0], 0.5)).collect()[0][0]
        )
        assert est is not None and 1.0 <= est <= 10000.0


class TestQMeasure:
    """kind='q': the no-pre-known-bins mergeable quantile sketch —
    sparse sign-mirrored log buckets (DDSketch unbounded store), the
    KLL/t-digest slot filled with merge-path-invariant, retractable
    algebra instead of a compacting sketch."""

    def _measures(self, alpha=0.01, min_mag=1e-9):
        from dbm_nca_ph_etl_spark.sinks.matview import Measure

        return ["k"], [
            Measure("s", "v", "q", alpha=alpha, min_mag=min_mag)
        ]

    def _df(self, spark):
        # spans 16 decades, both signs, zero, sub-min_mag, and null —
        # nothing a [lo, hi) sketch could hold in one parametrization
        vals = [10.0**i for i in range(-6, 10)] + [
            -42.0,
            -3.1e7,
            0.0,
            1e-12,  # collapses into the zero bucket
        ]
        rows = [("a", float(v)) for v in vals] + [("b", 7.0), ("b", None)]
        return spark.createDataFrame(rows, "k string, v double")

    def test_merge_equals_one_shot_any_order_bitwise(self, spark):
        """Not just equal estimates — the canonicalized stored MAPS
        are identical whatever the batch split or fold order."""
        import pyspark.sql.functions as F

        from dbm_nca_ph_etl_spark.sinks.matview import (
            merge_partials,
            partial_agg,
        )

        keys, ms = self._measures()
        df = self._df(spark)
        parts = [
            partial_agg(
                df.where(F.abs(F.hash("v")) % 3 == i), keys, ms
            )
            for i in range(3)
        ]
        direct = {
            r.k: sorted(r.s.items())
            for r in merge_partials(
                [partial_agg(df, keys, ms)], keys, ms
            ).collect()
        }
        fwd = {
            r.k: sorted(r.s.items())
            for r in merge_partials(parts, keys, ms).collect()
        }
        rev = {
            r.k: sorted(r.s.items())
            for r in merge_partials(parts[::-1], keys, ms).collect()
        }
        assert fwd == direct == rev

    def test_retraction_restores_canonical_bytes(self, spark):
        """A+B−A equals a fresh build of B — including the pruning of
        zero-count keys, so retraction leaves no residue in the
        stored form (the algebra KLL/t-digest cannot offer)."""
        import pyspark.sql.functions as F

        from dbm_nca_ph_etl_spark.sinks.matview import (
            merge_partials,
            negate_partial,
            partial_agg,
        )

        keys, ms = self._measures()
        df = self._df(spark)
        a = partial_agg(df.where(F.col("v") > 1), keys, ms)
        b = partial_agg(df.where(~(F.col("v") > 1)), keys, ms)
        both = merge_partials([a, b], keys, ms)
        back = merge_partials([both, negate_partial(a, ms)], keys, ms)
        got = {r.k: sorted(r.s.items()) for r in back.collect()}
        want = {
            r.k: sorted(r.s.items())
            for r in merge_partials([b], keys, ms).collect()
        }
        # a group whose contribution is FULLY retracted keeps its row
        # with a canonical EMPTY map (group existence is not
        # retractable — matview semantics); every surviving group's
        # stored map is bit-identical to the never-merged build
        emptied = {k for k, v in got.items() if v == []}
        assert {k: v for k, v in got.items() if k not in emptied} == want
        assert emptied == set(got) - set(want)

    def test_zero_sign_and_null_semantics(self, spark):
        from dbm_nca_ph_etl_spark.sinks.matview import partial_agg

        keys, ms = self._measures()
        out = {
            r.k: dict(r.s)
            for r in partial_agg(self._df(spark), keys, ms).collect()
        }
        # b: the null contributed nothing
        assert sum(out["b"].values()) == 1
        # a: zero bucket holds exactly {0.0, 1e-12}; negatives have
        # negative keys; every non-null value counted
        assert out["a"].get(0) == 2
        assert sum(1 for k in out["a"] if k < 0) >= 1
        assert sum(out["a"].values()) == 20

    def test_quantile_relative_error_bound(self, spark):
        import numpy as np

        from dbm_nca_ph_etl_spark.sinks.matview import (
            derived_q_quantile,
            partial_agg,
            q_alpha,
        )

        keys, ms = self._measures(alpha=0.01, min_mag=1e-6)
        m = ms[0]
        rng = np.random.default_rng(5)
        vals = np.exp(rng.normal(3.0, 2.5, size=4000))  # no clipping:
        # the sketch has no [lo, hi) to stay inside of
        df = spark.createDataFrame(
            [("g", float(v)) for v in vals], "k string, v double"
        )
        sk = partial_agg(df, keys, ms)
        for q in (0.05, 0.5, 0.9, 0.99):
            est = sk.select(derived_q_quantile(m, q)).collect()[0][0]
            true = float(np.quantile(vals, q, method="inverted_cdf"))
            assert abs(est - true) / true <= q_alpha(m), (q, est, true)

    def test_negative_quantiles_mirror(self, spark):
        from dbm_nca_ph_etl_spark.sinks.matview import (
            derived_q_quantile,
            partial_agg,
        )

        keys, ms = self._measures()
        m = ms[0]
        vals = [-1000.0, -100.0, -10.0, -1.0, 5.0]
        df = spark.createDataFrame(
            [("g", v) for v in vals], "k string, v double"
        )
        sk = partial_agg(df, keys, ms)
        # rank ceil(0.4*5)=2 → −100
        est = sk.select(derived_q_quantile(m, 0.4)).collect()[0][0]
        assert abs(est - (-100.0)) / 100.0 <= m.alpha

    def test_empty_sketch_null_quantile_and_validation(self, spark):
        from dbm_nca_ph_etl_spark.sinks.matview import (
            Measure,
            derived_q_quantile,
            partial_agg,
        )

        keys, ms = self._measures()
        df = spark.createDataFrame(
            [("z", None)], "k string, v double"
        )
        out = (
            partial_agg(df, keys, ms)
            .select(derived_q_quantile(ms[0], 0.5))
            .collect()
        )
        assert out[0][0] is None
        with pytest.raises(ValueError, match="q needs"):
            Measure("s", "v", "q", alpha=1.5)
        with pytest.raises(ValueError, match="q needs"):
            Measure("s", "v", "q", min_mag=0.0)

    def test_materialized_persistence_round_trip(self, spark, tmp_path):
        """The sparse map survives the versioned parquet store: two
        refreshes (one a retraction) fold to the same state a direct
        build of the surviving batch holds."""
        import pyspark.sql.functions as F

        from dbm_nca_ph_etl_spark.sinks.matview import (
            MaterializedAgg,
            derived_q_quantile,
            merge_partials,
            partial_agg,
        )

        keys, ms = self._measures()
        df = self._df(spark)
        view = MaterializedAgg(
            spark, str(tmp_path / "qview"), keys, ms
        )
        hi = df.where(F.col("v") > 1)
        lo = df.where(~(F.col("v") > 1))
        assert view.refresh(hi, "b1")
        assert view.refresh(lo, "b2")
        assert not view.refresh(hi, "b1")  # replay detected
        assert view.refresh(hi, "b3", retract=True)
        got = {
            r.k: sorted(r.s.items())
            for r in view.read_partials().collect()
            if sorted(r.s.items())
        }
        want = {
            r.k: sorted(r.s.items())
            for r in merge_partials(
                [partial_agg(lo, keys, ms)], keys, ms
            ).collect()
        }
        assert got == want
        est = view.read_partials().select(
            "k", derived_q_quantile(ms[0], 0.5).alias("p50")
        )
        assert est.count() >= 1


class TestMatviewConcurrentRefresh:
    """VERDICT r6 #2: MaterializedAgg.refresh is serialized through
    sinks/txlog.WriterLease — two concurrent refreshers must not read
    the same version listing and commit two same-numbered versions
    whose folds shadow each other. Mirrors test_txlog's two-writer
    no-lost-update test, on both commit protocols."""

    def _mk(self, spark, path, fs=None):
        from dbm_nca_ph_etl_spark.sinks.matview import MaterializedAgg, Measure

        return MaterializedAgg(
            spark,
            path,
            keys=["k"],
            measures=[Measure("n", "v", "count"), Measure("s", "v", "sum")],
            fs=fs,
        )

    def _race(self, spark, path, fs):
        import threading

        batches = {f"b{i}": [("a", i), ("b", 2 * i)] for i in range(6)}
        errs: list[Exception] = []
        applied: list[str] = []

        def worker(ids):
            # each writer has its OWN handle (own lease identity)
            mv = self._mk(spark, path, fs)
            for bid in ids:
                df = spark.createDataFrame(batches[bid], "k string, v long")
                try:
                    if mv.refresh(df, bid):
                        applied.append(bid)
                except Exception as e:  # noqa: BLE001 — collected for assert
                    errs.append(e)

        ts = [
            threading.Thread(target=worker, args=(["b0", "b1", "b2"],)),
            threading.Thread(target=worker, args=(["b3", "b4", "b5"],)),
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        assert sorted(applied) == [f"b{i}" for i in range(6)]
        mv = self._mk(spark, path, fs)
        got = {r.k: (r.n, r.s) for r in mv.read_partials().collect()}
        # both writers' folds present: no version was shadowed
        assert got == {"a": (6, 15), "b": (6, 30)}
        # version numbers are dense — six serialized refreshes end at
        # v5, with the keep=2 pruning window surviving
        assert [n for n, _, _ in mv._versions()] == [4, 5]

    def test_posix_rename_protocol(self, spark, tmp_path):
        self._race(spark, str(tmp_path / "mv"), fs=None)

    def test_object_store_marker_protocol(self, spark, tmp_path):
        self._race(spark, str(tmp_path / "mv"), fs=_ObjectStoreFS())

    def test_fenced_refresh_commits_nothing(self, spark, tmp_path):
        """A refresher that loses its lease mid-fold must raise
        CommitFenced BEFORE the commit point; the batch stays
        invisible and its replay converges."""
        from dbm_nca_ph_etl_spark.sinks.txlog import CommitFenced

        class _StolenLeaseFS(_ObjectStoreFS):
            def __init__(self):
                super().__init__()
                self.steal_next = False

            def read_bytes(self, path):
                if self.steal_next and path.endswith("_lease.json"):
                    self.steal_next = False
                    self._inner.write_bytes(
                        path,
                        # foreign holder (fences us) but already
                        # expired (the replay can re-acquire)
                        b'{"holder": "thief", "generation": 99,'
                        b' "ts": 0.0, "ttl_s": 0.001}',
                    )
                return self._inner.read_bytes(path)

        fs = _StolenLeaseFS()
        mv = self._mk(spark, str(tmp_path / "mv"), fs=fs)
        assert mv.refresh(
            spark.createDataFrame([("a", 1)], "k string, v long"), "b1"
        )
        fs.steal_next = True
        b2 = spark.createDataFrame([("a", 10)], "k string, v long")
        with pytest.raises(CommitFenced):
            mv.refresh(b2, "b2")
        assert mv.applied_batches() == {"b1"}
        got = {r.k: (r.n, r.s) for r in mv.read_partials().collect()}
        assert got == {"a": (1, 1)}
        # replay (lease back in legitimate hands) commits exactly once
        assert mv.refresh(b2, "b2")
        got = {r.k: (r.n, r.s) for r in mv.read_partials().collect()}
        assert got == {"a": (2, 11)}


class TestPosixSwapCrash:
    """_rewrite's POSIX double-rename: a crash between
    rename(path→old) and rename(tmp→path) strands the table in
    `.old-*`. Every resolution point must roll it back (the swap
    never committed), and successful rewrites must GC strays."""

    def _crash_mid_swap(self, spark, path, df_new):
        """Simulate the crash window: build tmp, rename path away,
        then 'die' before the commit rename."""
        import os
        import uuid

        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        df_new.write.mode("overwrite").parquet(tmp)
        os.rename(path, f"{path}.old-{uuid.uuid4().hex[:8]}")
        # crash: tmp never renamed in

    def test_read_rolls_back_half_crashed_swap(self, spark, tmp_path):
        import os

        from dbm_nca_ph_etl_spark.sinks.merge import read_table

        p = str(tmp_path / "t")
        upsert_parquet(
            spark, spark.createDataFrame([Row(k="a", v=1)]), p, ["k"]
        )
        self._crash_mid_swap(
            spark, p, spark.createDataFrame([Row(k="a", v=99)])
        )
        assert not os.path.exists(p)  # the torn state
        # read-time recovery: pre-swap contents readable (the commit
        # rename never happened, so v=99 must NOT appear) WITHOUT
        # mutating the layout — a reader that renamed would race a
        # live writer between its two renames
        assert rows(read_table(spark, p), "k", "v") == [("a", 1)]
        assert not os.path.exists(p)  # reads never mutate
        parent = os.path.dirname(p)
        assert [n for n in os.listdir(parent) if ".old-" in n]

    def test_next_rewrite_recovers_then_gcs_strays(self, spark, tmp_path):
        import os

        from dbm_nca_ph_etl_spark.sinks.merge import read_table

        p = str(tmp_path / "t")
        upsert_parquet(
            spark, spark.createDataFrame([Row(k="a", v=1)]), p, ["k"]
        )
        self._crash_mid_swap(
            spark, p, spark.createDataFrame([Row(k="a", v=99)])
        )
        # writer retry path: upsert merges against the ROLLED-BACK
        # base (v=1), not the uncommitted tmp
        upsert_parquet(
            spark, spark.createDataFrame([Row(k="b", v=2)]), p, ["k"]
        )
        assert rows(read_table(spark, p), "k", "v") == [("a", 1), ("b", 2)]
        parent = os.path.dirname(p)
        strays = [
            n for n in os.listdir(parent)
            if ".tmp-" in n or ".old-" in n
        ]
        assert strays == []  # crashed-swap garbage GC'd
