"""compact_keyed — OPTIMIZE for the keyed layout: file counts drop
to the target, content is bit-identical (digest-equal), untouched
buckets' files are not rewritten, and a second pass is a no-op."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.operators.integrity import diff_digest, keyed_digest
from dbm_nca_ph_etl_spark.sinks.keyed import (
    KB_COL,
    _write_meta,
    compact_keyed,
    key_bucket,
    read_keyed,
    upsert_keyed,
    write_keyed,
)

N_BUCKETS = 4
CANON = lambda: [F.col("k").cast("string"), F.col("v")]  # noqa: E731


def _files_per_bucket(path: str) -> dict[int, int]:
    out = {}
    for d in os.listdir(path):
        if d.startswith(f"{KB_COL}="):
            b = int(d.split("=", 1)[1])
            out[b] = len(
                [x for x in os.listdir(os.path.join(path, d)) if x.endswith(".parquet")]
            )
    return out


@pytest.fixture()
def fragmented(spark, tmp_path):
    """A keyed table whose every bucket holds SEVERAL parquet files —
    written directly with a non-bucket-aligned repartition (the state
    a wide-parallelism merge or many streamed epochs leaves)."""
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "k long, v string"
    ).withColumn(KB_COL, key_bucket(["k"], N_BUCKETS))
    df.repartition(8).write.mode("overwrite").partitionBy(KB_COL).parquet(path)
    _write_meta(
        path,
        {"keys": ["k"], "num_buckets": N_BUCKETS, "schema": "k BIGINT,v STRING"},
    )
    assert max(_files_per_bucket(path).values()) > 1, "fixture not fragmented"
    return path


class TestCompactKeyed:
    def test_compacts_to_one_file_content_identical(self, spark, fragmented):
        before = keyed_digest(spark, fragmented, CANON()).localCheckpoint(
            eager=True
        )
        rows_before = sorted(
            tuple(r) for r in read_keyed(spark, fragmented).collect()
        )
        done = compact_keyed(spark, fragmented)
        assert sorted(done) == sorted(_files_per_bucket(fragmented))
        assert all(n == 1 for n in _files_per_bucket(fragmented).values())
        after = keyed_digest(spark, fragmented, CANON())
        assert diff_digest(before, after).count() == 0
        assert (
            sorted(tuple(r) for r in read_keyed(spark, fragmented).collect())
            == rows_before
        )

    def test_second_pass_is_noop(self, spark, fragmented):
        assert compact_keyed(spark, fragmented)
        assert compact_keyed(spark, fragmented) == []

    def test_bucket_subset_leaves_others_untouched(self, spark, fragmented):
        all_buckets = sorted(_files_per_bucket(fragmented))
        target, rest = all_buckets[:1], all_buckets[1:]
        listing_before = {
            b: sorted(
                os.listdir(os.path.join(fragmented, f"{KB_COL}={b}"))
            )
            for b in rest
        }
        done = compact_keyed(spark, fragmented, buckets=target)
        assert done == target
        fpb = _files_per_bucket(fragmented)
        assert fpb[target[0]] == 1
        for b in rest:
            assert (
                sorted(os.listdir(os.path.join(fragmented, f"{KB_COL}={b}")))
                == listing_before[b]
            ), "compaction rewrote an unselected bucket"
            assert fpb[b] > 1

    def test_upsert_then_compact_in_its_wake(self, spark, fragmented):
        batch = spark.createDataFrame(
            [(3, "NEW3"), (777, "v777")], "k long, v string"
        )
        touched = upsert_keyed(spark, batch, fragmented, ["k"])
        assert touched
        # compact exactly the merge's wake; content must include the
        # merge's effect and survive compaction unchanged
        before = keyed_digest(spark, fragmented, CANON()).localCheckpoint(
            eager=True
        )
        compact_keyed(spark, fragmented, buckets=touched)
        after = keyed_digest(spark, fragmented, CANON())
        assert diff_digest(before, after).count() == 0
        got = {r.k: r.v for r in read_keyed(spark, fragmented).collect()}
        assert got[3] == "NEW3" and got[777] == "v777"

    def test_missing_meta_is_noop(self, spark, tmp_path):
        assert compact_keyed(spark, str(tmp_path / "nope")) == []

    def test_serialized_compaction_logs_and_preserves_content(
        self, spark, fragmented
    ):
        from dbm_nca_ph_etl_spark.sinks.txlog import (
            CommitLog,
            compact_keyed_serialized,
        )

        before = keyed_digest(spark, fragmented, CANON()).localCheckpoint(
            eager=True
        )
        done = compact_keyed_serialized(spark, fragmented, writer="opt")
        assert done
        after = keyed_digest(spark, fragmented, CANON())
        assert diff_digest(before, after).count() == 0
        entries = CommitLog(fragmented).entries()
        assert [
            (e["op"], e["writer"], e["buckets"]) for e in entries
        ] == [("compact", "opt", done)]
        # a no-op second pass takes the lease but logs nothing
        assert compact_keyed_serialized(spark, fragmented, writer="opt") == []
        assert len(CommitLog(fragmented).entries()) == 1

    def test_concurrent_upserts_survive_compactions(self, spark, fragmented):
        """A maintenance compactor beside a writer, both serialized on
        the lease: every upserted key must survive — the lost-update
        interleaving (compactor reads, writer merges, compactor
        overwrites with stale content) is exactly what the lease
        forbids."""
        import threading

        from dbm_nca_ph_etl_spark.sinks.txlog import (
            compact_keyed_serialized,
            upsert_keyed_serialized,
        )

        errors = []

        def upserter():
            try:
                for i in range(5):
                    batch = spark.createDataFrame(
                        [(1000 + i, f"u{i}")], "k long, v string"
                    )
                    upsert_keyed_serialized(
                        spark, batch, fragmented, ["k"], writer="ingest",
                        timeout_s=120.0,
                    )
            except Exception as e:  # pragma: no cover - surfaced below
                errors.append(e)

        def compactor():
            try:
                for _ in range(3):
                    compact_keyed_serialized(
                        spark, fragmented, writer="opt", timeout_s=120.0
                    )
            except Exception as e:  # pragma: no cover - surfaced below
                errors.append(e)

        ts = [
            threading.Thread(target=upserter),
            threading.Thread(target=compactor),
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errors, errors
        got = {r.k: r.v for r in read_keyed(spark, fragmented).collect()}
        for i in range(5):
            assert got[1000 + i] == f"u{i}", "compaction rolled back an upsert"

    def test_streamed_epochs_then_compact_keeps_digest_baseline(
        self, spark, tmp_path
    ):
        """The full maintenance cycle: upsert an ingest batch into the
        keyed table through the commit log, incrementally refresh the
        digest from the log's touched buckets, compact in their wake —
        the refreshed digest must STILL equal a full re-digest
        (compaction is content-free, so it never invalidates a
        baseline)."""
        from dbm_nca_ph_etl_spark.operators.integrity import refresh_digest
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

        batch = spark.createDataFrame([(3, "E3"), (99, "v99")], "k long, v string")
        upsert_keyed_serialized(spark, batch, path, ["k"], writer="ingest")

        touched = sorted(
            {
                b
                for e in CommitLog(path).entries()
                if e.get("op") == "upsert"
                for b in e["buckets"]
            }
        )
        partial = keyed_digest(spark, path, CANON(), buckets=touched)
        refreshed = refresh_digest(stored, partial, touched).localCheckpoint(
            eager=True
        )
        compact_keyed(spark, path, buckets=touched)
        full_after_compact = keyed_digest(spark, path, CANON())
        assert diff_digest(refreshed, full_after_compact).count() == 0


class TestCompactBytesAware:
    """target_bytes sizes each bucket's output by its on-disk bytes:
    a fat bucket compacts to SEVERAL right-sized files (never one
    giant task at skew), small buckets still pack to one."""

    def _sizes(self, path: str) -> dict[int, int]:
        out = {}
        for d in os.listdir(path):
            if d.startswith(f"{KB_COL}="):
                b = int(d.split("=", 1)[1])
                full = os.path.join(path, d)
                out[b] = sum(
                    os.path.getsize(os.path.join(full, x))
                    for x in os.listdir(full)
                    if x.endswith(".parquet")
                )
        return out

    @pytest.fixture()
    def skewed(self, spark, tmp_path):
        """One bucket holds ~50× the bytes of the others (incompressible
        payloads so parquet bytes track logical bytes)."""
        import hashlib

        path = str(tmp_path / "skewed")
        probe = spark.createDataFrame(
            [(i,) for i in range(400)], "k long"
        ).withColumn(KB_COL, key_bucket(["k"], N_BUCKETS))
        by_bucket: dict[int, list[int]] = {}
        for r in probe.collect():
            by_bucket.setdefault(r[KB_COL], []).append(r["k"])
        fat = sorted(by_bucket)[0]

        def payload(k: int, n_blocks: int) -> str:
            return "".join(
                hashlib.sha256(f"{k}:{j}".encode()).hexdigest()
                for j in range(n_blocks)
            )

        rows = [
            (k, payload(k, 160 if b == fat else 2))
            for b, ks in by_bucket.items()
            for k in ks
        ]
        df = spark.createDataFrame(rows, "k long, v string").withColumn(
            KB_COL, key_bucket(["k"], N_BUCKETS)
        )
        df.repartition(8).write.mode("overwrite").partitionBy(KB_COL).parquet(
            path
        )
        _write_meta(
            path,
            {
                "keys": ["k"],
                "num_buckets": N_BUCKETS,
                "schema": "k BIGINT,v STRING",
            },
        )
        return path, fat

    def test_fat_bucket_splits_small_buckets_pack(self, spark, skewed):
        path, fat = skewed
        sizes = self._sizes(path)
        target_bytes = max(1, sizes[fat] // 3)  # fat needs ≥3 files
        assert all(
            sizes[b] < target_bytes for b in sizes if b != fat
        ), "fixture skew too weak"
        before = keyed_digest(spark, path, CANON()).localCheckpoint(
            eager=True
        )
        done = compact_keyed(spark, path, target_bytes=target_bytes)
        assert fat in done
        fpb = _files_per_bucket(path)
        assert fpb[fat] > 1, "fat bucket collapsed into one giant file/task"
        assert all(n == 1 for b, n in fpb.items() if b != fat)
        after = keyed_digest(spark, path, CANON())
        assert diff_digest(before, after).count() == 0
        # converges: at most one resize pass, then a strict no-op
        second = compact_keyed(spark, path, target_bytes=target_bytes)
        assert set(second) <= {fat}
        assert compact_keyed(spark, path, target_bytes=target_bytes) == []

    def test_target_bytes_none_keeps_single_file_behavior(
        self, spark, skewed
    ):
        path, fat = skewed
        compact_keyed(spark, path)
        assert all(n == 1 for n in _files_per_bucket(path).values())


class TestCompactEmptyBuckets:
    def test_zero_row_bucket_compacts_and_noops(self, spark, fragmented):
        """A bucket whose files hold ZERO rows can't be rewritten by
        dynamic partition overwrite (it contributes no rows) — it must
        be compacted through the fs seam, and a second pass must be a
        no-op for it (the re-selected-forever regression)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        b = sorted(_files_per_bucket(fragmented))[0]
        bdir = os.path.join(fragmented, f"{KB_COL}={b}")
        for x in os.listdir(bdir):
            if x.endswith(".parquet"):
                os.remove(os.path.join(bdir, x))
        empty = pa.table(
            {"k": pa.array([], "int64"), "v": pa.array([], "string")}
        )
        pq.write_table(empty, os.path.join(bdir, "part-e0.parquet"))
        pq.write_table(empty, os.path.join(bdir, "part-e1.parquet"))

        others_rows = read_keyed(spark, fragmented).count()
        done = compact_keyed(spark, fragmented)
        assert b in done
        assert _files_per_bucket(fragmented)[b] <= 1
        assert compact_keyed(spark, fragmented) == [], (
            "empty bucket re-selected on the second pass"
        )
        assert read_keyed(spark, fragmented).count() == others_rows


class TestCompactionFencing:
    """The serialized compactor fences BEFORE the overwrite (a lost
    lease then clobbers nothing) and, when fenced only after, reports
    the possibly-clobbered commit-log entries for replay."""

    def _steal(self, path: str) -> None:
        from dbm_nca_ph_etl_spark.sinks.txlog import LEASE_FILE, WriterLease

        os.remove(os.path.join(path, LEASE_FILE))
        WriterLease(path, ttl_s=300.0).acquire(timeout_s=5.0)

    def test_pre_overwrite_fence_clobbers_nothing(
        self, spark, fragmented, monkeypatch
    ):
        from dbm_nca_ph_etl_spark.sinks import keyed as keyed_mod
        from dbm_nca_ph_etl_spark.sinks.txlog import (
            CommitFenced,
            CommitLog,
            compact_keyed_serialized,
        )

        real = keyed_mod.compact_keyed
        steal = self._steal

        def stealing(spark_, path_, **kw):
            inner = kw["pre_overwrite_check"]

            def check():
                steal(path_)  # TTL expired mid-read; a thief took over
                inner()

            kw["pre_overwrite_check"] = check
            return real(spark_, path_, **kw)

        monkeypatch.setattr(keyed_mod, "compact_keyed", stealing)
        listing = {
            b: sorted(
                os.listdir(os.path.join(fragmented, f"{KB_COL}={b}"))
            )
            for b in _files_per_bucket(fragmented)
        }
        with pytest.raises(CommitFenced) as ei:
            compact_keyed_serialized(spark, fragmented, writer="opt")
        assert ei.value.clobber_possible is False
        assert ei.value.possibly_clobbered == []
        for b, files in listing.items():
            assert (
                sorted(os.listdir(os.path.join(fragmented, f"{KB_COL}={b}")))
                == files
            ), "pre-overwrite fence fired but files were rewritten"
        assert CommitLog(fragmented).entries() == []

    def test_post_overwrite_fence_reports_clobbered_entries(
        self, spark, fragmented, monkeypatch
    ):
        from dbm_nca_ph_etl_spark.sinks import keyed as keyed_mod
        from dbm_nca_ph_etl_spark.sinks.txlog import (
            CommitFenced,
            CommitLog,
            compact_keyed_serialized,
        )

        real = keyed_mod.compact_keyed
        steal = self._steal

        def stealing(spark_, path_, **kw):
            done = real(spark_, path_, **kw)
            # lease lost only AFTER the overwrite; the new holder
            # commits an upsert the compactor may have clobbered
            steal(path_)
            log = CommitLog(path_)
            assert log.try_commit(
                {"op": "upsert", "writer": "thief", "buckets": [0]},
                log.version(),
            )
            return done

        monkeypatch.setattr(keyed_mod, "compact_keyed", stealing)
        with pytest.raises(CommitFenced) as ei:
            compact_keyed_serialized(spark, fragmented, writer="opt")
        e = ei.value
        assert e.clobber_possible is True
        assert [(x["writer"], x["op"]) for x in e.possibly_clobbered] == [
            ("thief", "upsert")
        ]
        assert "RE-APPLY" in str(e)
        # the compaction itself was NOT logged as applied
        ops = [x["op"] for x in CommitLog(fragmented).entries()]
        assert "compact" not in ops

    def test_clobber_recovery_playbook_converges(
        self, spark, tmp_path, monkeypatch
    ):
        """The docstring's recovery is executable, not prose: a REAL
        clobber (thief's upsert lands, stale overwrite rolls it back),
        then re-apply the possibly_clobbered entries' upserts and retry
        the compaction — the table must equal the never-raced twin and
        the commit log must narrate thief → recovery → compact."""
        from conftest import clobber_recovery_drill

        clobber_recovery_drill(
            spark,
            str(tmp_path / "raced"),
            str(tmp_path / "twin"),
            monkeypatch,
        )
