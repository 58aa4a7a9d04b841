"""The NCA ingest workload: release deliveries into an ``NCAStore``.

One client delivers one release PDF at a time. An op starts once the
PDF has landed and runs the paper's pipeline end to end:
``with_pdf_info`` -> ``nca.sync.sync_releases`` -> (unless skipped)
``extract_raw_cells_from_paths`` + ``promote_header`` written to the
inbox -> ``streaming.nca_stream.run_nca_pipeline``.

The store starts with seeded history. Deliveries come in rounds of a
fixed mix: a new, large release, a small update with a drifted
``/ModDate`` (sync cascades the delete and the release is loaded again)
and a replay of bytes already loaded (sync skips it). The seed draws the history, the PDFs' contents and which
releases are updated and replayed. The warm-up is one update. A child
process writes the history and every PDF before the session starts.
After the timed rounds the whole store is read back and compared with
the generator's rows; dead-lettered rows are failures.

The mix and sizes are not taken from a profile of real releases; see
``perfbench/METRICS.md``.
"""

from __future__ import annotations

import os
import random
import time
from collections import defaultdict

import nca_data
import pyarrow.parquet as pq
from harness import Bench, elapsed, in_child, latency_metrics, tail_quantile, work_units
from probes import tree_cpu_s

RELEASE_DDL = (
    "id string, page_count int, file_meta_created_at string, "
    "file_meta_modified_at string"
)
FILES_DDL = "release_id string, path string, page_count int"

#: One round: (kind, pages), in this order. The order is fixed because
#: the first timed deliveries still run faster with each repeat (JIT);
#: a seeded order would move that drift between kinds.
ROUND = [("new", 10), ("update", 2), ("replay", 0)]
#: Seconds one ROUND spends in ops on four cores: a run of ``--seconds``
#: delivers ``work_units(seconds, ROUND_S)`` rounds.
ROUND_S = 20.0
TINY_ROUND = [("new", 1), ("replay", 0), ("update", 1)]
#: An update runs every step a delivery can take; the replay's steps
#: are a prefix of them.
WARM_UP = [("update", 1)]

#: The per-layer metrics this workload measures.
LAYERS = (
    "sources.pdf_info_s", "sources.extract_s", "sources.pages", "sources.raw_rows",
    "nca.sync_s", "nca.updates",
    "streaming.pipeline_s", "streaming.add_batch_s", "streaming.planning_s",
    "streaming.wal_commit_s",
    "sinks.bytes_written", "sinks.files_written", "sinks.write_amp",
)


def prepare(work: str, n_history: int, seed: int, kinds: list[tuple[str, int]]) -> dict:
    """Writes the store's history and one landed PDF per delivery in
    ``kinds``. Returns the deliveries ``(kind, path, release id, pages,
    row bytes)`` and, per release id, the sorted records and
    allocations the store must hold after all of them."""
    rng = random.Random(seed)
    history = nca_data.history(n_history, seed)
    nca_data.write_store(os.path.join(work, "store"), history)
    current = {r.rid: r for r in history}
    deliveries = []
    for i, (kind, pages) in enumerate(kinds):
        if kind == "new":
            rel = nca_data.make_release(len(current), 0, pages, seed)
        else:
            old = current[rng.choice(sorted(current))]
            rel = old if kind == "replay" else nca_data.make_release(
                int(old.rid[1:]), old.version + 1, pages, seed
            )
        path = os.path.join(work, "landing", str(i), f"{rel.rid}.pdf")
        os.makedirs(os.path.dirname(path))
        with open(path, "wb") as fh:
            fh.write(rel.pdf())
        current[rel.rid] = rel
        deliveries.append((kind, path, rel.rid, rel.page_count, rel.row_bytes()))
    expected = {
        rid: (sorted(r.records), sorted(r.allocations)) for rid, r in current.items()
    }
    return {"deliveries": deliveries, "expected": expected}


def _parquet_files(base: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(base):
        for name in files:
            if name.endswith(".parquet"):
                path = os.path.join(dirpath, name)
                out[path] = os.path.getsize(path)
    return out


class _Progress:
    """Streaming progress collected by a ``StreamingQueryListener``."""

    KEYS = {"addBatch": "add_batch", "queryPlanning": "planning", "walCommit": "wal_commit"}

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        owner = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                for key, name in owner.KEYS.items():
                    owner.totals[name] += event.progress.durationMs.get(key, 0) / 1e3

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                owner.terminated += 1

        self.totals = dict.fromkeys(self.KEYS.values(), 0.0)
        self.terminated = 0
        self._spark = spark
        self._listener = Listener()
        spark.streams.addListener(self._listener)

    def wait_terminated(self, count: int, timeout: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait for the
        termination of the ``count``-th query, after its progress."""
        deadline = time.monotonic() + timeout
        while self.terminated < count and time.monotonic() < deadline:
            time.sleep(0.01)

    def remove(self) -> None:
        self._spark.streams.removeListener(self._listener)


def run(bench: Bench, n_history: int, plan: list[tuple[str, int]], round_s: float) -> dict:
    from dbm_nca_ph_etl_spark.nca.cleaner import promote_header
    from dbm_nca_ph_etl_spark.nca.sync import sync_releases
    from dbm_nca_ph_etl_spark.sinks.merge import NCAStore
    from dbm_nca_ph_etl_spark.sources.pdf_source import (
        extract_raw_cells_from_paths,
        get_parser,
        read_pdf_binaries,
        with_pdf_info,
    )
    from dbm_nca_ph_etl_spark.streaming.nca_stream import run_nca_pipeline

    tracer = bench.tracer
    # A traced run alternates untraced and traced rounds, as many of each.
    n_rounds = work_units(bench.seconds, round_s) * (2 if tracer.enabled else 1)
    inputs = in_child(
        bench.path("tmp"), prepare, bench.work, n_history, bench.seed, WARM_UP + plan * n_rounds
    )
    warm_up, timed = inputs["deliveries"][: len(WARM_UP)], inputs["deliveries"][len(WARM_UP) :]
    store_dir, inbox = bench.path("store"), bench.path("inbox")

    t_setup, c_setup = time.perf_counter(), tree_cpu_s()
    spark = bench.start_spark()
    store = NCAStore(spark, store_dir)
    parser = get_parser("minipdf")
    checkpoint = bench.path("checkpoint")

    def deliver(path: str) -> str:
        """One op; returns the sync action."""
        with tracer.span("sources.pdf_info"):
            info = (
                with_pdf_info(read_pdf_binaries(spark, path), parser)
                .select("release_id", "path", "page_count",
                        "file_meta_created_at", "file_meta_modified_at")
                .collect()
            )
        scraped = spark.createDataFrame(
            [(r.release_id, r.page_count, r.file_meta_created_at, r.file_meta_modified_at)
             for r in info],
            RELEASE_DDL,
        )
        with tracer.span("nca.sync"):
            classified = sync_releases(spark, scraped, store)
            (action,) = [r.action for r in classified.select("action").collect()]
            classified.unpersist()
        if action != "skip":
            files = spark.createDataFrame(
                [(r.release_id, r.path, r.page_count) for r in info], FILES_DDL
            )
            with tracer.span("sources.extract"):
                promote_header(extract_raw_cells_from_paths(files, parser)).coalesce(
                    1
                ).write.mode("append").parquet(inbox)
            with tracer.span("streaming.pipeline"):
                run_nca_pipeline(spark, inbox, store, checkpoint)
        return action

    tracer.recording = False
    for _kind, path, *_ in warm_up:
        deliver(path)
    setup_s, setup_cpu_s = elapsed(t_setup), tree_cpu_s() - c_setup

    lat = {False: [], True: []}
    cpu = {False: [], True: []}
    untraced_pages = 0
    raised, touched, ops = [], {}, []
    layer: dict[str, float] = defaultdict(float)
    row_bytes = 0
    traced_ops: set[int] = set()
    for attempted, (kind, path, rid, pages, n_bytes) in enumerate(timed, 1):
        n_round = (attempted - 1) // len(plan)
        traced = tracer.recording = tracer.enabled and n_round % 2 == 1
        if traced and (attempted - 1) % len(plan) == 0:
            progress = _Progress(spark)
            n_runs = 0  # streaming queries started in this round
        touched[rid] = attempted
        if traced:
            tracer.op_id = attempted
            traced_ops.add(attempted)
            store_before = _parquet_files(store_dir)
            inbox_before = _parquet_files(inbox)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                action = deliver(path)
        except Exception as exc:  # a failed delivery is counted, not fatal
            action = "raised"
            raised.append((attempted, f"{type(exc).__name__}: {exc}"[:300]))
        dt = elapsed(t0)
        cpu[traced].append(tree_cpu_s() - c0)
        lat[traced].append(dt)
        ops.append((kind, pages, action, round(dt, 3)))
        if not traced:
            untraced_pages += pages
        else:
            if action in ("insert", "update"):
                n_runs += 1
                progress.wait_terminated(n_runs)
                row_bytes += n_bytes
            new = {
                p: s for p, s in _parquet_files(store_dir).items()
                if store_before.get(p) != s
            }
            layer["sinks.bytes_written"] += sum(new.values())
            layer["sinks.files_written"] += len(new)
            layer["sources.pages"] += pages
            layer["nca.updates"] += action == "update"
            layer["sources.raw_rows"] += sum(
                pq.read_metadata(p).num_rows
                for p in _parquet_files(inbox) if p not in inbox_before
            )
            if attempted % len(plan) == 0:
                progress.remove()
                for name, total in progress.totals.items():
                    layer[f"streaming.{name}_s"] += total
    bench.rss.stop()

    wrong = _check_store(store_dir, inputs["expected"])
    failed_ops = {op for op, _ in raised} | {
        op for rid, op in touched.items() if rid in wrong
    }
    untouched_wrong = [rid for rid in wrong if rid not in touched]
    failed = min(len(timed), len(failed_ops) + len(untouched_wrong))

    tail_q = tail_quantile(len(lat[False]))
    result = {
        "attempted": len(timed),
        "failed": failed,
        "setup_s": setup_s,
        "setup_cpu_s": setup_cpu_s,
        "e2e": latency_metrics(lat[False], cpu[False], tail_q),
        "info": {
            "rounds": n_rounds,
            "samples": len(lat[False]),
            "tail_quantile": tail_q,
            "pages_per_s": untraced_pages / sum(lat[False]),
            "history_releases": n_history,
            "store_records": sum(len(rec) for rec, _ in inputs["expected"].values()),
            "wrong_releases": sorted(wrong)[:20],
            "raised": raised[:5],
            "ops": ops,
        },
    }
    if tracer.enabled:
        n = len(traced_ops)
        self_t = tracer.self_times(traced_ops)
        for span in ("sources.pdf_info", "sources.extract", "nca.sync", "streaming.pipeline"):
            layer[f"{span}_s"] = self_t[span]
        layers = {k: v / n for k, v in layer.items()}
        layers["sinks.write_amp"] = layer["sinks.bytes_written"] / row_bytes
        result["layers"] = layers
        result["self_s"] = {k: v / n for k, v in self_t.items()}
        result["traced_e2e"] = latency_metrics(lat[True], cpu[True], tail_q)
    return result


def _check_store(store_dir: str, expected: dict[str, tuple[list, list]]) -> set[str]:
    """Release ids whose records or allocations in the store differ
    from the generator's rows, or that have dead-lettered rows."""
    got_rec, got_alloc = {}, {}
    for table, schema, got in (
        ("record", nca_data.RECORD_TYPE, got_rec),
        ("allocation", nca_data.ALLOCATION_TYPE, got_alloc),
    ):
        rows = pq.read_table(os.path.join(store_dir, table), columns=schema.names)
        for row in zip(*(rows.column(c).to_pylist() for c in schema.names)):
            got.setdefault(row[-1], []).append(row)
    wrong = {
        rid for rid in set(expected) | set(got_rec)
        if rid not in expected
        or sorted(got_rec.get(rid, [])) != expected[rid][0]
        or sorted(got_alloc.get(rid, [])) != expected[rid][1]
    }
    dlq = os.path.join(store_dir, "dlq")
    if os.path.isdir(dlq):
        wrong |= set(pq.read_table(dlq, columns=["release_id"]).column(0).to_pylist())
    return wrong
