"""The catalog-query workload: a closed-loop session of bench queries.

One client runs passes over a fixed query set, each pass in a seeded
order; an op is ``Query.fn(spark, sf_dir)`` plus ``collect()``. The
first pass is the warm-up (part of set-up): it pays code generation
and file footers, and the bulk of the JIT's work. A fixed number of
timed passes follows. A child process writes the tables and computes
the DuckDB oracle answers before the session starts; after the timed
passes the first pass's results are checked against them, and every
later result must equal the first. In a traced run the timed passes
alternate between untraced and traced, so the difference between the
two is the tracing overhead.
"""

from __future__ import annotations

import hashlib
import random
import time
from collections import defaultdict

from harness import Bench, elapsed, in_child, latency_metrics, tail_quantile, work_units
from probes import JobProbe, plan_stats, tree_cpu_s

#: Fixed seed of the catalog data: the run seed only orders the queries,
#: so every run checks the same answers.
DATA_SEED = 42

#: Seconds one pass spends in ops on four cores: a run of ``--seconds``
#: measures ``work_units(seconds, PASS_S)`` passes.
PASS_S = 7.0

#: The per-layer metrics this workload measures.
LAYERS = (
    "plans.construct_s", "plans.eager_jobs", "plans.plan_nodes",
    "operators.action_s", "operators.jobs", "operators.stages",
    "operators.shuffle_bytes", "operators.spill_bytes",
    "operators.peak_memory_bytes", "operators.broadcast_s",
    "sources.scan_bytes", "sources.scan_s", "sources.rows_scanned",
)

#: The query set, half from each side of the catalog. Similarity and
#: dedup queries spend most of their time in plan construction and
#: eager jobs (localCheckpoint, codebook training, guard counts);
#: relational and event queries in scans, shuffles, and broadcast and
#: range joins.
QUERY_SET = (
    "ann_ivfpq_topk",  # PQ codebook memo, eager training
    "minhash_lsh_pairs",  # md5 signatures, LSH banding
    "fuzzy_name_pairs",  # length-band range join, Levenshtein
    "revenue_by_nation",  # broadcast dimension joins, fact scan
    "market_basket_brand_pairs",  # eager localCheckpoint
    "purchase_window_click_join",  # time-range join
)


def result_key(rows) -> str:
    """Order-insensitive digest of collected rows."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
    return h.hexdigest()


def prepare(sf_dir: str, sf: float, tmp_dir: str, names: tuple[str, ...]) -> dict:
    """Writes the catalog tables and returns each query's DuckDB
    oracle answer as ``(sorted columns, value_repr rows)``."""
    import catalog_data
    import duckdb

    from dbm_nca_ph_etl_spark.plans.queries import QUERIES
    from dbm_nca_ph_etl_spark.sources.catalog import TABLES
    from tools.oracle_check import canon, value_repr

    catalog_data.write(sf_dir, sf, DATA_SEED)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    answers = {}
    for name in names:
        want = canon(con.execute(QUERIES[name].oracle).fetchdf())
        answers[name] = (list(want.columns), value_repr(want))
    con.close()
    return answers


def oracle_failures(results: dict, answers: dict) -> dict[str, str]:
    """Compare each warm-up result ``(columns, rows)`` with its oracle
    answer, the way ``tools/oracle_check.py`` does; returns the queries
    that differ, with the reason."""
    import pandas as pd

    from tools.oracle_check import canon, value_repr

    bad = {}
    for name, (columns, rows) in results.items():
        got = canon(pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns))
        want_columns, want_rows = answers[name]
        if list(got.columns) != want_columns:
            bad[name] = f"columns {list(got.columns)} != {want_columns}"
        elif len(got) != len(want_rows):
            bad[name] = f"rows {len(got)} != {len(want_rows)}"
        elif value_repr(got) != want_rows:
            bad[name] = "values differ"
    return bad


def run(bench: Bench, names: tuple[str, ...], sf: float, warm_passes: int, pass_s: float) -> dict:
    from dbm_nca_ph_etl_spark.plans.queries import QUERIES

    sf_dir = bench.path("sf")
    answers = in_child(
        bench.path("tmp"), prepare, sf_dir, sf, bench.path("tmp", "duckdb"), names
    )
    rng = random.Random(bench.seed)
    tracer = bench.tracer
    # A traced run alternates untraced and traced passes, as many of each.
    n_passes = work_units(bench.seconds, pass_s) * (2 if tracer.enabled else 1)

    def order() -> list[str]:
        return rng.sample(names, len(names))

    # Set-up ends after ``warm_passes`` passes. One pays the first-run
    # costs; the JIT keeps settling a little over the timed passes, but
    # a second warm-up pass would add 8 s to every run of a series that
    # has a fixed time budget.
    t_setup, c_setup = time.perf_counter(), tree_cpu_s()
    spark = bench.start_spark()
    warm, failed_names, warm_lat = {}, {}, {}
    for _ in range(warm_passes):
        for name in order():
            t0 = time.perf_counter()
            try:
                df = QUERIES[name].fn(spark, sf_dir)
                columns, rows = df.columns, df.collect()
            except Exception as exc:  # a failing query is reported, not fatal
                failed_names[name] = f"warm-up raised {type(exc).__name__}: {exc}"[:300]
                continue
            finally:
                warm_lat.setdefault(name, []).append(round(elapsed(t0), 3))
            if name not in warm:
                warm[name] = (columns, rows)
            elif result_key(rows) != result_key(warm[name][1]):
                failed_names[name] = "warm-up results differ between passes"
    setup_s, setup_cpu_s = elapsed(t_setup), tree_cpu_s() - c_setup
    expected = {n: result_key(rows) for n, (_, rows) in warm.items()}

    jobs = JobProbe(spark)
    lat = {False: [], True: []}
    cpu = {False: [], True: []}
    layer: dict[str, float] = defaultdict(float)
    traced_ops: set[int] = set()
    per_query: dict[str, list[float]] = {}
    results: list[tuple[str, str | None]] = []
    attempted = 0
    for n_pass in range(n_passes):
        traced = tracer.recording = tracer.enabled and n_pass % 2 == 1
        for name in order():
            attempted += 1
            fn = QUERIES[name].fn
            stats = None
            key = None
            if traced:
                tracer.op_id = attempted
                traced_ops.add(attempted)
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.span("op"):
                        j0 = jobs.snapshot()
                        with tracer.span("plans.construct"):
                            df = fn(spark, sf_dir)
                        j1 = jobs.snapshot()
                        with tracer.span("operators.action"):
                            rows = df.collect()
                        j2 = jobs.snapshot()
                    dt = elapsed(t0)
                    cpu[traced].append(tree_cpu_s() - c0)
                    stats = plan_stats(df)
                else:
                    rows = fn(spark, sf_dir).collect()
                    dt = elapsed(t0)
                    cpu[traced].append(tree_cpu_s() - c0)
                key = result_key(rows)
            except Exception:
                dt = elapsed(t0)
                cpu[traced].append(tree_cpu_s() - c0)
            results.append((name, key))
            lat[traced].append(dt)
            per_query.setdefault(name, []).append(round(dt, 3))
            if stats is not None:
                action_jobs, action_stages = jobs.delta(j1, j2)
                layer["plans.eager_jobs"] += jobs.delta(j0, j1)[0]
                layer["operators.jobs"] += action_jobs
                layer["operators.stages"] += action_stages
                for stat, value in stats.items():
                    layer[stat] += value
    bench.rss.stop()

    failed_names.update(oracle_failures(warm, answers))
    failed = sum(
        name in failed_names or key != expected.get(name) for name, key in results
    )
    tail_q = tail_quantile(len(lat[False]))
    result = {
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        "setup_cpu_s": setup_cpu_s,
        "e2e": latency_metrics(lat[False], cpu[False], tail_q),
        "info": {
            "queries": list(names),
            "passes": n_passes,
            "samples": len(lat[False]),
            "tail_quantile": tail_q,
            "sf": sf,
            "failed_queries": failed_names,
            "latencies": per_query,
            "warm_up_latencies": warm_lat,
        },
    }
    if tracer.enabled:
        n = len(traced_ops)
        self_t = tracer.self_times(traced_ops)
        layer["plans.construct_s"] = self_t["plans.construct"]
        layer["operators.action_s"] = self_t["operators.action"]
        result["layers"] = {k: v / n for k, v in layer.items()}
        result["self_s"] = {k: v / n for k, v in self_t.items()}
        result["traced_e2e"] = latency_metrics(lat[True], cpu[True], tail_q)
    return result
