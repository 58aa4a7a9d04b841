"""Per-query cost decomposition for the optimization rounds.

For each named bench query, measures — after one untimed warmup —
the min over N runs of:

- ``construct``: time spent in ``q.fn(spark, sf_dir)`` building the
  DataFrame. Queries whose operators are EAGER (localCheckpoint,
  threshold collects, approxQuantile, codebook training) pay real
  Spark jobs here; a large share means driver round-trips, not the
  final plan, dominate.
- ``action``: time for the final ``collect()`` (or noop write with
  ``SPARK_GRAFT_SINK=noop``).
- ``jobs``: how many Spark jobs the full run issued (status tracker
  delta) — each sequential job is a full cluster barrier at any
  scale, and ~0.1-0.3 s of fixed latency in local mode.
- ``compiles``: generated classes the JVM compiled, as
  ``{"warmup": n, "timed": n}`` — the warmup run's count and the sum
  over the timed runs. A nonzero ``timed`` means the runs paid Janino
  and JIT work again: plans that differ per run, or classes evicted
  from Spark's generated-code cache.
- ``plan_lines``: line count of the executed plan as
  ``tests/test_plan_lint.py`` budgets it: the query's entry in the
  lint's catalog build (``plans/fingerprint.build_catalog``: sf0.001,
  AQE and auto-broadcast off), taken before the warmup, untimed.

Usage::

    python tools/profile_query.py [query ...]        # default: all bench
    SPARK_GRAFT_SINK=noop python tools/profile_query.py q1 q2

Prints one JSON line per query plus a total line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbm_nca_ph_etl_spark.plans.fingerprint import build_catalog
from dbm_nca_ph_etl_spark.plans.queries import QUERIES
from dbm_nca_ph_etl_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sink = os.environ.get("SPARK_GRAFT_SINK", "collect")
    n_runs = int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "3"))
    names = sys.argv[1:] or [n for n, q in QUERIES.items() if "bench" in q.tags]

    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def job_count() -> int:
        ids = tracker.getJobIdsForGroup(None) or []
        return len(ids)

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compile_count() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    for name in names:
        q = QUERIES[name]

        def run() -> tuple[float, float]:
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            t1 = time.perf_counter()
            if sink == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            t2 = time.perf_counter()
            return t1 - t0, t2 - t1

        sc.setJobDescription(f"profile:{name}")
        plan_lines = len(build_catalog(spark, [name])[name].plan.splitlines())
        k0 = compile_count()
        run()  # warmup (codegen, footers)
        k1 = compile_count()
        best = None
        jobs = 0
        for _ in range(n_runs):
            j0 = job_count()
            c, a = run()
            jobs = job_count() - j0
            if best is None or c + a < best[0] + best[1]:
                best = (c, a)
        sc.setJobDescription(None)
        print(
            json.dumps(
                {
                    "query": name,
                    "construct": round(best[0], 3),
                    "action": round(best[1], 3),
                    "total": round(best[0] + best[1], 3),
                    "jobs": jobs,
                    "plan_lines": plan_lines,
                    "compiles": {"warmup": k1 - k0, "timed": compile_count() - k1},
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
