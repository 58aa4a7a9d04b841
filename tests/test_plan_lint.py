"""Catalog-wide physical-plan lint — the 100 TB anti-pattern sweep
as a standing gate rather than a review-time activity.

Every catalog query (the whole registry, whatever its size) is
planned (not executed) at sf0.001 with AQE off, and its physical plan
is checked for the two patterns that kill distributed scale:

- ``CartesianProduct`` — an unbroadcast cross join is O(n·m) shuffle
  work. Allowed ONLY for the explicitly-labeled exact correctness
  baselines, which exist to oracle-check their scale-path siblings.
- ``BatchEvalPython`` — a row-at-a-time Python UDF in any plan is a
  10-100× interpreted slowdown vs Arrow batching. Never allowed;
  Python must enter plans only as ``ArrowEvalPython`` /
  ``MapInPandas`` / ``FlatMapGroupsInPandas`` (vectorized).

Plan construction for a handful of queries triggers real (tiny) jobs
at sf0.001 — k-means training iterations, LSH signature checkpoints,
quantile boundary sampling — which is exactly what those operators
do at any scale; the lint sees the plan that would run on the big
cluster. The same build fingerprints every query, and
``test_fingerprints_are_current`` holds ``plans/fingerprints.json`` to
it.
"""

from __future__ import annotations

import pytest

from dbm_nca_ph_etl_spark.plans.fingerprint import build_catalog, read_fingerprints

# Exact O(n^2) correctness baselines, documented as such in their
# registrations — the ONLY places a cartesian product may appear.
# Each entry must ALSO carry a fail-fast scale guard in its operator
# (similarity.scale_guard: bounded count, refuses corpus-sized
# input) — test_exact_baselines_carry_scale_guards enforces that
# pairing. (ngram_jaccard_pairs is all-pairs too, but expresses the
# pair space through a range-join condition that plans as a
# nested-loop join, not CartesianProduct.)
ALLOWED_CARTESIAN = {
    "embedding_near_dup_pairs",
}


@pytest.fixture(scope="module")
def built(spark):
    """The one catalog build per run, with AQE and auto-broadcast off:
    a query leaning on "the side happens to be small today" degrades
    to CartesianProduct here, at plan time, instead of at 100 TB."""
    return build_catalog(spark)


@pytest.fixture(scope="module")
def plans(built):
    return {name: b.plan for name, b in built.items()}


def test_no_unexpected_cartesian_products(plans):
    offenders = {
        name
        for name, plan in plans.items()
        if "CartesianProduct" in plan and name not in ALLOWED_CARTESIAN
    }
    assert not offenders, f"unbroadcast cross joins crept in: {sorted(offenders)}"


def test_no_row_at_a_time_python_udfs(plans):
    offenders = {name for name, plan in plans.items() if "BatchEvalPython" in plan}
    assert not offenders, f"row-at-a-time Python UDFs: {sorted(offenders)}"


#: Catalog queries built on operators.asof.range_join. A binned range
#: join is one hash equi-join; a nested loop or cartesian product in
#: one of these plans means the bins were lost. (Many other catalog
#: queries plan nested loops on purpose, so this is not catalog-wide.)
RANGE_JOIN_QUERIES = (
    "range_join_events",
    "purchase_window_click_join",
    "fuzzy_name_pairs",
    "spatial_neighbor_segments",
    "spatial_nearest_customer",
)


def test_range_joins_stay_binned(plans):
    offenders = {
        name
        for name in RANGE_JOIN_QUERIES
        if "BroadcastNestedLoopJoin" in plans[name]
        or "CartesianProduct" in plans[name]
    }
    assert not offenders, f"range joins planned as nested loops: {sorted(offenders)}"


#: Plan-node budget: executed-plan lines per catalog query (as the
#: ``plans`` fixture plans it; ``tools/profile_query.py`` reports the
#: same count as ``plan_lines``). Measured when the budget was set:
#: mmr_diverse_topk, whose greedy loop was then unrolled into the plan,
#: had 1,877 lines; the next largest (embedding_near_dup_lsh) 125, and
#: the catalog median 15.
MAX_PLAN_LINES = 250


def test_plans_within_line_budget(plans):
    sizes = {name: len(plan.splitlines()) for name, plan in plans.items()}
    offenders = {n: s for n, s in sizes.items() if s > MAX_PLAN_LINES}
    assert not offenders, f"plans over {MAX_PLAN_LINES} lines: {offenders}"


def test_allowed_cartesian_list_is_tight(plans):
    """The allowlist must not rot: every allowed name still exists
    and still actually plans a cartesian product (otherwise shrink
    the list)."""
    for name in ALLOWED_CARTESIAN:
        assert name in plans
        assert "CartesianProduct" in plans[name], (
            f"{name} no longer plans a CartesianProduct - remove it "
            "from ALLOWED_CARTESIAN"
        )


def test_exact_baselines_carry_scale_guards(spark):
    """The two labeled exact baselines refuse corpus-sized input at
    plan-construction time — a user pointing them at a real corpus
    gets a ValueError naming the scale-path sibling, not an O(n^2)
    job."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dbm_nca_ph_etl_spark.operators.similarity import (
        cosine_near_dup_pairs,
        cosine_topk,
    )

    wide = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="exact baseline"):
        cosine_near_dup_pairs(wide, max_rows=10)
    with _pytest.raises(ValueError, match="exact baseline"):
        cosine_topk(wide, wide, k=3, max_queries=10)
    # within bounds (and explicit opt-out) both still plan fine
    small = wide.where(F.col("vec_id") < 5)
    assert cosine_near_dup_pairs(small, max_rows=10).count() >= 0
    assert cosine_topk(wide, small, k=3, max_queries=10).count() > 0
    assert cosine_near_dup_pairs(wide.limit(12), max_rows=None).count() >= 0


#: Catalog queries that read the default parallelism: block counts
#: (windows), a repartition width (text_analysis) and ``range`` splits.
PARALLELISM_QUERIES = (
    "gini_revenue_concentration",
    "segment_dedup_docs",
    "train_langid_classifier",
)


def test_fingerprints_do_not_depend_on_host_cores(spark, built, monkeypatch):
    """The committed hashes hold on any host: built as on a host with
    one core more, on both the Python and the JVM side, these queries
    hash as in the session's own build."""
    from pyspark import SparkContext

    cores = spark.sparkContext.defaultParallelism + 1
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda _: cores))
    spark.conf.set("spark.sql.leafNodeDefaultParallelism", str(cores))
    try:
        other = build_catalog(spark, PARALLELISM_QUERIES)
    finally:
        spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
    assert {n: b.digest for n, b in other.items()} == {
        n: built[n].digest for n in PARALLELISM_QUERIES
    }


def test_fingerprints_are_current(built):
    """``plans/fingerprints.json`` matches the code: a query whose
    plan, eager jobs, UDF code or oracle changed must be re-stamped,
    so the driver's next sample leads with it."""
    committed = {n: h for n, (h, _) in read_fingerprints().items()}
    now = {n: b.digest for n, b in built.items()}
    both = now.keys() & committed.keys()
    stale = {
        "changed": sorted(n for n in both if now[n] != committed[n]),
        "missing": sorted(now.keys() - committed.keys()),
        "extra": sorted(committed.keys() - now.keys()),
    }
    assert not any(stale.values()), (
        "plans/fingerprints.json is stale ("
        + "; ".join(f"{k}: {' '.join(v)}" for k, v in stale.items() if v)
        + "); regenerate it with `python tools/dump_plans.py`"
    )


def test_registered_udtf_body_is_fingerprinted(spark, built, monkeypatch):
    """SQL calls a registered Python UDTF by name, so its class body is
    in no plan text: ``udtf_kv_explode`` must hash differently when
    ``parse_kv`` is registered as a different class."""
    from pyspark.sql.functions import udtf

    from dbm_nca_ph_etl_spark.functions import table_functions

    @udtf(returnType="key string, value string", useArrow=True)
    class ParseKvFirstPairOnly:
        def eval(self, s: str):
            k, sep, v = (s or "").split(";")[0].partition("=")
            if sep and k:
                yield (k, v)

    monkeypatch.setattr(table_functions, "ParseKv", ParseKvFirstPairOnly)
    try:
        other = build_catalog(spark, ["udtf_kv_explode"])
    finally:
        monkeypatch.undo()
        table_functions.register_table_functions(spark)
    assert other["udtf_kv_explode"].digest != built["udtf_kv_explode"].digest
