"""Grid-cell spatial join operator (operators/spatial.py).

The correctness bar is the naive quadratic join: on every point set
the bucketed candidate plan must enumerate EXACTLY the brute-force
pair set (the cell decomposition is an optimization, never a
semantic). Plan tests pin the scale contract: no CartesianProduct,
shuffle_hash on the self-join, map-only probe when broadcast.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.operators import spatial as SP


def _brute_pairs(pts, radius):
    out = set()
    for (ka, xa, ya), (kb, xb, yb) in itertools.combinations(pts, 2):
        d2 = (xa - xb) ** 2 + (ya - yb) ** 2
        if d2 <= radius * radius:
            a, b = sorted((ka, kb))
            out.add((a, b, d2))
    return out


def _mk_points(n, span=1000):
    # deterministic scatter with real collisions: multiplicative hash
    # mod a span small enough that neighbours exist at radius ~50.
    return [
        (k, (k * 2654435761) % span, (k * 40503) % span) for k in range(n)
    ]


@pytest.fixture(scope="module")
def pts_df(spark):
    pts = _mk_points(300)
    return spark.createDataFrame(
        [Row(k=k, x=x, y=y, grp="g%d" % (k % 3)) for k, x, y in pts]
    )


def test_self_pairs_match_brute_force(spark, pts_df):
    pts = _mk_points(300)
    for radius in (30, 50, 120):
        got = {
            (r.k_a, r.k_b, r.d2)
            for r in SP.self_pairs_within(
                pts_df, "k", radius=radius
            ).collect()
        }
        assert got == _brute_pairs(pts, radius), f"radius={radius}"


def test_self_pairs_exactly_once_no_dedup_needed(spark, pts_df):
    # the 3x3 explosion yields each candidate pair once — duplicate
    # output rows would mean the join found a pair through two cells
    rows = SP.self_pairs_within(pts_df, "k", radius=120).collect()
    keys = [(r.k_a, r.k_b) for r in rows]
    assert len(keys) == len(set(keys))
    assert all(r.k_a < r.k_b for r in rows)


def test_radius_zero_finds_coincident_points(spark):
    # radius 0 bins at width 1; a width-0 grid divided by zero mid-job
    pts = [(k, k % 4, (k // 4) % 3) for k in range(30)]
    df = spark.createDataFrame([Row(k=k, x=x, y=y) for k, x, y in pts])
    want = _brute_pairs(pts, 0)
    assert want and all(d2 == 0 for _, _, d2 in want)
    got = {
        (r.k_a, r.k_b, r.d2)
        for r in SP.self_pairs_within(df, "k", radius=0).collect()
    }
    assert got == want
    got = {
        (r.pk, r.k, r.d2)
        for r in SP.join_within(
            df.withColumnRenamed("k", "pk"), df, "pk", "k", radius=0
        ).collect()
    }
    assert got == {
        (ka, kb, 0) for ka, *pa in pts for kb, *pb in pts if pa == pb
    }


def test_negative_radius_refused(spark, pts_df):
    with pytest.raises(ValueError, match="radius"):
        SP.self_pairs_within(pts_df, "k", radius=-1)
    with pytest.raises(ValueError, match="radius"):
        SP.join_within(pts_df, pts_df, "k", "k", radius=-1)


def test_negative_coordinates_match_brute_force(spark):
    pts = [(k, x - 500, y - 500) for k, x, y in _mk_points(300)]
    df = spark.createDataFrame([Row(k=k, x=x, y=y) for k, x, y in pts])
    got = [
        (r.k_a, r.k_b, r.d2)
        for r in SP.self_pairs_within(df, "k", radius=50).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == _brute_pairs(pts, 50)


def test_carry_columns_ride_through(spark, pts_df):
    rows = SP.self_pairs_within(
        pts_df, "k", radius=120, carry=("grp",)
    ).collect()
    assert rows, "need pairs for the carry check"
    for r in rows:
        assert r.grp_a == "g%d" % (r.k_a % 3)
        assert r.grp_b == "g%d" % (r.k_b % 3)


def test_join_within_matches_brute_force(spark, pts_df):
    probes = spark.createDataFrame(
        [Row(pk=k, x=(k * 7919) % 1000, y=(k * 104729) % 1000) for k in range(40)]
    )
    targets = _mk_points(300)
    pr = [((k * 7919) % 1000, (k * 104729) % 1000, k) for k in range(40)]
    want = {
        (pk, tk, (px - tx) ** 2 + (py - ty) ** 2)
        for px, py, pk in pr
        for tk, tx, ty in targets
        if (px - tx) ** 2 + (py - ty) ** 2 <= 75 * 75
    }
    for bcast in (False, True):
        got = {
            (r.pk, r.k, r.d2)
            for r in SP.join_within(
                probes,
                pts_df,
                "pk",
                "k",
                radius=75,
                broadcast_probes=bcast,
            ).collect()
        }
        assert got == want, f"broadcast_probes={bcast}"


def test_edge_cells_negative_neighbour_offsets(spark):
    # points hugging the frame origin: neighbour cells go to index -1;
    # pairs across that edge must still be found
    df = spark.createDataFrame(
        [Row(k=0, x=1, y=1), Row(k=1, x=3, y=2), Row(k=2, x=499, y=499)]
    )
    got = {
        (r.k_a, r.k_b, r.d2)
        for r in SP.self_pairs_within(df, "k", radius=10).collect()
    }
    assert got == {(0, 1, 5)}


def test_plan_no_cartesian_and_shuffle_hash(spark, pts_df):
    plan = (
        SP.self_pairs_within(pts_df, "k", radius=50)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the corpus-sized self-join must not be a driver-built broadcast
    assert "ShuffledHashJoin" in plan, plan


def test_plan_broadcast_probes_is_map_only(spark, pts_df):
    probes = spark.createDataFrame([Row(pk=1, x=10, y=10)])
    plan = (
        SP.join_within(
            pts_df.select("k", "x", "y"),
            pts_df,
            "k",
            "k",
            radius=50,
            broadcast_probes=False,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    bplan = (
        SP.join_within(
            probes, pts_df, "pk", "k", radius=50, broadcast_probes=True
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in bplan
    assert "CartesianProduct" not in plan + bplan
