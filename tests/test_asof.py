"""as-of + range join (operators/asof.py) vs brute-force semantics."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.operators.asof import asof_join, range_join

LEFT = [
    # (id, key, ts)
    (1, "a", 100),
    (2, "a", 205),
    (3, "a", 300),
    (4, "b", 50),
    (5, "b", 500),
    (6, "c", 10),  # key with no right rows at all
]
RIGHT = [
    # (rid, key, ts, val)
    (10, "a", 90, 1.0),
    (11, "a", 205, 2.0),  # equal-ts match (inclusive)
    (12, "a", 290, 3.0),
    (13, "b", 400, 4.0),
]


def _frames(spark):
    l = spark.createDataFrame(LEFT, ["id", "key", "ts"])
    r = spark.createDataFrame(RIGHT, ["rid", "key", "ts", "val"])
    return l, r


def _brute(direction, tolerance=None):
    """Reference result computed in Python: closest right row per side."""
    out = {}
    for lid, lk, lts in LEFT:
        cands = [
            (rts, rid, val)
            for rid, rk, rts, val in RIGHT
            if rk == lk
            and (rts <= lts if direction == "backward" else rts >= lts)
            and (tolerance is None or abs(rts - lts) <= tolerance)
        ]
        if direction == "backward":
            best = max(cands) if cands else None
        else:
            best = min(cands) if cands else None
        out[lid] = (best[1], best[0], best[2]) if best else (None, None, None)
    return out


def _check(df, expect):
    got = {
        row.id: (row.asof_rid, row.asof_ts, row.asof_val)
        for row in df.collect()
    }
    assert got == expect


def test_asof_backward(spark):
    l, r = _frames(spark)
    df = asof_join(l, r, on=["key"], ts_col="ts", payload_cols=["rid", "val"])
    _check(df, _brute("backward"))


def test_asof_forward(spark):
    l, r = _frames(spark)
    df = asof_join(
        l, r, on=["key"], ts_col="ts", payload_cols=["rid", "val"],
        direction="forward",
    )
    _check(df, _brute("forward"))


def test_asof_tolerance(spark):
    l, r = _frames(spark)
    df = asof_join(
        l, r, on=["key"], ts_col="ts", payload_cols=["rid", "val"],
        tolerance=20,
    )
    _check(df, _brute("backward", tolerance=20))


def test_asof_partition_invariant(spark):
    l, r = _frames(spark)
    base = asof_join(l, r, on=["key"], ts_col="ts", payload_cols=["rid", "val"])
    shuffled = asof_join(
        l.repartition(7), r.repartition(3), on=["key"], ts_col="ts",
        payload_cols=["rid", "val"],
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, shuffled.collect()))


def test_asof_preserves_left_rows_and_columns(spark):
    l, r = _frames(spark)
    df = asof_join(l, r, on=["key"], ts_col="ts", payload_cols=["rid", "val"])
    assert df.count() == len(LEFT)
    assert df.columns == ["id", "key", "ts", "asof_ts", "asof_rid", "asof_val"]


def _pairs(df, a="id", b="rid"):
    """Sorted (a, b) pairs of a join result; fails on a duplicate."""
    got = sorted((r[a], r[b]) for r in df.collect())
    assert len(got) == len(set(got)), "duplicate pairs"
    return got


def test_range_join_matches_brute_force(spark):
    l, r = _frames(spark)
    iv = r.select(
        "rid", "key", F.col("ts").alias("start"), (F.col("ts") + 100).alias("end")
    )
    fast = range_join(l, iv, ["key"], [("ts", "start", "end", 100)])
    brute = l.join(iv, ["key"]).where(
        F.col("ts").between(F.col("start"), F.col("end"))
    )
    assert _pairs(fast) == _pairs(brute)
    assert _pairs(fast)  # non-trivial fixture


@pytest.mark.parametrize(
    "on, dims",
    [
        (["k"], [("v", "lo", "hi", 40)]),
        ([], [("v", "lo", "hi", 30)]),
        ([], [("x", "x0", "x1", 25), ("y", "y0", "y1", 60)]),
    ],
    ids=["1d-on-keys", "1d-no-keys", "2d"],
)
def test_range_join_matches_nested_loop(spark, on, dims):
    # signed coordinates, ranges up to 3x the width (up to 5 bins)
    rng = random.Random(len(on) + 10 * len(dims))

    def row(name, i, cols):
        return {name: i, **({"k": i % 3} if on else {}), **cols()}

    points = [
        row("id", i, lambda: {c: rng.randint(-300, 300) for c, *_ in dims})
        for i in range(300)
    ]

    def bounds():
        out = {}
        for _, lo, hi, w in dims:
            out[lo] = rng.randint(-300, 300)
            out[hi] = out[lo] + rng.randint(0, 3 * w)
        return out

    ranges = [row("rid", i, bounds) for i in range(80)]
    want = sorted(
        (p["id"], r["rid"])
        for p in points
        for r in ranges
        if all(p[k] == r[k] for k in on)
        and all(r[lo] <= p[c] <= r[hi] for c, lo, hi, _ in dims)
    )
    assert want, "non-trivial fixture"
    got = range_join(
        spark.createDataFrame(points), spark.createDataFrame(ranges), on, dims
    )
    assert _pairs(got) == want


def test_range_join_refuses_width_below_one(spark):
    l, r = _frames(spark)
    iv = r.select("rid", "key", F.col("ts").alias("lo"), F.col("ts").alias("hi"))
    with pytest.raises(ValueError, match="width"):
        range_join(l, iv, ["key"], [("ts", "lo", "hi", 0)])
