"""Grid-cell spatial joins — distance predicates without Cartesian
products (100 TB mandate; the LSH discipline applied to geometry).

A distance join (``all pairs within radius r``) is a 2-D range join:
a point within ``r`` of another lies in that point's box
``[x - r, x + r] x [y - r, y + r]``. Both joins here run
:func:`operators.asof.range_join` over that box with bin width ``r``
on each axis, so one side keeps its home grid cell and the other side
is replicated to the 3x3 cells its box covers. Each candidate pair
meets once, so no post-join dedup is needed, and the exact predicate
``dx^2 + dy^2 <= r^2`` then filters candidates in integer arithmetic
— no floating point anywhere, so the same rows survive on every
engine.

Scale shape: both sides hash-partition on the cell — a corpus-sized
distance self-join is one shuffle, with per-cell work bounded by
local point density, never O(n^2) in the corpus. The join is pinned
to ``shuffle_hash`` for self-joins (the build side grows with the
corpus — the dup_ngram lesson from SCALING.md: Spark's static size
estimate can promote a corpus-sized build to BroadcastHash, which
serially materializes it on the driver at scale). Dense cells are the
skew case and follow operators/skew.py's guidance.

Coordinates are int64 (e.g. milli-degrees or metres) of either sign.
Radius 0 finds coincident points (bin width 1); a negative radius is
refused when the query is built.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.operators.asof import range_join


def _side(
    df: DataFrame, key: str, x: str, y: str, s: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Key and coordinates renamed ``_k{s}, _x{s}, _y{s}``, plus each
    ``carry`` column as ``_c_{c}_{s}``."""
    return df.select(
        F.col(key).alias(f"_k{s}"),
        F.col(x).alias(f"_x{s}"),
        F.col(y).alias(f"_y{s}"),
        *[F.col(c).alias(f"_c_{c}_{s}") for c in carry],
    )


def _within(a: DataFrame, b: DataFrame, radius: int) -> DataFrame:
    """Every (``a``, ``b``) pair of :func:`_side` frames within
    ``radius``, with its exact squared distance ``d2``: ``a`` points
    range-joined against each ``b`` point's radius box."""
    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    box = b.select(
        "*",
        *[
            (F.col(f"_{v}b") + d).alias(f"_{v}{n}")
            for v in "xy"
            for n, d in (("lo", -radius), ("hi", radius))
        ],
    )
    w = max(radius, 1)
    d2 = F.expr("(_xa - _xb) * (_xa - _xb) + (_ya - _yb) * (_ya - _yb)")
    return (
        range_join(a, box, [], [("_xa", "_xlo", "_xhi", w), ("_ya", "_ylo", "_yhi", w)])
        .where(d2 <= F.lit(radius * radius))
        .withColumn("d2", d2.cast("bigint"))
    )


def self_pairs_within(
    pts: DataFrame,
    key: str,
    x: str = "x",
    y: str = "y",
    radius: int = 1,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Every unordered pair of distinct points within ``radius``:
    columns ``{key}_a, {key}_b`` (``a < b``), ``d2`` (exact squared
    distance, int64), plus ``{c}_a, {c}_b`` for each ``carry``
    column (attributes ride through the join instead of paying a
    corpus-sized re-join on the output).

    One shuffle on the grid cell; candidates are in-neighbourhood
    pairs only.
    """
    a = _side(pts, key, x, y, "a", carry)
    b = _side(pts, key, x, y, "b", carry)
    # shuffle_hash: both sides are corpus-sized — never let a static
    # size estimate promote one to a driver-built broadcast
    # (SCALING.md dup_ngram finding).
    return (
        _within(a.hint("shuffle_hash"), b, radius)
        .where(F.col("_ka") < F.col("_kb"))
        .select(
            F.col("_ka").alias(f"{key}_a"),
            F.col("_kb").alias(f"{key}_b"),
            "d2",
            *[
                F.col(f"_c_{c}_{s}").alias(f"{c}_{s}")
                for c in carry
                for s in ("a", "b")
            ],
        )
    )


def join_within(
    probes: DataFrame,
    targets: DataFrame,
    probe_key: str,
    target_key: str,
    x: str = "x",
    y: str = "y",
    radius: int = 1,
    broadcast_probes: bool = False,
) -> DataFrame:
    """All (probe, target) pairs within ``radius``: columns
    ``probe_key, target_key, d2``. The probe side is replicated to the
    9 cells of its radius box; set ``broadcast_probes`` when it is a
    bounded query set (a k-NN request batch), which turns the whole
    join into a map-only pass over the target corpus.
    """
    t = _side(targets, target_key, x, y, "a")
    p = _side(probes, probe_key, x, y, "b")
    if broadcast_probes:
        p = F.broadcast(p)
    else:
        # both sides corpus-sized: pin a distributed strategy so a
        # static-size mis-estimate cannot promote either to a
        # driver-built broadcast (SCALING.md dup_ngram finding)
        t = t.hint("shuffle_hash")
    return _within(t, p, radius).select(
        F.col("_kb").alias(probe_key), F.col("_ka").alias(target_key), "d2"
    )
