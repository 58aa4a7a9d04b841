"""Incremental materialized-view maintenance (partial-agg merge).

A 100 TB lake can't re-aggregate the world to refresh a dashboard
table; the standard trick is to keep the view in *decomposable
partial-aggregate* form and fold each new batch in:

    sum   ← sum  of partial sums        (retractable: negate)
    count ← sum  of partial counts      (retractable: negate)
    min   ← min  of partial mins        (insert-only)
    max   ← max  of partial maxs        (insert-only)
    hll   ← hll_union_agg of partial HLL sketches (insert-only) —
            the COUNT DISTINCT answer for incremental views: exact
            distinct counting is not decomposable (merging per-batch
            distinct counts double-counts), but the Apache DataSketches
            HLL sketch Spark ships (hll_sketch_agg, 3.5+) is a
            register-max lattice, so union is associative, commutative
            AND idempotent; estimate at read time via
            :func:`derived_distinct`
    avg   ← sum / count, derived at READ time — never stored, so it
            stays exact under any merge order
    var   ← (n, Σx, Σx²) moment struct; every field is a plain sum,
            so the sketch is mergeable AND retractable. Variance /
            stddev derived at READ time via :func:`derived_variance`

Each refresh therefore shuffles O(groups) rows — the view itself —
never the raw data; the batch's own partial agg is map-side combined
like any Spark groupBy. This is the batch twin of a streaming
aggregation's state-store update, and maps 1:1 onto a Delta/Iceberg
MERGE INTO on a real deployment.

Persistence (:class:`MaterializedAgg`) uses versioned snapshot
directories, ``v{n:06d}_b{batch_id}``: the merge writes the next
version under its final name and then PUTs a ``_COMMITTED`` marker
into it, so the data and the "batch applied" fact (encoded in the
dirname) commit atomically with one single-object write, on POSIX
and object stores alike (every call goes through the
``sources/lakefs`` seam) — a replayed batch is detected from the
committed versions and skipped,
giving exactly-once view state over an at-least-once feed (same T6
contract as NCAStore.load_batch, sinks/merge.py).

The merge algebra itself is oracle-proven: the
``incremental_matview_orders`` catalog query folds three disjoint
batches through :func:`merge_partials` and must hash-match DuckDB's
direct one-shot aggregate.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.sinks.txlog import CommitFenced, WriterLease
from dbm_nca_ph_etl_spark.sources.lakefs import LakeFS, get_fs
from dbm_nca_ph_etl_spark.sources.lakefs import join as _pjoin

_KINDS = ("sum", "count", "min", "max", "hll", "hist", "cms", "var", "dd", "q")


@dataclass(frozen=True)
class Measure:
    """One decomposable measure: ``name`` is the stored column,
    ``expr`` the input expression (SQL string), ``kind`` the fold.

    ``kind="hist"`` stores a fixed-bin histogram (``array<long>`` of
    ``bins`` counts over [``lo``, ``hi``); values outside clamp to
    the edge bins) — the quantile/distribution answer for
    incremental views: exact percentiles are not decomposable, but
    per-bin counts are plain sums, so the sketch is mergeable AND
    retractable (negate the counts — strictly more algebra than HLL
    offers). Read-time estimates via :func:`derived_quantile`, with
    error bounded by the bin width. The partial agg is ``bins``
    conditional sums in the ONE groupBy every other measure shares —
    no extra shuffle, no collect.

    ``kind="cms"`` stores a count-min sketch (``array<long>`` of
    ``depth × width`` counters, row-major) — the point-FREQUENCY
    answer for incremental views (how many times did item x occur?),
    where hist answers distributions and hll answers distinct
    counts. Each of ``depth`` independent md5-derived hash rows
    increments one of ``width`` counters; the read-time estimate
    (:func:`derived_cms_count`) is the MIN across rows — never an
    undercount, overcount ≤ N/width per row with independent-hash
    probability amplification across rows (Cormode & Muthukrishnan
    2005). A LINEAR sketch: counters add, so it is mergeable AND
    retractable (the full negate algebra hist has and hll lacks).
    The md5-seeded hashes replay exactly in the DuckDB oracle.

    ``kind="var"`` stores the moment struct ``(n, s, s2)`` — count,
    Σx and Σx² — the VARIANCE/STDDEV answer for incremental views.
    x and x² are quantized per row to 1e-6 integer micro-units
    (``floor(v·1e6 + 0.5)``, the engine-parity rounding convention)
    and summed as DECIMAL(38,0), so the partials are exact integers:
    merge order can never perturb them, and every field is a plain
    sum ⇒ mergeable AND retractable. Read-time variance/stddev via
    :func:`derived_variance` / :func:`derived_stddev`. Safe input
    domain |x| ≤ ~3e6 (x²·1e6 must fit the per-row LONG before the
    decimal cast); beyond that, pre-scale the expr.

    ``kind="dd"`` stores a DDSketch-style LOG-bucketed histogram
    (``array<long>`` of ``bins`` counts over geometric buckets
    [lo·γᵇ, lo·γᵇ⁺¹), γ = (hi/lo)^(1/bins)) — the RELATIVE-error
    quantile answer for incremental views. Where ``hist``'s equi-width
    bins bound quantile error by half a bin width (useless in the
    tail of a skewed money/latency distribution), dd bounds it by
    α = (γ−1)/(γ+1) of the VALUE at every quantile simultaneously —
    the p99.9 is as accurate as the median (Masson et al., VLDB'19).
    Deliberately NOT KLL/t-digest: those compact adaptively, so the
    sketch depends on merge order; dd buckets are plain counts —
    mergeable, retractable, and bit-identical under any batch
    arrival order, the invariant this module's oracle proves.
    Positive values only: v < lo clamps to bin 0, v ≥ hi to the last
    bin (the hist clamping convention — α holds on [lo, hi)); v ≤ 0
    is dropped (null log), counted by a sibling ``count`` measure if
    the caller needs it. Read-time quantiles via
    :func:`derived_dd_quantile`; the guarantee via :func:`dd_alpha`.

    ``kind="q"`` stores an UNBOUNDED sparse log-bucketed quantile
    sketch (``map<int,long>`` bucket→count) — the read-time
    p50/p95/p99 answer with NO pre-known bins: where ``hist`` and
    ``dd`` both need [lo, hi) declared up front, q buckets the whole
    double line (sign-mirrored geometric buckets of ratio γ =
    (1+α)/(1−α); |v| < ``min_mag`` collapses to the zero bucket) and
    only the OCCUPIED buckets are stored, so the footprint is
    O(decades·log γ⁻¹) per group however wide the data ranges. This
    is the KLL/t-digest slot in the sketch lattice, deliberately
    filled with DDSketch's unbounded-store shape instead of a
    compacting sketch: KLL and t-digest compact adaptively, so both
    their stored bytes AND their estimates depend on merge order —
    breaking the merge-path invariance this module's oracle proves —
    and neither supports retraction at all. q buckets are plain
    counts: mergeable (map union with +), RETRACTABLE (negate the
    counts), and after the canonicalizing fold (sorted keys,
    zero-count entries pruned) bit-identical under any batch arrival
    or retraction order. Relative error ≤ α at every quantile whose
    true value has |v| ≥ min_mag (absolute error ≤ min_mag below).
    Read-time quantiles via :func:`derived_q_quantile`."""

    name: str
    expr: str
    kind: str
    lo: float = 0.0
    hi: float = 1.0
    bins: int = 32
    depth: int = 3
    width: int = 32
    alpha: float = 0.01
    min_mag: float = 1e-9

    def __post_init__(self):
        if self.kind not in _KINDS:
            raise ValueError(f"kind must be one of {_KINDS}, got {self.kind!r}")
        if self.kind == "hist" and not (self.hi > self.lo and self.bins > 0):
            raise ValueError(f"hist needs hi > lo and bins > 0, got {self}")
        if self.kind == "cms" and not (self.depth > 0 and self.width > 0):
            raise ValueError(f"cms needs depth > 0 and width > 0, got {self}")
        if self.kind == "dd" and not (self.hi > self.lo > 0 and self.bins > 0):
            raise ValueError(f"dd needs hi > lo > 0 and bins > 0, got {self}")
        if self.kind == "q" and not (0 < self.alpha < 1 and self.min_mag > 0):
            raise ValueError(
                f"q needs 0 < alpha < 1 and min_mag > 0, got {self}"
            )


def _hist_bucket(m: Measure, col: Column) -> Column:
    """Clamped equi-width bin index for a hist measure."""
    raw = F.floor(
        (col.cast("double") - F.lit(m.lo)) / F.lit(m.hi - m.lo) * m.bins
    )
    return F.least(F.lit(m.bins - 1), F.greatest(F.lit(0), raw)).cast("int")


def _dd_gamma(m: Measure) -> float:
    """Geometric bucket growth factor: bins buckets span [lo, hi)."""
    return (m.hi / m.lo) ** (1.0 / m.bins)


def _dd_bucket(m: Measure, col: Column) -> Column:
    """Clamped log-space bin index for a dd measure. Null (hence no
    count) for v ≤ 0 or null v — the explicit ``when`` matters:
    ``log`` of a non-positive is null, and Spark's greatest/least
    SKIP null arguments, so without it the clamp would silently file
    negatives into bucket 0 instead of dropping them."""
    d = col.cast("double")
    raw = F.floor(F.log(d / F.lit(m.lo)) / F.lit(math.log(_dd_gamma(m))))
    clamped = F.least(F.lit(m.bins - 1), F.greatest(F.lit(0), raw)).cast("int")
    return F.when(d > 0, clamped).otherwise(F.lit(None).cast("int"))


def _q_gamma(m: Measure) -> float:
    """Geometric bucket ratio for a q measure: γ = (1+α)/(1−α), so
    the bucket-midpoint estimate is within α of any value in the
    bucket (the DDSketch index function, Masson et al. VLDB'19)."""
    return (1.0 + m.alpha) / (1.0 - m.alpha)


_Q_EMPTY = "cast(map() as map<int,bigint>)"


def _q_key(m: Measure, col: Column) -> Column:
    """Sign-mirrored log-bucket key for a q measure: 0 for
    |v| < min_mag (and exact zero), ±(1 + floor(log_γ(|v|/min_mag)))
    else — monotone in v, so ascending keys are ascending values.
    Null input → null key (no count), the dd convention."""
    d = col.cast("double")
    g = _q_gamma(m)
    i = F.greatest(
        F.floor(
            F.log(F.abs(d) / F.lit(m.min_mag)) / F.lit(math.log(g))
        ).cast("long")
        + 1,
        F.lit(0).cast("long"),
    )
    key = F.when(d > 0, i).when(d < 0, -i).otherwise(F.lit(0).cast("long"))
    # explicit null guard: without it a null input would fall through
    # both sign branches into the zero bucket instead of dropping
    return F.when(d.isNotNull(), key).cast("int")


def _cms_bucket(m: Measure, col: Column, row: int) -> Column:
    """Row ``row``'s counter index for an item: 48-bit md5 hash of
    ``"{row}|{item}"`` mod width — seed folded into the hashed bytes
    so rows are independent, and the exact string/md5 convention the
    DuckDB oracle replays (``('0x'||substr(md5(...),1,12))::BIGINT``)."""
    from dbm_nca_ph_etl_spark.functions.scalars import hash48

    item = F.concat_ws("|", F.lit(str(row)), col.cast("string"))
    return (hash48(item) % m.width).cast("int")


def _array_cells(m: Measure) -> int:
    """Stored array length for array-shaped measures."""
    return m.bins if m.kind in ("hist", "dd") else m.depth * m.width


def partial_agg(df: DataFrame, keys: Sequence[str], measures: Sequence[Measure]) -> DataFrame:
    """One batch → its partial-aggregate rows (map-side combined).

    dd sketches take a different path from the other kinds: at
    bins=512, running bins conditional sums over the FACT table is
    512 aggregate buffers touched per input row (measured 143 s on
    sf0.01 orders). Instead each dd measure counts (keys, bucket)
    occupancy first — one O(1)-per-row groupBy with map-side combine,
    output ≤ |groups|·bins rows — and densifies to the stored array
    over THAT group-sized relation, then joins back onto the shared
    groupBy of the remaining measures (143 s → 13 s on the catalog
    query; at 100 TB the per-row cost is one log, not bins
    comparisons). Groups whose dd
    values are all null/≤0 keep an explicit zero array via the
    join's coalesce, identical to the conditional-sum encoding."""
    dd_frames: list[tuple[Measure, DataFrame]] = []
    q_frames: list[tuple[Measure, DataFrame]] = []
    for m in measures:
        if m.kind == "q":
            # same occupancy discipline as dd (O(1) per input row,
            # map-side combine), but densified to a SPARSE sorted map
            # — the stored form is only the occupied buckets
            b = _q_key(m, F.expr(m.expr)).alias("_b")
            occ = (
                df.select(*keys, b)
                .where(F.col("_b").isNotNull())
                .groupBy(*keys, "_b")
                .agg(F.count(F.lit(1)).alias("_c"))
            )
            sparse = occ.groupBy(*keys).agg(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("_b", "_c")))
                ).alias(m.name)
            )
            q_frames.append((m, sparse))
            continue
        if m.kind != "dd":
            continue
        b = _dd_bucket(m, F.expr(m.expr)).alias("_b")
        occ = (
            df.select(*keys, b)
            .where(F.col("_b").isNotNull())
            .groupBy(*keys, "_b")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        # densify via a bucket→count map: ONE expression regardless
        # of bins (a 512-term F.array(*sums) costs ~17 s of py4j
        # round-trips per plan build — the similarity.py array-literal
        # lesson) and O(bins) per group at runtime
        dense = (
            occ.groupBy(*keys)
            .agg(
                F.map_from_entries(F.collect_list(F.struct("_b", "_c"))).alias("_m")
            )
            .select(
                *keys,
                F.transform(
                    F.sequence(F.lit(0), F.lit(m.bins - 1)),
                    lambda i: F.coalesce(
                        F.element_at(F.col("_m"), i), F.lit(0).cast("long")
                    ),
                ).alias(m.name),
            )
        )
        dd_frames.append((m, dense))
    aggs = []
    for m in measures:
        col = F.expr(m.expr)
        if m.kind == "sum":
            aggs.append(F.sum(col).alias(m.name))
        elif m.kind == "count":
            # stored as a summable long so merge is just sum()
            aggs.append(F.count(col).alias(m.name))
        elif m.kind == "min":
            aggs.append(F.min(col).alias(m.name))
        elif m.kind == "hll":
            # lgConfigK=14: ±~0.8% rsd, 16 KiB dense — dashboard grade
            aggs.append(F.hll_sketch_agg(col, 14).alias(m.name))
        elif m.kind in ("dd", "q"):
            continue  # joined in from its occupancy aggregation below
        elif m.kind == "hist":
            b = _hist_bucket(m, col)
            aggs.append(
                F.array(
                    *[
                        F.sum(
                            F.when(col.isNotNull() & (b == i), F.lit(1))
                            .otherwise(F.lit(0))
                            .cast("long")
                        )
                        for i in range(m.bins)
                    ]
                ).alias(m.name)
            )
        elif m.kind == "cms":
            # depth×width conditional sums, row-major — same
            # one-groupBy shape as hist; the md5 bucket expr per row
            # is shared across that row's width cells by Catalyst CSE
            # (verified: one md5 per (input row, depth) in the plan)
            cells = []
            for r in range(m.depth):
                b = _cms_bucket(m, col, r)
                cells.extend(
                    F.sum(
                        F.when(col.isNotNull() & (b == i), F.lit(1))
                        .otherwise(F.lit(0))
                        .cast("long")
                    )
                    for i in range(m.width)
                )
            aggs.append(F.array(*cells).alias(m.name))
        elif m.kind == "var":
            d = col.cast("double")
            micro = F.floor(d * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
            micro2 = F.floor(d * d * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
            aggs.append(
                F.struct(
                    F.count(col).alias("n"),
                    F.sum(micro).alias("s"),
                    F.sum(micro2).alias("s2"),
                ).alias(m.name)
            )
        else:
            aggs.append(F.max(col).alias(m.name))
    if not aggs:
        # all-dd measure list: the shared groupBy still defines which
        # key groups exist in the batch (incl. all-null/≤0 ones)
        out = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_g")).drop("_g")
    else:
        out = df.groupBy(*keys).agg(*aggs)
    for m, dense in dd_frames:
        out = out.join(dense, list(keys), "left").withColumn(
            m.name,
            F.coalesce(F.col(m.name), F.array_repeat(F.lit(0).cast("long"), m.bins)),
        )
    for m, sparse in q_frames:
        out = out.join(sparse, list(keys), "left").withColumn(
            m.name, F.coalesce(F.col(m.name), F.expr(_Q_EMPTY))
        )
    return out


def merge_partials(
    partials: Sequence[DataFrame], keys: Sequence[str], measures: Sequence[Measure]
) -> DataFrame:
    """Fold any number of partial-agg tables into one — associative
    and commutative, so batch arrival order never matters."""
    fold = {
        "sum": F.sum,
        "count": F.sum,
        "min": F.min,
        "max": F.max,
        "hll": F.hll_union_agg,
    }

    def folded(m: Measure) -> Column:
        if m.kind == "var":
            return F.struct(
                F.sum(F.col(m.name).getField("n")).alias("n"),
                F.sum(F.col(m.name).getField("s")).cast("decimal(38,0)").alias("s"),
                F.sum(F.col(m.name).getField("s2")).cast("decimal(38,0)").alias("s2"),
            ).alias(m.name)
        if m.kind == "q":
            # sparse map union with +, then CANONICALIZE (sort keys,
            # prune zero counts): + is associative/commutative so
            # content never depends on collect_list order, and the
            # canonical form makes the stored BYTES order-independent
            # too — including after retractions (a fold of A+B−A
            # equals a fresh build of B bit-for-bit)
            zl = F.lit(0).cast("long")
            summed = F.aggregate(
                F.collect_list(F.col(m.name)),
                F.expr(_Q_EMPTY),
                lambda acc, x: F.map_zip_with(
                    acc,
                    x,
                    lambda k, a, b: F.coalesce(a, zl) + F.coalesce(b, zl),
                ),
            )
            return F.map_from_entries(
                F.array_sort(
                    F.map_entries(F.map_filter(summed, lambda k, v: v != 0))
                )
            ).alias(m.name)
        if m.kind == "dd":
            # element-wise fold of the collected arrays: + on longs is
            # associative/commutative, so collect_list's arbitrary
            # order can't perturb the result. One expression at any
            # bins (vs a bins-term per-cell sum list, which costs
            # seconds of plan-build py4j at bins=512)
            return F.aggregate(
                F.collect_list(F.col(m.name)),
                F.array_repeat(F.lit(0).cast("long"), _array_cells(m)),
                lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
            ).alias(m.name)
        if m.kind in ("hist", "cms"):
            # element-wise sum of the counter arrays — per-cell sum
            # aggregates reassembled into one array column
            return F.array(
                *[
                    F.sum(F.element_at(F.col(m.name), i + 1))
                    for i in range(_array_cells(m))
                ]
            ).alias(m.name)
        return fold[m.kind](F.col(m.name)).alias(m.name)

    out = partials[0]
    for p in partials[1:]:
        out = out.unionByName(p)
    return out.groupBy(*keys).agg(*[folded(m) for m in measures])


def negate_partial(partial: DataFrame, measures: Sequence[Measure]) -> DataFrame:
    """Retraction: negate sum/count (and hist bin-count) partials so
    merging them removes a previously-applied batch. min/max are not
    retractable (removing the current extremum needs the raw data),
    and an HLL union is a monotone lattice join (registers only
    grow) — fail loudly."""
    bad = [m.name for m in measures if m.kind in ("min", "max", "hll")]
    if bad:
        raise ValueError(f"min/max/hll measures are not retractable: {bad}")

    def neg(m: Measure) -> Column:
        if m.kind == "var":
            c = F.col(m.name)
            return F.struct(
                (-c.getField("n")).alias("n"),
                (-c.getField("s")).cast("decimal(38,0)").alias("s"),
                (-c.getField("s2")).cast("decimal(38,0)").alias("s2"),
            ).alias(m.name)
        if m.kind in ("hist", "cms", "dd"):
            return F.transform(F.col(m.name), lambda v: -v).alias(m.name)
        if m.kind == "q":
            # the retraction algebra KLL/t-digest lack: counts negate
            return F.transform_values(
                F.col(m.name), lambda k, v: -v
            ).alias(m.name)
        return (-F.col(m.name)).alias(m.name)

    return partial.select(
        *[c for c in partial.columns if c not in {m.name for m in measures}],
        *[neg(m) for m in measures],
    )


def derived_avg(sum_col: str, count_col: str, scale: int = 6) -> Column:
    """Exact read-time average off stored partials."""
    return F.round(F.col(sum_col) / F.col(count_col), scale)


def derived_quantile(m: Measure, q: float) -> Column:
    """Read-time quantile estimate off a stored hist partial: walk
    the cumulative bin counts to the bin containing the q-th value
    and return that bin's midpoint — error ≤ half the bin width,
    deterministic, merge-order independent. The running cumsum is a
    per-bin slice-fold (O(bins²) adds on ``bins`` longs — register
    math, not data math)."""
    col = F.col(m.name)
    total = F.aggregate(col, F.lit(0).cast("long"), lambda a, x: a + x)
    target = F.ceil(F.lit(q) * total.cast("double")).cast("long")
    cums = F.transform(
        F.sequence(F.lit(1), F.lit(m.bins)),
        lambda i: F.aggregate(
            F.slice(col, 1, i), F.lit(0).cast("long"), lambda a, x: a + x
        ),
    )
    idx = F.size(F.filter(cums, lambda c: c < target))  # 0-based bin
    width = (m.hi - m.lo) / m.bins
    return F.when(total > 0, F.lit(m.lo) + (idx + 0.5) * F.lit(width)).otherwise(
        F.lit(None).cast("double")
    )


def dd_alpha(m: Measure) -> float:
    """The dd sketch's relative-error guarantee on [lo, hi):
    α = (γ−1)/(γ+1)."""
    g = _dd_gamma(m)
    return (g - 1.0) / (g + 1.0)


def derived_dd_quantile(m: Measure, q: float) -> Column:
    """Read-time quantile estimate off a stored dd partial: walk the
    cumulative bucket counts to the bucket holding the q-th value and
    return 2γ/(γ+1)·lo·γᵇ — the point minimizing worst-case RELATIVE
    error over that bucket's span [lo·γᵇ, lo·γᵇ⁺¹), giving
    |est − true|/true ≤ :func:`dd_alpha` for every quantile whose
    true value lies in [lo, hi). Same cumsum slice-fold as
    :func:`derived_quantile` — register math on ``bins`` longs, no
    scan; deterministic and merge-order independent because the
    buckets themselves are — and the walk is ONE O(bins) fold, not
    derived_quantile's O(bins²) slice cumsum (register math either
    way at 32 hist bins; real money at 512)."""
    col = F.col(m.name)
    total = F.aggregate(col, F.lit(0).cast("long"), lambda a, x: a + x)
    target = F.ceil(F.lit(q) * total.cast("double")).cast("long")
    # single fold carrying (running cum, first idx with cum ≥ target,
    # position); idx = -1 until found
    zero = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit(-1).alias("idx"),
        F.lit(0).alias("pos"),
    )
    found = F.aggregate(
        col,
        zero,
        lambda acc, x: F.struct(
            (acc.getField("cum") + x).alias("cum"),
            F.when(
                (acc.getField("idx") >= 0) | (acc.getField("cum") + x < target),
                acc.getField("idx"),
            )
            .otherwise(acc.getField("pos"))
            .alias("idx"),
            (acc.getField("pos") + 1).alias("pos"),
        ),
    ).getField("idx")
    idx = F.when(found >= 0, found).otherwise(F.lit(m.bins - 1))
    g = _dd_gamma(m)
    est = F.lit(2.0 * g / (g + 1.0) * m.lo) * F.pow(F.lit(g), idx.cast("double"))
    return F.when(total > 0, est).otherwise(F.lit(None).cast("double"))


def q_alpha(m: Measure) -> float:
    """The q sketch's relative-error guarantee for |v| ≥ min_mag:
    with γ = (1+α)/(1−α) the bucket-midpoint rule gives exactly α."""
    return m.alpha


def derived_q_quantile(m: Measure, q: float) -> Column:
    """Read-time quantile estimate off a stored q partial: sort the
    sparse map's entries (ascending key = ascending value by the
    sign-mirrored index), walk the cumulative counts to the bucket
    holding the q-th value, and return the bucket's relative-error
    midpoint — min_mag·γ^(k−1)·2γ/(γ+1) for key k>0, 0 for the zero
    bucket, mirrored for k<0. |est − true| ≤ α·|true| wherever
    |true| ≥ min_mag (≤ min_mag absolute below). One O(occupied)
    fold on register data — no scan, deterministic, merge-order
    independent because the canonicalized buckets are."""
    entries = F.array_sort(F.map_entries(F.col(m.name)))
    zl = F.lit(0).cast("long")
    total = F.aggregate(entries, zl, lambda a, e: a + e.getField("value"))
    target = F.ceil(F.lit(q) * total.cast("double")).cast("long")
    zero = F.struct(
        zl.alias("cum"), F.lit(None).cast("int").alias("k")
    )
    found = F.aggregate(
        entries,
        zero,
        lambda acc, e: F.struct(
            (acc.getField("cum") + e.getField("value")).alias("cum"),
            F.when(acc.getField("k").isNotNull(), acc.getField("k"))
            .when(
                acc.getField("cum") + e.getField("value") >= target,
                e.getField("key"),
            )
            .otherwise(F.lit(None).cast("int"))
            .alias("k"),
        ),
    ).getField("k")
    g = _q_gamma(m)
    mid = 2.0 * g / (g + 1.0) * m.min_mag
    kd = found.cast("double")
    est = (
        F.when(found == 0, F.lit(0.0))
        .when(found > 0, F.lit(mid) * F.pow(F.lit(g), kd - 1))
        .otherwise(-F.lit(mid) * F.pow(F.lit(g), -kd - 1))
    )
    return F.when(total > 0, est).otherwise(F.lit(None).cast("double"))


def derived_cms_count(m: Measure, item: Column) -> Column:
    """Read-time point-frequency estimate off a stored cms partial:
    MIN across the ``depth`` hash rows of the item's counter — the
    count-min guarantee (estimate ≥ true count, always; overcount
    bounded by collisions). ``depth`` element_at lookups on the
    stored array — register math, no scan, and exactly replayable
    in the SQL oracle since the buckets are md5-derived."""
    cells = [
        F.element_at(F.col(m.name), F.lit(r * m.width) + _cms_bucket(m, item, r) + 1)
        for r in range(m.depth)
    ]
    return cells[0] if len(cells) == 1 else F.least(*cells)


def _var_raw(name: str, ddof: int) -> Column:
    """Raw read-time variance off a stored var partial. The stored
    integer micro-unit sums are exact, so the double arithmetic here
    runs on merge-order-independent inputs; the expression tree is
    written to match the oracle's token-for-token (same association
    → bit-identical IEEE result in both engines)."""
    c = F.col(name)
    nd = c.getField("n").cast("double")
    sd = c.getField("s").cast("double") / F.lit(1e6)
    s2d = c.getField("s2").cast("double") / F.lit(1e6)
    return (s2d - (sd * sd) / nd) / (nd - F.lit(float(ddof)))


def derived_variance(name: str, ddof: int = 0, scale: int = 6) -> Column:
    """Read-time variance estimate off a stored var partial, rounded
    with the engine-parity ``floor(x·10^k + 0.5)`` convention. Error
    vs the unquantized variance is bounded by the 1e-6 per-row
    quantum; deterministic and merge-order independent."""
    return F.floor(_var_raw(name, ddof) * F.lit(float(10**scale)) + F.lit(0.5)) / F.lit(
        float(10**scale)
    )


def derived_stddev(name: str, ddof: int = 0, scale: int = 6) -> Column:
    """Read-time stddev off a stored var partial — sqrt of the RAW
    (unrounded) variance, then parity-rounded."""
    return F.floor(
        F.sqrt(_var_raw(name, ddof)) * F.lit(float(10**scale)) + F.lit(0.5)
    ) / F.lit(float(10**scale))


def derived_distinct(hll_col: str) -> Column:
    """Read-time distinct-count estimate off a stored HLL partial.
    Deterministic for a given item set (register state is a pure
    function of the inputs, union order irrelevant); accuracy set by
    lgConfigK at :func:`partial_agg` (±~0.8% rsd at 14)."""
    return F.hll_sketch_estimate(F.col(hll_col))


_VERSION_RE = re.compile(r"^v(\d{6})_b(.+)$")


def _version_match(d: str) -> re.Match | None:
    return _VERSION_RE.match(d.rstrip("/").rsplit("/", 1)[-1])


class MaterializedAgg:
    """A persisted incrementally-maintained aggregate table.

    Replay detection reads applied batch ids from surviving version
    dirnames, so its horizon equals the pruning window (``keep=2``
    versions): a batch redelivered *after* its version was pruned
    would be re-applied. Size ``keep`` to the feed's redelivery
    horizon (a queue's max redelivery window is typically minutes;
    two refresh cycles is already generous — raise it if not).

    One commit protocol on every adapter, POSIX included: a version
    dir counts once its ``_COMMITTED`` marker exists, and every
    listing, marker PUT and GC goes through the ``sources/lakefs``
    seam, so a bare path and its ``file:/…`` spelling are one view.
    A refresh that dies before its marker leaves an invisible
    version dir, which a later refresh's prune deletes.

    Refreshes serialize on the table's ``sinks/txlog.WriterLease``
    with a fencing check before the commit point (the
    ``_COMMITTED`` marker PUT), so two concurrent refreshers cannot
    both read the same ``_versions()`` and commit two same-numbered
    versions whose folds silently shadow each other — the same
    multi-writer discipline as ``upsert_keyed_serialized`` and the
    join-view sink. A fenced refresher raises :class:`CommitFenced`
    with nothing committed; the caller's replay converges. Reference
    semantic: the at-least-once upsert discipline of
    ``supabase_repository.py:45-53`` (T6). The lease is exact on
    any ``atomic_cas=True`` adapter (POSIX ``O_EXCL``; the
    conditional-PUT ``sources/lakefs_http.HttpCasLakeFS``); only on
    a CAS-less adapter (``ArrowLakeFS``) is it best-effort — see
    ``sources/lakefs.LakeFS.put_if_absent``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        measures: Sequence[Measure],
        fs: LakeFS | None = None,
        lease_ttl_s: float = 120.0,
        lease_timeout_s: float = 60.0,
    ) -> None:
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.measures = list(measures)
        self.fs = fs
        self.lease_ttl_s = float(lease_ttl_s)
        self.lease_timeout_s = float(lease_timeout_s)
        get_fs(path, fs).mkdirs(path)

    # -- version bookkeeping ------------------------------------------------
    def _versions(self) -> list[tuple[int, str, str]]:
        """Committed versions: a version dir is committed once its
        single-PUT ``_COMMITTED`` marker exists. An unmarked dir is
        an invisible orphan from a crashed or fenced refresh — the
        batch replays into the same dirname and converges, and
        ``_prune`` GCs the orphan once a later version commits."""
        f = get_fs(self.path, self.fs)
        out = []
        for d in f.ls_dirs(self.path):
            m = _version_match(d)
            if m and f.exists(_pjoin(d, "_COMMITTED")):
                out.append((int(m.group(1)), m.group(2), d))
        return sorted(out)

    def applied_batches(self) -> set[str]:
        return {b for _, b, _ in self._versions()}

    def _current(self) -> str | None:
        vs = self._versions()
        return vs[-1][2] if vs else None

    # -- refresh ------------------------------------------------------------
    def refresh(self, batch: DataFrame, batch_id: str, retract: bool = False) -> bool:
        """Fold one batch into the view. Returns False (no-op) when
        ``batch_id`` was already applied — replay-idempotent because
        the marker PUT below commits data + batch id atomically.
        Lease-serialized and fenced (class docstring): raises
        :class:`CommitFenced`, committing nothing, when the lease is
        lost mid-fold."""
        if batch_id in self.applied_batches():
            return False  # cheap uncontended pre-check
        lease = WriterLease(self.path, ttl_s=self.lease_ttl_s, fs=self.fs)
        lease.acquire(timeout_s=self.lease_timeout_s)
        try:
            if batch_id in self.applied_batches():  # re-check serialized
                return False
            p = partial_agg(batch, self.keys, self.measures)
            if retract:
                p = negate_partial(p, self.measures)
            cur = self._current()
            if cur is not None:
                base = self.spark.read.parquet(cur)
                p = merge_partials([base, p], self.keys, self.measures)
            vs = self._versions()
            next_n = vs[-1][0] + 1 if vs else 0
            f = get_fs(self.path, self.fs)
            final = _pjoin(self.path, f"v{next_n:06d}_b{batch_id}")
            p.write.mode("overwrite").parquet(final)
            if not lease.is_current():
                # the fold above runs Spark jobs, easily longer than a
                # lease TTL: a stolen lease means our base snapshot may
                # already be shadowed — committing would fork history.
                # Replay computes a NEW version number under the
                # thief's history, so this dirname is never reused:
                # delete it rather than leak a full snapshot per
                # fencing (_prune's orphan GC backstops a crash inside
                # this very cleanup)
                f.delete_dir(final)
                raise CommitFenced(
                    f"lease on {self.path} lost mid-refresh of batch "
                    f"{batch_id}; nothing committed, replay converges"
                )
            # the single-PUT marker IS the data+batch_id commit
            f.write_bytes(_pjoin(final, "_COMMITTED"), b"")
            self._prune(keep=2)
            return True
        finally:
            lease.release()

    def _prune(self, keep: int) -> None:
        f = get_fs(self.path, self.fs)
        vs = self._versions()
        for _, _, d in vs[:-keep]:
            f.delete_dir(d)
        if not vs:
            return
        # orphan GC: unmarked dirs (fenced/crashed refreshers that
        # died before their marker or their cleanup) whose version
        # number is BELOW the latest committed one can never be
        # completed — a live refresher under the lease always writes
        # at >= latest+1 — so they are dead snapshots, safe to delete.
        # An unmarked dir AT/ABOVE the latest version may be a
        # refresher mid-commit and is left alone.
        for d in f.ls_dirs(self.path):
            m = _version_match(d)
            if (
                m
                and int(m.group(1)) < vs[-1][0]
                and not f.exists(_pjoin(d, "_COMMITTED"))
            ):
                f.delete_dir(d)

    # -- read ---------------------------------------------------------------
    def read_partials(self, version: int | None = None) -> DataFrame:
        """Current snapshot, or time-travel to an un-pruned earlier
        ``version`` number (each refresh is a full snapshot, so any
        surviving version is directly readable — the same property a
        table format's commit log generalizes)."""
        if version is None:
            cur = self._current()
            if cur is None:
                raise FileNotFoundError(f"matview {self.path} has no versions")
            return self.spark.read.parquet(cur)
        for n, _, d in self._versions():
            if n == version:
                return self.spark.read.parquet(d)
        avail = [n for n, _, _ in self._versions()]
        raise FileNotFoundError(
            f"matview {self.path} has no version {version} (surviving: {avail})"
        )
