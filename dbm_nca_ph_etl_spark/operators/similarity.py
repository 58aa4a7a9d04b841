"""Similarity search over embedding columns (north-star extension).

Every ANN top-k operator is the same three steps — its own candidate
generator, its score expression, one shared tail:

- **Vector side** (:func:`_side`): the id and vector columns read
  through ``quote_ident`` plus the norm hoisted once per row; the
  one place that quotes and norms. Roles ``q``/``c`` name the probe
  sides ``(query_id, _qv, _qn)`` / ``(neighbor_id, _cv, _cn)``.
- **Candidate generator**, per operator:

  - every corpus row — :func:`cosine_topk` (the exact baseline),
    :func:`int8_topk` (int8 codes), :func:`pq_topk` (PQ codes);
  - the probed IVF cells, a hash join on the cell key —
    :func:`ivf_topk`, :func:`ivfpq_topk`;
  - a shared LSH bucket in any table (:func:`_lsh_candidates`) —
    :func:`lsh_bucket_topk`, :func:`lsh_near_dup_pairs`;
  - the top ``n_cand`` in a projected space
    (:func:`_projected_topk`) — :func:`rp_topk` (seeded planes),
    :func:`pca_topk` (trained basis).

  :func:`_probe` runs the broadcast ones: broadcast the queries, join
  on the cell key or cross join, drop self matches
  (:func:`_drop_self`), select the score as one parsed expression.
- **Score**: exact cosine (:func:`_paired_cosine_sql`), the integer
  int8 cosine, or the PQ asymmetric-distance cosine, each rounded
  to 6 dp.
- **Tail** (:func:`_topk`): one ``row_number`` per query, score
  descending, then lowest ``neighbor_id`` — every operator breaks
  ties the same total-order way.

All distance math is double-precision, left-to-right ``aggregate``
folds, so the DuckDB oracle (list_dot_product) reproduces values
bit-for-bit; outputs round to 6 dp before ranking anyway.

Performance conventions (measured, not guessed — each of these was a
multi-second pathology at sf0.1):

- **Hoist norms out of pair expressions.** ``zip_with``/``aggregate``
  are CodegenFallback: every occurrence is an interpreted per-row
  lambda walk. ``cos = dot(a,b)/(|a|·|b|)`` evaluated per *pair* costs
  three folds; computing ``|v|`` once per *row* and carrying it
  through the join leaves one fold per pair — bit-identical output
  (same doubles, same division) at a third of the interpreted work.
- **Expressions as parsed SQL text.** Building a fold through the
  Column API is one py4j round trip per node; the same tree parsed
  from text (:func:`_dot_sql`, :func:`_l2_sql`) is one call with
  bit-identical values.
- **Array literals in one py4j call.** ``F.array(*map(F.lit, vals))``
  is one Python↔JVM round-trip per element — ~4,600 round-trips
  (2-3 s of driver time) for a 6-table × 6-plane × 64-dim LSH plan.
  ``from_json`` of one string literal builds the same constant
  (:func:`_array_lit_sql`).
- **No distinct over candidate pairs.** Multi-table LSH dedups pairs
  by keeping a pair only in its *first* colliding table
  (:func:`_lsh_candidates`) — a scalar predicate on the bucket-join
  output, replacing a dropDuplicates shuffle that hauled both 64-dim
  vectors per candidate row.
- **posexplode_outer, not posexplode.** Non-outer generate plants a
  ``size(sigs) > 0`` pre-filter that re-evaluates the full 36-fold
  signature array per row and gets pushed into the parquet scan as a
  row-level DataFilter; the signature array is never empty, so the
  outer variant is semantically identical and skips both.
- **Unrolled element_at dot products are a trap.** Expanding the
  64-term sum into flat arithmetic looks codegen-friendly but builds
  128-deep Add trees that blow past codegen method limits and fall
  back to per-node interpreted eval — measured 5-10× *slower* than
  the fold, before counting the plan-size cost. Don't.
"""

from __future__ import annotations

import json
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.functions.scalars import let, quote_ident
from dbm_nca_ph_etl_spark.session import session_memo


def _dot_sql(a: str, b: str) -> str:
    """SQL text of Σ a[i]*b[i] over two column names/fragments, in
    double precision: a sequential left-to-right fold matching
    DuckDB's list fold bit-for-bit. ONE expr parse instead of ~15
    py4j round trips for the same tree built through the Column API
    (r12 — the _scored_cells driver-tax treatment applied to the
    paired-cosine trees the ANN family builds per construction)."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _l2_sql(a: str) -> str:
    """SQL text of the L2 norm — the same fold, same casts."""
    return (
        f"SQRT(aggregate({a}, 0.0D, "
        "(acc, x) -> acc + (CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )


def _paired_cosine_sql(va: str, vb: str, na: str, nb: str) -> str:
    """cos(a,b) from vectors + hoisted norms: one fold per pair,
    rounded to 6 dp."""
    return f"round({_dot_sql(va, vb)} / ({na} * {nb}), 6)"


#: the exact cosine of a probe row (see :func:`_side` for the names)
_COS = _paired_cosine_sql("_qv", "_cv", "_qn", "_cn")

#: the id column each :func:`_side` role carries
_ID = {"q": "query_id", "c": "neighbor_id", "": "id"}


def _side(df: DataFrame, id_col: str, vec_col: str, r: str, *extra) -> DataFrame:
    """``(id, _v, _n)`` of one vector side, named for role ``r``:
    ``q`` → (query_id, _qv, _qn), ``c`` → (neighbor_id, _cv, _cn),
    ``""`` → (id, _v, _n). ``extra`` Columns ride in the same
    projection. The id and vector are read through ``quote_ident``
    (a column literally named ``doc.id`` is that column, not a struct
    field) and the norm is computed once per row."""
    idq, vq = quote_ident(id_col), quote_ident(vec_col)
    cols = [f"{idq} AS {_ID[r]}", f"{vq} AS _{r}v", f"{_l2_sql(vq)} AS _{r}n"]
    return df.select(*map(F.expr, cols), *extra)


def _drop_self(cand: DataFrame, pair_rule: bool = False) -> DataFrame:
    """Drop self matches from (query_id, neighbor_id) candidate rows;
    ``pair_rule`` keeps each unordered pair once (lower id first)."""
    return cand.where(f"query_id {'<' if pair_rule else '!='} neighbor_id")


def _topk(df: DataFrame, k: int, by: str = "cos_sim") -> DataFrame:
    """The shared tail: ``rank`` = row_number per query, ``by``
    descending then lowest ``neighbor_id`` (total order, so results
    are partition-invariant); rows ranked past ``k`` are dropped."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(by).desc(), F.col("neighbor_id").asc()
    )
    return df.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _probe(
    q: DataFrame, c: DataFrame, on: str | None, score_sql: str, k: int, *keep: str
) -> DataFrame:
    """Broadcast query side ``q`` against corpus side ``c`` — a hash
    join on column ``on``, or a cross join when it is None — drop
    self matches, score each pair as ``cos_sim`` (one parsed
    expression; ``keep`` columns ride along) and keep the top ``k``."""
    q = F.broadcast(q)
    cand = q.crossJoin(c) if on is None else q.join(c, on)
    scored = _drop_self(cand).selectExpr(
        "query_id", "neighbor_id", f"{score_sql} AS cos_sim", *keep
    )
    return _topk(scored, k)


#: Fail-fast ceilings for the two labeled exact baselines. These are
#: not performance tuning knobs: above them the operators' O(n²) /
#: brute-force shapes stop being a baseline and start being an
#: outage, and the LSH/IVF scale paths exist precisely so nobody
#: runs these at corpus size.
EXACT_PAIRS_MAX_ROWS = 20_000  # 20k → ≤2e8 pair comparisons
EXACT_TOPK_MAX_QUERIES = 1_000  # broadcast set × full corpus scan


def scale_guard(df: DataFrame, max_rows: int, op_name: str) -> DataFrame:
    """Refuse to build an exact-baseline plan over more than
    ``max_rows`` input rows. Runs a bounded count at call time
    (``limit(max+1).count()`` — stops scanning as soon as the bound
    is exceeded, prunes to zero columns); pass ``max_rows=None``
    from call sites that must opt out knowingly. A check that PASSED
    is memoized for the session, keyed on the plan and its input
    files, so grown or rewritten input is counted again."""
    if max_rows is None:
        return df

    def count_within_bound() -> bool:
        n = df.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"{op_name} is a labeled exact baseline (quadratic/brute "
                f"force by design) and refuses >{max_rows} input rows "
                f"(got at least {n}); use its LSH/IVF scale-path sibling, "
                f"or pass max_rows=None to override knowingly"
            )
        return True

    plan = df._jdf.queryExecution().analyzed().semanticHash()
    key = ("scale_guard", op_name, max_rows, plan)
    session_memo(df.sparkSession, key, df.inputFiles(), count_within_bound)
    return df


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = EXACT_TOPK_MAX_QUERIES,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cos_sim, rank) — self-matches
    excluded, similarity rounded to 6 dp, ties broken by neighbor id
    so results are total-order deterministic.

    EXACT BASELINE: every query scans the whole corpus (broadcast
    q × c). The corpus side is linear and distributed, but the cost
    multiplies by |queries| — guarded at ``max_queries`` (the
    LSH/IVF operators are the scale path; this is their labeled
    recall oracle). The guard runs a bounded count at call time.
    """
    queries = scale_guard(queries, max_queries, "cosine_topk")
    q = _side(queries, id_col, vec_col, "q")
    return _probe(q, _side(corpus, id_col, vec_col, "c"), None, _COS, k)


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from a seeded
    integer hash — reproducible across engines and runs (no RNG)."""
    # simple LCG on (seed, i); values in [-1, 1)
    vals = []
    state = (seed * 1103515245 + 12345) & 0x7FFFFFFF
    for _ in range(dim):
        state = (state * 1103515245 + 12345) & 0x7FFFFFFF
        vals.append((state / 0x40000000) - 1.0)
    return vals


def _array_lit_sql(vals: list[float]) -> str:
    """Constant ``array<double>`` as SQL text, via
    ``from_json('[...]', 'array<double>')``.

    Why not ``array(0.1D, ...)``: that form is one expression node
    PER ELEMENT at parse/analysis time — a 64-dim centroid is 65
    nodes, and the ANN paths build dozens of them per plan, so every
    DataFrame op re-walking the tree paid ~140 ms of JVM analysis
    (measured r12 on ann_ivfpq's selects). ``from_json`` of a string
    literal is ONE node through parse and analysis, and Catalyst's
    ConstantFolding evaluates it to the exact same ``Literal`` before
    execution — the optimized/physical plan is byte-identical to the
    unrolled form (verified: same fold result bit-for-bit; analysis
    ~2.4× cheaper). ``json.dumps`` emits shortest-round-trip floats
    (same text as ``repr``) and Jackson's correctly-rounded double
    parse restores the identical IEEE value."""
    return _json_lit_sql(vals, "array<double>")


def _json_lit_sql(obj: list, sql_type: str) -> str:
    """``from_json('<json>', '<sql_type>')`` SQL text for an
    arbitrarily nested constant list-of-doubles (see
    :func:`_array_lit_sql` for why). No quoting hazard: the JSON of
    a numeric nest contains no quotes or backslashes. NaN and ±Inf
    raise ``ValueError``: ``from_json`` is PERMISSIVE, so a value its
    parser rejected would fold to a silent NULL instead of failing."""
    try:
        text = json.dumps(obj, allow_nan=False)
    except ValueError:
        raise ValueError(f"{sql_type} literal has a NaN or infinite element") from None
    return f"from_json('{text}', '{sql_type}')"


def _signed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_tables: int,
    num_planes: int,
    dim: int,
    seed: int,
) -> DataFrame:
    """(id, _v, _n, _b0.._bN) — every table's bucket key as a plain
    bigint column plus the hoisted norm: the LSH "index build once"
    table that every downstream join branch shares.

    Shapes, all measured at sf0.1:

    - **Sign bits via one Arrow-batched pandas UDF** (numpy matmul
      ``V @ P.T`` then bit-packing). The fold-based alternative —
      36 `aggregate` folds per row — is CodegenFallback: ~2,300
      interpreted lambda steps/row dominated the whole query (>1 s
      for 2,000 rows). Dense vector×matrix is the one place Python
      wins: BLAS does the batch in microseconds and Arrow moves it
      once per batch. Bucket keys are *partitioning* metadata (the
      output is re-ranked by exact JVM-fold cosine), so the matmul's
      different summation order — which can flip a sign only when a
      dot product sits within a ULP of 0 — affects recall, never
      correctness; the norm ``_n`` stays a JVM fold so downstream
      cosines bit-match the exact operators.
    - **``localCheckpoint``** so the signature projection
      materializes once and all ``num_tables`` join branches (both
      sides) read it back. An exchange barrier is NOT enough: column
      pruning gives each branch a different projection (branch t
      reads ``_b0.._bt``), so the exchanges stop being equal and
      ReuseExchange never fires — the signatures re-compute per
      branch per side. At 100 TB this persist is a written signature
      table."""
    planes = [
        _hyperplane(dim, seed + t * 1000 + i)
        for t in range(num_tables)
        for i in range(num_planes)
    ]
    pmat = np.asarray(planes, dtype=np.float64).T  # dim × (tables·planes)
    packer = np.asarray([1 << i for i in range(num_planes)], dtype=np.int64)

    @F.pandas_udf("array<long>")
    def bucket_keys(vecs: pd.Series) -> pd.Series:
        v = np.stack(vecs.to_numpy()).astype(np.float64)  # batch × dim
        bits = (v @ pmat) >= 0.0  # batch × (tables·planes)
        keys = bits.reshape(len(v), -1, num_planes) @ packer  # batch × tables
        return pd.Series(list(keys.astype(np.int64)))

    signed = _side(df, id_col, vec_col, "").withColumn("_keys", bucket_keys("_v"))
    keys = [
        F.element_at("_keys", t + 1).alias(f"_b{t}") for t in range(num_tables)
    ]
    return signed.select("id", "_v", "_n", *keys).localCheckpoint(eager=True)


def _lsh_candidates(a: DataFrame, b: DataFrame, num_tables: int) -> DataFrame:
    """Probe rows (query_id, neighbor_id, _qv, _cv, _qn, _cn) of every
    pair of :func:`_signed` rows from ``a`` and ``b`` that share a
    bucket in some table. Branch ``t`` joins on table t's key and
    requires disagreement on every earlier table, so each pair
    survives in exactly one branch: static column predicates, no HOF
    evaluation and no distinct shuffle over vector-carrying rows.
    One parsed join condition per branch (the Column-API form was ~60
    py4j round trips across the branch set)."""
    a, b = a.alias("a"), b.alias("b")

    def branch(t: int) -> DataFrame:
        cond = [f"a._b{t} = b._b{t}"] + [f"a._b{s} != b._b{s}" for s in range(t)]
        return a.join(b, F.expr(" AND ".join(cond))).selectExpr(
            "a.id AS query_id", "b.id AS neighbor_id",
            "a._v AS _qv", "b._v AS _cv", "a._n AS _qn", "b._n AS _cn",
        )

    return reduce(DataFrame.unionByName, map(branch, range(num_tables)))


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: ``num_tables`` independent hyperplane
    signatures; candidates share a bucket in ≥1 table; exact cosine
    re-rank on the deduped candidate set. P[catch a neighbor at angle
    θ] = 1-(1-(1-θ/π)^planes)^tables — more tables raises recall,
    more planes shrinks buckets.

    At 100 TB the signed corpus is a persisted signature table
    (see :func:`_signed`) hash-joined per bucket key; each query
    probes one bucket per table. Recall < 1.0 by design — exact
    :func:`cosine_topk` is the baseline.
    """
    q, c = (
        _signed(df, id_col, vec_col, num_tables, num_planes, dim, seed)
        for df in (queries, corpus)
    )
    cand = _drop_self(_lsh_candidates(F.broadcast(q), c, num_tables))
    return _topk(cand.selectExpr("query_id", "neighbor_id", f"{_COS} AS cos_sim"), k)


def rp_project(
    df: DataFrame,
    r: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 77,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: (id, _v, _n, _p)
    where ``_p`` is the vector's image under a deterministic dim×r
    matrix (same LCG planes as LSH — no RNG, identical on any
    cluster size or run): :func:`mat_project` over the seeded
    planes, so values are partition-invariant the same way."""
    planes = [_hyperplane(dim, seed + 31 * j) for j in range(r)]
    return mat_project(df, planes, None, id_col, vec_col)


def rp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    r: int = 32,
    n_cand: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 77,
) -> DataFrame:
    """Approximate top-k via JL random-projection compression: score
    candidates in the r-dim projected space (r/dim of the scan
    bytes/FLOPs — the index-compression leg next to int8 and PQ),
    keep ``n_cand`` per query, then exact full-dim cosine re-rank of
    that bounded set. Recall < 1.0 by design; :func:`cosine_topk` is
    the labeled baseline and ann_rp_topk carries the recall bound.

    At 100 TB the projected corpus is the persisted index (2× fewer
    bytes at r=32, d=64; the ratio improves with real dims — 768→64
    is 12×): the linear scan reads ONLY ``_p`` columns and the
    full-dim vectors are fetched for n_cand rows per query.
    Candidate ordering tie-breaks on neighbor id — deterministic
    regardless of partitioning. The synthetic test embeddings are
    near-isotropic (tiny cosine gaps — the JL worst case); clustered
    real corpora hold recall at much smaller r/dim.
    """
    if n_cand < k:
        raise ValueError(f"n_cand ({n_cand}) must be >= k ({k})")
    q = rp_project(queries, r, id_col, vec_col, dim, seed)
    c = rp_project(corpus, r, id_col, vec_col, dim, seed)
    return _projected_topk(q, c, k, n_cand)


def _projected_topk(q: DataFrame, c: DataFrame, k: int, n_cand: int) -> DataFrame:
    """The shared compressed-candidates probe behind rp_topk and
    pca_topk: score in the projected space (``_p``), keep ``n_cand``
    per query, exact full-dim cosine re-rank of that bounded set.
    Inputs are (id, _v, _n, _p) frames from :func:`mat_project`;
    both stages rank through :func:`_topk` — partition-invariant."""

    def side(df: DataFrame, r: str) -> DataFrame:
        return df.selectExpr(
            f"id AS {_ID[r]}", f"_v AS _{r}v", f"_n AS _{r}n", f"_p AS _{r}p"
        )

    proj_sim = f"{_dot_sql('_qp', '_cp')} / ({_l2_sql('_qp')} * {_l2_sql('_cp')})"
    cut = _probe(
        side(q, "q"), side(c, "c"), None, proj_sim, n_cand, "_qv", "_cv", "_qn", "_cn"
    )
    return _topk(cut.selectExpr("query_id", "neighbor_id", f"{_COS} AS cos_sim"), k)


def _near_dup_rows(cand: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, cos_sim) of probe rows scoring ≥ ``threshold``."""
    return cand.selectExpr(
        "query_id AS id_a", "neighbor_id AS id_b", f"{_COS} AS cos_sim"
    ).where(F.col("cos_sim") >= threshold)


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = EXACT_PAIRS_MAX_ROWS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, EXACT: all (i<j) pairs
    with cosine ≥ threshold. O(n²) — the correctness baseline; use
    :func:`lsh_near_dup_pairs` as the 100 TB path. Fails fast above
    ``max_rows`` input rows (bounded count at call time) so the
    labeled baseline can't be pointed at a corpus by accident."""
    corpus = scale_guard(corpus, max_rows, "cosine_near_dup_pairs")
    a, b = (_side(corpus, id_col, vec_col, r) for r in ("q", "c"))
    return _near_dup_rows(_drop_self(a.crossJoin(b), pair_rule=True), threshold)


def lsh_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 6,
    num_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    signed: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs, LSH-accelerated: ``num_tables`` independent
    hyperplane signatures bucket the corpus; candidate pairs share a
    bucket in ≥1 table; exact cosine then filters false positives —
    so precision is 1.0 and only recall is approximate (more tables /
    fewer planes per table → higher recall, bigger buckets).

    Scale shape: ONE projection computes every table's bucket key +
    the vector norm behind a reused exchange (the "index build");
    per-table self-join branches match on that table's key with
    static disagree-on-earlier-tables predicates, so each candidate
    pair materializes in exactly one branch — never the O(n²) cross
    join, never a distinct over vector-carrying rows. Candidate
    verification is the probe operator's sketch-then-verify split:
    an Arrow-batched numpy paired-dot pre-filter at ``threshold −
    1e-6`` (a guaranteed superset — the margin covers round6's
    0.5e-6 plus matmul summation-order drift ~1e-15; per-row numpy
    sums are batch-independent, so the sketch is deterministic)
    prunes the ~|buckets|² candidate set down to near-final size,
    and ONLY the survivors pay the exact JVM-fold cosine that the
    returned ``cos_sim`` and the ``>= threshold`` decision come from
    — bit-identical to the all-fold plan (equality verified at
    sf0.1: 318/318 pairs; measured 1.65 → 1.38 s with the candidate
    fold cut from 198k pairs to ~400). At 100 TB add banding on
    vector chunks and AQE skew splitting for hot buckets; the
    operator contract is unchanged."""
    s = (
        signed
        if signed is not None
        else _signed(corpus, id_col, vec_col, num_tables, num_planes, dim, seed)
    )
    cand = _drop_self(_lsh_candidates(s, s, num_tables), pair_rule=True)

    @F.pandas_udf("double")
    def _pair_dot(va: pd.Series, vb: pd.Series) -> pd.Series:
        a = np.stack(va.to_numpy()).astype(np.float64)
        b = np.stack(vb.to_numpy()).astype(np.float64)
        return pd.Series((a * b).sum(axis=1))

    cut = float(threshold) - 1e-6
    sketched = cand.where(
        _pair_dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")) >= cut
    )
    return _near_dup_rows(sketched, threshold)


# -----------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse quantize, probe nearest cells
# -----------------------------------------------------------------------


def _centroids(n: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic random codebook (LCG, no RNG state). A trained
    k-means codebook drops in without changing the plan; a random one
    keeps the whole operator reproducible for the oracle/tests."""
    return [_hyperplane(dim, seed + 7777 + i) for i in range(n)]


def _scored_cells(vec: str, cents: list[list[float]]) -> Column:
    """Array of (−score, cell_idx) structs, one per centroid, over the
    vector COLUMN NAME ``vec``.

    argmax of cos(v, c) == argmax of dot(v, c)/|c| (|v| is constant
    per row); |c| are Python-side literals. Shape matters three times
    here: an iterative when-chain duplicates fold subtrees
    exponentially (OOM at plan build); nesting the folds inside an
    outer ``transform`` lambda forces slow interpreted evaluation
    (~45x) — a flat array of independent per-centroid folds is linear
    in plan size AND stays on the fast eval path; and building those
    16-64 folds through the Column API is hundreds of py4j round
    trips (~0.5 s of driver time per query CONSTRUCTION, measured
    r11 on ann_ivfpq), so the whole array is emitted as ONE parsed
    SQL expression — operator-for-operator the tree the Column form
    built (same casts, same sequential fold, same double literals via
    repr round-trip), so every emitted value is bit-identical.
    """
    cells = []
    for i, c in enumerate(cents):
        norm = float(sum(x * x for x in c) ** 0.5)
        d = _dot_sql(quote_ident(vec), _array_lit_sql(c))
        cells.append(f"struct(-({d} / {float(norm)!r}D) AS neg, {i} AS i)")
    return F.expr("array(" + ", ".join(cells) + ")")


def probe_clusters(vec: str, cents: list[list[float]], n_probe: int) -> Column:
    """Array of the n_probe nearest centroid indices (score desc,
    index asc tiebreak) — the cells a query fans out to. ``vec`` is
    the vector column's NAME (the scored-cells SQL fast path)."""
    return F.slice(F.array_sort(_scored_cells(vec, cents)), 1, n_probe).getField("i")


def assign_cluster(vec: str, cents: list[list[float]]) -> Column:
    """Index of the nearest (max cosine) centroid; first wins ties.
    ``vec`` is the vector column's NAME."""
    return F.element_at(probe_clusters(vec, cents, 1), 1)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: corpus vectors live in their nearest-centroid cell;
    each query probes its ``n_probe`` nearest cells and re-ranks
    exactly within them. ``n_probe == n_centroids`` degrades to the
    exact brute force (the test invariant); smaller n_probe trades
    recall for a ~n_probe/n_centroids candidate fraction.

    ``centroids`` overrides the seeded random codebook — pass
    :func:`kmeans_train` output for a trained index (better recall at
    the same n_probe: cells then follow the data distribution).

    Scale shape: corpus is hash-partitioned by cell (one shuffle,
    done once and cacheable); queries broadcast; no cross join."""
    cents = centroids if centroids is not None else _centroids(n_centroids, dim, seed)
    # repartition = the IVF index shape (corpus co-located by cell)
    # AND an exchange barrier so Catalyst's projection collapse can't
    # inline the 16-fold assignment into the join and re-evaluate it
    # per candidate row
    c = _side(
        corpus, id_col, vec_col, "c", assign_cluster(vec_col, cents).alias("cell")
    ).repartition("cell")
    q = _side(
        queries, id_col, vec_col, "q",
        F.explode(probe_clusters(vec_col, cents, n_probe)).alias("cell"),
    )
    return _probe(q, c, "cell", _COS, k)


def build_lsh_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 6,
    num_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
) -> None:
    """Materialize the LSH signature table — the "index build once"
    step the inline operators simulate with ``localCheckpoint``.

    Writes the ``_signed`` projection (id, vector, norm, one bucket
    key per table) as parquet plus a ``_lsh_meta.json`` sidecar
    pinning the plane parameters. At 100 TB this runs once per corpus
    snapshot; every dedup/ANN pass then reads the index instead of
    re-signing the corpus — pass :func:`load_lsh_index` output to
    ``lsh_near_dup_pairs(signed=...)``. Incremental corpora append
    newly-signed rows (same seed ⇒ same planes ⇒ compatible keys).
    """
    from dbm_nca_ph_etl_spark.sources.lakefs import get_fs
    from dbm_nca_ph_etl_spark.sources.lakefs import join as _pjoin

    signed = _signed(corpus, id_col, vec_col, num_tables, num_planes, dim, seed)
    signed.write.mode("overwrite").parquet(path)
    meta = {
        "id_col": id_col,
        "vec_col": vec_col,
        "num_tables": num_tables,
        "num_planes": num_planes,
        "dim": dim,
        "seed": seed,
    }
    get_fs(path).write_bytes(
        _pjoin(path, "_lsh_meta.json"), json.dumps(meta).encode("utf-8")
    )


def load_lsh_index(spark, path: str) -> tuple[DataFrame, dict]:
    """Read a :func:`build_lsh_index` table + its parameter sidecar.
    Returns ``(signed_df, meta)``; feed the frame to the ``signed=``
    parameter of :func:`lsh_near_dup_pairs` (the one LSH operator
    that takes a prebuilt index) and the meta values to its matching
    parameters (mismatched planes would silently bucket with the
    wrong geometry — always thread the stored meta through)."""
    from dbm_nca_ph_etl_spark.sources.lakefs import get_fs
    from dbm_nca_ph_etl_spark.sources.lakefs import join as _pjoin

    meta = json.loads(
        get_fs(path).read_bytes(_pjoin(path, "_lsh_meta.json")).decode("utf-8")
    )
    return spark.read.parquet(path), meta


def probe_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_mod: int = 7,
    probe_cap: int = 7000,
    margin: float = 1e-6,
) -> DataFrame:
    """EXACT near-dup pairs touching a bounded deterministic probe
    set — the scale-safe recall baseline for the LSH audit.

    Probe set: ``id % probe_mod == 0 AND id < probe_cap`` — a FIXED
    upper bound (≤ probe_cap/probe_mod rows) at any corpus size, so
    collecting the probe vectors to a driver-side matrix is O(1) in
    corpus scale. Exactness comes from a two-stage sketch-then-verify:

    1. **Candidate generation, vectorized**: one Arrow-batched pass
       over the corpus computes all probe×row cosines as a numpy
       matmul (BLAS — microseconds per batch) and keeps pairs scoring
       ``>= threshold - margin``. The matmul's different summation
       order can drift from the JVM fold only by ~1e-15 relative, so
       with margin 1e-6 the candidate set is a guaranteed superset of
       the true pair set.
    2. **Exact re-check, JVM folds**: the few surviving candidates
       join back to their vectors and the decision cosine is the
       same left-to-right ``aggregate`` fold every exact operator
       uses — bit-identical to DuckDB's list_dot_product, so the
       result hash-matches the SQL oracle.

    Replaces a per-pair interpreted 3-fold cosine over |probe|·n pairs
    (measured 9.7 s at sf0.1) with BLAS + ~10² exact folds (~0.5 s).
    """
    idq, vq = quote_ident(id_col), quote_ident(vec_col)
    in_probe = lambda i: (i % probe_mod == 0) & (i < probe_cap)  # noqa: E731
    probe_rows = (
        corpus.where(in_probe(F.col(idq)))
        .select(F.col(idq).alias("_id"), F.col(vq).alias("_v"))
        .collect()
    )
    probe_ids = np.asarray([r._id for r in probe_rows], dtype=np.int64)
    pmat = np.stack([np.asarray(r._v, dtype=np.float64) for r in probe_rows])
    pnorm = np.sqrt((pmat * pmat).sum(axis=1))
    cut = threshold - margin

    def gen(batches):
        for b in batches:
            ids = b["id"].to_numpy()
            v = np.stack(b["_v"].to_numpy()).astype(np.float64)
            vnorm = np.sqrt((v * v).sum(axis=1))
            cos = (v @ pmat.T) / np.outer(vnorm, pnorm)
            rows, cols = np.nonzero(cos >= cut)
            yield pd.DataFrame(
                {"neighbor_id": ids[rows].astype("int64"), "query_id": probe_ids[cols]}
            )

    # mapInPandas re-selects its input by unquoted name, so the
    # columns it sees must be plain ones
    cand = corpus.selectExpr(f"{idq} AS id", f"{vq} AS _v").mapInPandas(
        gen, schema="neighbor_id long, query_id long"
    )
    probes = _side(corpus, id_col, vec_col, "q").where(in_probe(F.col("query_id")))
    return (
        _drop_self(cand)
        .join(F.broadcast(probes), "query_id")
        .join(_side(corpus, id_col, vec_col, "c"), "neighbor_id")
        .selectExpr(
            "least(query_id, neighbor_id) AS id_a",
            "greatest(query_id, neighbor_id) AS id_b",
            f"{_COS} AS cos_sim",
        )
        .where(F.col("cos_sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def kmeans_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 5,
    dim: int = 64,
    seed: int = 42,
) -> tuple[list[list[float]], list[float]]:
    """Spherical k-means (Lloyd) codebook training for the IVF index.

    Each iteration is ONE distributed pass: assign every vector to its
    nearest centroid (the same flat-fold ``_scored_cells`` expression
    the IVF index uses — JVM codegen, no UDF), then a single groupBy
    producing per-cell counts, per-dimension sums and the mean best-
    cosine. Only the k×(dim+2) aggregate rows reach the driver — the
    model state, as in MLlib — never the corpus. Centroid update =
    L2-normalized cell mean (spherical variant: assignment maximizes
    cosine, so centroids live on the unit sphere); empty cells keep
    their previous centroid.

    Deterministic: seeded init, integer argmax tiebreaks, and the
    per-cell float sums are the only order-dependent quantity (ULP
    noise — the objective monotonicity test tolerates it).

    Returns ``(centroids, objectives)`` where objectives[i] is the
    mean best-cosine measured during iteration i's assignment pass —
    non-decreasing for Lloyd.
    """
    cents = _centroids(k, dim, seed)
    objectives: list[float] = []
    vec_d = F.transform(F.col(quote_ident(vec_col)), lambda x: x.cast("double"))
    for _ in range(iters):
        best = F.element_at(F.array_sort(_scored_cells("_v", cents)), 1)
        assigned = corpus.select(vec_d.alias("_v")).select(
            "_v",
            best.getField("i").alias("cell"),
            (-best.getField("neg") / F.expr(_l2_sql("_v"))).alias("_cos"),
        )
        stats = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_cos").alias("s"),
            *[
                F.sum(F.element_at("_v", i + 1)).alias(f"d{i}")
                for i in range(dim)
            ],
        )
        rows = stats.collect()
        new_cents = [list(c) for c in cents]
        total, nrows = 0.0, 0
        for r in rows:
            total += r["s"]
            nrows += r["n"]
            mean = [r[f"d{i}"] / r["n"] for i in range(dim)]
            nrm = sum(x * x for x in mean) ** 0.5
            if nrm > 0:
                new_cents[r["cell"]] = [x / nrm for x in mean]
        objectives.append(total / max(nrows, 1))
        cents = new_cents
    return cents, objectives


def _quantized(vd: Column, scale: Column, out_type: str) -> Column:
    """The one int8 code: ``q[i] = floor(v[i]/scale + 0.5)`` ∈
    [-127, 127] (scale = absmax/127, so v/scale is already in int8
    range). Shared by the audit and the retrieval probe so the two
    can never drift; zero vectors (scale = 0) quantize to zeros."""
    return F.when(
        scale > 0,
        F.transform(
            vd, lambda x: F.floor(x / scale + F.lit(0.5)).cast(out_type)
        ),
    ).otherwise(F.transform(vd, lambda x: F.lit(0).cast(out_type)))


def quantize_int8_audit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_err_bound: float = 1e-4,
) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column with
    an in-plan reconstruction audit — the compression step every
    at-scale vector index takes (4× memory vs float32 ⇒ 4× more
    vectors per executor for the IVF/LSH probes; SQ8 in FAISS terms).

    Per vector: ``scale = absmax/127``, ``q[i] = floor(v[i]/scale +
    0.5)`` ∈ [-127, 127] — the floor(+0.5) rounding is the
    engine-tie-proof form used catalog-wide (plain round() is HALF_UP
    in Spark, half-even in DuckDB for doubles), and the absmax
    element always saturates to ±127 exactly (``n_saturated ≥ 1`` on
    any nonzero vector). Outputs are all-integer (quantized L1
    mass, an index-weighted checksum, saturation count, scale in
    nano-units) so the oracle hash-matches exactly; the float
    reconstruction error appears only as a boolean bound check
    (``recon_ok``: relative squared error ≤ ``rel_err_bound``, two
    orders of magnitude above the int8 noise floor of ~(0.5/127)²,
    so an engine ULP can never flip it — but a broken scale or
    rounding regression flips it immediately).

    One codegen'd projection, no shuffle, no UDF: quantizing 100 TB
    of embeddings is a map-only scan. Vector, scale, and quantized
    array are each let-bound (scalars.let) so every stage evaluates
    once per row, and all HOF folds run sequentially over the array
    (deterministic order — never a float sum across partitions).
    """
    v = F.transform(F.col(quote_ident(vec_col)), lambda x: x.cast("double"))

    def with_q(vd: Column, scale: Column, q: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(vd))
        err_num = F.aggregate(
            idx,
            F.lit(0.0),
            lambda acc, i: acc
            + F.pow(F.element_at(vd, i) - F.element_at(q, i) * scale, 2),
        )
        err_den = F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x)
        return F.struct(
            F.floor(scale * 1e9 + F.lit(0.5)).alias("scale_e9"),
            F.aggregate(
                q, F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
            ).alias("q_l1"),
            F.aggregate(
                idx,
                F.lit(0).cast("long"),
                lambda a, i: a + F.element_at(q, i).cast("long") * i.cast("long"),
            ).alias("q_checksum"),
            F.size(F.filter(q, lambda x: (x == 127) | (x == -127))).alias(
                "n_saturated"
            ),
            (err_num <= F.lit(rel_err_bound) * err_den).alias("recon_ok"),
        )

    def with_scale(vd: Column, scale: Column) -> Column:
        return let(
            _quantized(vd, scale, "int"), lambda qq: with_q(vd, scale, qq)
        )

    def build(vd: Column) -> Column:
        scale = F.array_max(F.transform(vd, F.abs)) / F.lit(127.0)
        return let(scale, lambda sc: with_scale(vd, sc))

    s = let(v, build)
    return corpus.select(
        F.col(quote_ident(id_col)),
        s.getField("scale_e9").alias("scale_e9"),
        s.getField("q_l1").alias("q_l1"),
        s.getField("q_checksum").alias("q_checksum"),
        s.getField("n_saturated").alias("n_saturated"),
        s.getField("recon_ok").alias("recon_ok"),
    )


def _int8_side(df: DataFrame, id_col: str, vec_col: str, r: str) -> DataFrame:
    """(id, int8 codes ``_{r}q``, integer L2² ``_{r}n2``) of one probe
    side — the quantized probe representation. Scales cancel out of
    the cosine ratio, so ranking needs only integer dot products and
    integer norms."""

    def build(vd: Column) -> Column:
        scale = F.array_max(F.transform(vd, F.abs)) / F.lit(127.0)
        return let(scale, lambda sc: _quantized(vd, sc, "long"))

    q = let(F.transform(F.col(f"_{r}v"), lambda x: x.cast("double")), build)
    return _side(df, id_col, vec_col, r).select(
        _ID[r],
        q.alias(f"_{r}q"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x * x).alias(f"_{r}n2"),
    )


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine retrieval over int8-QUANTIZED vectors — the probe
    that actually runs once :func:`quantize_int8_audit`'s compression
    is in place: per-vector scales cancel from the cosine ratio, so
    scoring is an INTEGER dot product over integer norms (zip_with +
    sequential fold, exact int64 — 64·127² per term, no float
    accumulation) with one double sqrt at the end. Same broadcast-
    queries × corpus map-only shape as :func:`cosine_topk`; at scale
    the corpus side reads the 4×-smaller int8 representation.

    Approximate only through quantization noise (~1e-3 on cosine), so
    it ships as a recall-bound audit against the exact top-k
    (plans/queries.ann_int8_topk) like the LSH/IVF probes.
    """
    q = _int8_side(queries, id_col, vec_col, "q")
    c = _int8_side(corpus, id_col, vec_col, "c")
    dot = (
        "aggregate(zip_with(_qq, _cq, (a, b) -> a * b), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    score = (
        f"round(CAST({dot} AS DOUBLE) / "
        "SQRT(CAST(_qn2 AS DOUBLE) * CAST(_cn2 AS DOUBLE)), 6)"
    )
    return _probe(q, c, None, score, k)


# -----------------------------------------------------------------------
# PQ (product quantization) ANN — m subspace codebooks, ADC scoring
# -----------------------------------------------------------------------


def _books_lit(books: list[list[list[float]]]) -> Column:
    """``array<array<array<double>>>`` codebook literal (m×k×d_sub)
    in ONE expr parse — constant-folded to a single Literal, so HOF
    lambdas that index it pay an object reference, not a rebuild."""
    return F.expr(_json_lit_sql(books, "array<array<array<double>>>"))


def _norms_lit(books: list[list[list[float]]]) -> Column:
    """``array<array<double>>`` of centroid norm² (m×k) literal."""
    return F.expr(
        _json_lit_sql(
            [[sum(x * x for x in c) for c in book] for book in books],
            "array<array<double>>",
        )
    )


def _pq_argmin(
    vec: Column, b3: Column, s: Column, k: int, d_sub: int
) -> Column:
    """Nearest-centroid code for subspace ``s`` (a lambda variable):
    an L2 argmin fold over the k codebook entries, first index wins
    ties (strict <). Nested-HOF shape on purpose — the expression
    tree is O(1) lambdas regardless of m×k, so plan construction,
    analysis, and codegen stay constant-size while the m×k×d_sub
    iteration happens in DATA space. (The python-unrolled
    struct-array predecessor built ~10k expression nodes: ~10 s of
    driver-side py4j+analysis per invocation and an interpreted-
    fallback eval — the exact trap the module header documents.)"""
    book = F.element_at(b3, s + 1)  # array<array<double>>[k]
    d2 = lambda j: F.aggregate(  # noqa: E731
        F.sequence(F.lit(0), F.lit(d_sub - 1)),
        F.lit(0.0),
        lambda acc, i: let(
            F.element_at(vec, (s * d_sub + i + 1).cast("int")).cast("double")
            - F.element_at(F.element_at(book, (j + 1).cast("int")), (i + 1).cast("int")),
            lambda diff: acc + diff * diff,
        ),
    )
    best = F.aggregate(
        F.sequence(F.lit(0), F.lit(k - 1)),
        F.struct(
            F.lit(float("inf")).alias("d"), F.lit(-1).cast("int").alias("j")
        ),
        lambda acc, j: let(
            d2(j),
            lambda d: F.when(
                d < acc.getField("d"),
                F.struct(d.alias("d"), j.cast("int").alias("j")),
            ).otherwise(acc),
        ),
    )
    return best.getField("j")


def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 10,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    sample_cap: int = 4096,
) -> list[list[list[float]]]:
    """Product-quantization codebook training on a BOUNDED sample:
    one ``TakeOrdered``-by-id corpus scan collects ≤ ``sample_cap``
    vectors to the driver, then ``m`` independent per-subspace L2
    k-means (Lloyd) run there in numpy. This is the production
    codebook shape (FAISS trains PQ on a 10⁵-10⁶ sample regardless
    of corpus size): the model is m·k·(dim/m) floats, the training
    set only needs to cover the distribution, and keeping Lloyd
    driver-side costs ONE Spark job total instead of ``iters``
    sequential cluster-wide assignment passes whose per-iteration
    codebook literals would each recompile the plan. Encoding and
    scoring (the corpus-sized work) stay fully distributed
    (:func:`pq_encode` / :func:`pq_topk`).

    Standard PQ (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011): the vector splits into m
    contiguous dim/m-dim subvectors, each quantized by its own
    k-entry codebook → codes are m small ints (m bytes at k ≤ 256)
    instead of 4·dim bytes — 32× compression at m=8, dim=64,
    float32; the memory shape that fits a 100 TB corpus index on a
    cluster. Deterministic end-to-end: seeded LCG init, id-ordered
    sample, numpy argmin first-index tiebreaks; empty cells keep
    their previous centroid.
    """
    d_sub = dim // m
    if m * d_sub != dim:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    rows = (
        corpus.select(
            F.col(quote_ident(id_col)).alias("_id"),
            F.transform(F.col(quote_ident(vec_col)), lambda x: x.cast("double")).alias(
                "_v"
            ),
        )
        .orderBy("_id")
        .limit(sample_cap)
        .collect()
    )
    X = np.asarray([r["_v"] for r in rows], dtype=np.float64)
    books: list[list[list[float]]] = []
    for s in range(m):
        sub = X[:, s * d_sub : (s + 1) * d_sub]
        cents = np.asarray(
            [_hyperplane(d_sub, seed + 7777 + s * 131 + j) for j in range(k)],
            dtype=np.float64,
        )
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=-1)
            assign = d2.argmin(axis=1)
            for j in range(k):
                pts = sub[assign == j]
                if len(pts):
                    cents[j] = pts.mean(axis=0)
        books.append([[float(x) for x in c] for c in cents])
    return books


def pq_encode(
    df: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    id_alias: str = "neighbor_id",
    vec_col: str = "embedding",
    extra_cols: list[Column] | None = None,
) -> DataFrame:
    """Encode vectors against trained codebooks →
    ``(id, _codes: array<int>[m], _rn2: double)`` where ``_rn2`` is
    the squared norm of the RECONSTRUCTED vector (Σ per-subspace
    chosen-centroid norm² — subspaces concatenate, so norms add).
    Map-only projection; this is the persistable index artifact (m
    small ints + one double per vector — the 100 TB corpus
    representation ADC scoring reads instead of raw floats).

    Expression shape: one ``transform`` over the m subspaces, each
    running the :func:`_pq_argmin` fold — O(1) lambdas total, so the
    plan stays constant-size at any m×k (see _pq_argmin on why the
    unrolled alternative is 10-40× slower end-to-end)."""
    m = len(books)
    k = len(books[0])
    d_sub = len(books[0][0])
    raw = F.col(quote_ident(vec_col))
    b3 = _books_lit(books)
    n2 = _norms_lit(books)
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: _pq_argmin(raw, b3, s, k, d_sub),
    )
    packed = let(
        codes,
        lambda cs: F.struct(
            cs.alias("codes"),
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                lambda acc, s: acc
                + F.element_at(
                    F.element_at(n2, (s + 1).cast("int")),
                    (F.element_at(cs, (s + 1).cast("int")) + 1).cast("int"),
                ),
            ).alias("rn2"),
        ),
    )
    return df.select(
        F.col(quote_ident(id_col)).alias(id_alias),
        packed.getField("codes").alias("_codes"),
        packed.getField("rn2").alias("_rn2"),
        *(extra_cols or []),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Top-k cosine retrieval over PQ codes with ASYMMETRIC distance
    (ADC): the query stays a raw float vector, the corpus is m codes
    + a reconstruction norm, and the score is
    ``Σ_s dot(q_s, c_{s,code_s}) / (|q|·|v̂|)`` — the query-to-
    reconstruction cosine. Each subspace term is an independent
    codegen'd fold with the codebook as a nested literal and
    ``element_at`` picking the coded centroid — no UDF, no shuffle
    beyond the final per-query top-k.

    Production note: at k ≤ 256 a real deployment precomputes the
    m×k lookup table per query once and scoring becomes m table
    lookups per corpus vector; the inline fold here evaluates the
    same dot products per row (identical result, dim multiply-adds)
    — the compression win (codes instead of floats on the scan side)
    is what this operator models, the LUT micro-optimization drops
    in without changing the plan shape.

    Pass ``encoded=`` (a persisted :func:`pq_encode` output) to skip
    re-encoding the corpus — the build-once/probe-often convention
    shared with ``lsh_probe_new(index=)``.

    Approximate through quantization only → ships as a recall-bound
    audit (plans/queries.ann_pq_topk) like the int8/LSH/IVF probes.
    """
    c = (
        encoded
        if encoded is not None
        else pq_encode(corpus, books, id_col, "neighbor_id", vec_col)
        # exchange barrier (the ivf_topk pattern): without it,
        # projection collapse would inline the m×k assignment into
        # the join projection and re-run encoding once per
        # (query, corpus) PAIR instead of once per corpus row. The
        # shuffled payload is the COMPRESSED index (m bytes of codes
        # + a norm per vector), and a persisted encode (encoded=)
        # skips it entirely.
        .repartition(F.col("neighbor_id"))
    )
    q = _pq_query_side(queries, id_col, vec_col)
    return _probe(q, c, None, _pq_adc_sql(books), k)


def _pq_query_side(queries: DataFrame, id_col: str, vec_col: str, *extra) -> DataFrame:
    """The raw-float query side ADC scores against: (query_id, _qv as
    double[], _qn)."""
    return _side(queries, id_col, vec_col, "q", *extra).withColumn(
        "_qv", F.expr("transform(_qv, x -> CAST(x AS DOUBLE))")
    )


def _pq_adc_sql(books: list[list[list[float]]]) -> str:
    """Asymmetric-distance cosine over joined (query, coded-corpus)
    rows carrying ``_qv``/``_qn``/``_codes``/``_rn2``: one flat fold
    over the dim positions — per position p, query element × the
    coded centroid's element (three ``element_at`` hops into the
    constant-folded codebook literal). Same left-to-right summation
    order as a subspace-major unroll (p = s·d_sub + i), so scores
    are bit-identical — but the expression tree is O(1) lambdas
    instead of ~10k unrolled nodes (see :func:`_pq_argmin`).

    Emitted as ONE parsed SQL expression (r12, the _scored_cells
    driver-tax treatment): the text parses to the operator-identical
    tree the Column/``let`` form built — same sequence fold, same
    let-binding (element_at∘transform∘array), same casts and double
    literals via repr round-trip — so every score is bit-identical,
    while plan construction is a single py4j call instead of ~40."""
    m = len(books)
    d_sub = len(books[0][0])
    b3_sql = _json_lit_sql(books, "array<array<array<double>>>")
    adc = (
        f"aggregate(sequence(0, {m * d_sub - 1}), 0.0D, "
        "(acc, p) -> element_at(transform(array("
        f"CAST(FLOOR(p / {d_sub}) AS INT) + 1), "
        "s1 -> acc + element_at(_qv, CAST(p + 1 AS INT)) "
        f"* element_at(element_at(element_at({b3_sql}, s1), "
        "CAST(element_at(_codes, s1) + 1 AS INT)), "
        f"CAST(p % {d_sub} + 1 AS INT))), 1))"
    )
    denom = "(_qn * SQRT(_rn2))"
    return f"CASE WHEN {denom} > 0 THEN round(({adc}) / {denom}, 6) ELSE 0.0D END"


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ — the composed 100 TB ANN index (the FAISS ``IVFx,PQy``
    shape): a coarse IVF quantizer prunes the CANDIDATE SET (each
    query probes ``n_probe`` of ``n_centroids`` cells — a
    ~n_probe/n_centroids fraction of the corpus, via a cell-key hash
    join, never a cross join) and PQ codes compress the
    REPRESENTATION scored inside those cells (ADC — m small ints per
    vector instead of dim floats). The two approximations compose
    orthogonally: IVF bounds compute, PQ bounds memory/IO; at 100 TB
    both bounds are mandatory, which is why this is the industry-
    standard layout for billion-vector indexes.

    ``centroids`` takes a :func:`kmeans_train` codebook for the
    coarse level; ``encoded`` takes a persisted :func:`ivfpq_encode`
    table (build-once/probe-often). Corpus-side work per probe:
    scan codes of probed cells only.
    """
    cents = centroids if centroids is not None else _centroids(n_centroids, dim, seed)
    c = (
        encoded
        if encoded is not None
        else ivfpq_encode(corpus, books, cents, id_col, vec_col)
    )
    q = _pq_query_side(
        queries, id_col, vec_col,
        F.explode(probe_clusters(vec_col, cents, n_probe)).alias("cell"),
    )
    return _probe(q, c, "cell", _pq_adc_sql(books), k)


def ivfpq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF-PQ index artifact: PQ codes + reconstruction norm +
    coarse cell per vector — ONE projection over the corpus (codes
    and cell assignment share the scan), hash-partitioned by cell
    (the IVF index shape — probes hash-join on the cell key; also
    the exchange barrier that keeps the m×k assignment out of the
    join projection). Persist this once per corpus snapshot."""
    return pq_encode(
        corpus,
        books,
        id_col,
        "neighbor_id",
        vec_col,
        extra_cols=[assign_cluster(vec_col, cents).alias("cell")],
    ).repartition("cell")


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cand: int = 15,
    lam_num: int = 1,
    lam_den: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998) — the standard RAG-retrieval diversifier:
    greedily pick the candidate maximizing
    ``λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s)`` so the result
    set trades pure relevance for coverage (near-duplicate passages
    stop crowding out distinct ones).

    Distributed shape: candidate top-``n_cand`` per query
    (:func:`cosine_topk` here; swap in the LSH/IVF/PQ probes at
    scale), then ONE grouped pass — each query's candidates (id,
    relevance, vector, norm) are collected into one row and a single
    ``aggregate`` over ``1..min(k, n_cand)`` runs the greedy loop on
    that row. The plan is the same for every k; the cost per query is
    O(k²·n_cand) sim folds of ``dim`` terms each (every step
    re-scores each remaining candidate against every pick) on at most
    ``n_cand`` rows. Driver never sees a row.

    All scores are integer micro-units (round6 × 10⁶) and λ is the
    rational ``lam_num/lam_den`` (``0 ≤ lam_num ≤ lam_den``,
    ``lam_den > 0``), so selection compares integers — deterministic,
    ties go to the lowest id, and the DuckDB oracle replays it
    exactly. Output: ``(query_id, neighbor_id, pick)`` with pick =
    1..k in selection order (fewer picks when a query has fewer than
    k candidates).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not (lam_den > 0 and 0 <= lam_num <= lam_den):
        raise ValueError(
            "λ = lam_num/lam_den needs lam_den > 0 and "
            f"0 <= lam_num <= lam_den, got {lam_num}/{lam_den}"
        )
    cand = cosine_topk(corpus, queries, k=n_cand, id_col=id_col, vec_col=vec_col)
    e6 = lambda s: f"CAST(round({s} * 1000000) AS BIGINT)"  # noqa: E731
    # One greedy step over the collected candidates `_c`, with `sel`
    # the ids picked so far: the argmax of (score, then lowest id) is
    # the min of (-score, id).
    max_sim = (
        "array_max(transform(filter(_c, p -> array_contains(sel, p.id)), "
        f"p -> {e6(_paired_cosine_sql('c.v', 'p.v', 'c.n', 'p.n'))}))"
    )
    score = (
        f"IF(size(sel) = 0, c.rel, "
        f"{lam_num} * c.rel - {lam_den - lam_num} * {max_sim})"
    )
    argmax = (
        "array_min(transform(filter(_c, c -> NOT array_contains(sel, c.id)), "
        f"c -> named_struct('s', -({score}), 'id', c.id))).id"
    )
    id_type = cand.schema["neighbor_id"].dataType.simpleString()
    picks = (
        f"aggregate(sequence(1, least({k}, size(_c))), "
        f"CAST(array() AS ARRAY<{id_type}>), "
        f"(sel, i) -> concat(sel, array({argmax})))"
    )
    return (
        cand.join(_side(corpus, id_col, vec_col, "c"), "neighbor_id")
        .groupBy("query_id")
        .agg(
            F.expr(
                f"collect_list(named_struct('id', neighbor_id, "
                f"'rel', {e6('cos_sim')}, 'v', _cv, 'n', _cn))"
            ).alias("_c")
        )
        .selectExpr("query_id", f"posexplode({picks}) AS (_pos, neighbor_id)")
        .selectExpr("query_id", "neighbor_id", "_pos + 1 AS pick")
    )


def margin_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 4,
    m: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = EXACT_TOPK_MAX_QUERIES,
) -> DataFrame:
    """Margin-based candidate mining (Artetxe & Schwenk 2019 — the
    criterion behind CCMatrix/LASER bitext mining, and the
    hubness-corrected retrieval rule plain cosine lacks): score a
    candidate pair not by raw cosine but by its RATIO margin

        margin(x, y) = cos(x, y) / ((avgk(x) + avgk(y)) / 2)

    where avgk(v) is the mean cosine of v's k nearest neighbors. A
    "hub" vector that is close to everything has a high avgk, so its
    pairs need to be MUCH closer than its background to score — the
    correction that makes mined pairs precision-usable.

    Plan: forward top-k via :func:`cosine_topk` (scale-guarded exact
    baseline; swap the LSH/IVF legs in at scale), backward averages
    computed ONLY for the candidate set (≤ |queries|·k vectors —
    bounded, never corpus²). Cosines convert to exact e6 integers
    before any cross-row sum, so both averages are exact integer
    sums and the margin is one double expression on exact ints —
    emitted as integer ppm with a (margin_ppm, neighbor_id)
    total-order top-m. Self-pairs excluded by cosine_topk."""
    fwd = cosine_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        max_queries=max_queries,
    ).select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("cos_sim") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("cos_e6"),
    )
    qsum = fwd.groupBy("query_id").agg(F.sum("cos_e6").alias("_qsum"))
    cand_ids = fwd.select(F.col("neighbor_id").alias(id_col)).distinct()
    back = cosine_topk(
        corpus,
        corpus.join(F.broadcast(cand_ids), id_col),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        max_queries=max_queries,
    ).select(
        F.col("query_id").alias("neighbor_id"),
        F.floor(F.col("cos_sim") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("cos_e6"),
    )
    nsum = back.groupBy("neighbor_id").agg(F.sum("cos_e6").alias("_nsum"))
    margin = F.floor(
        F.lit(float(2 * k))
        * F.col("cos_e6").cast("double")
        / (F.col("_qsum") + F.col("_nsum")).cast("double")
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    scored = (
        fwd.join(F.broadcast(qsum), "query_id")
        .join(F.broadcast(nsum), "neighbor_id")
        .select("query_id", "neighbor_id", margin.alias("margin_ppm"))
    )
    return _topk(scored, m, by="margin_ppm")


# ---------------------------------------------------------------------------
# PCA: exact-integer moment accumulation → driver eigh → trained projection
# ---------------------------------------------------------------------------

#: quantization step 2^-20 ≈ 1e-6 — a power of two, so q/scale is an
#: exact binary float and the DuckDB oracle reproduces it bit-for-bit
PCA_SCALE = 1 << 20

#: |q| ceiling for the int64-overflow proof in gram_sums (see below)
_PCA_Q_MAX = 1 << 24


def gram_sums(
    corpus: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = PCA_SCALE,
) -> DataFrame:
    """Exact-integer second-moment sums over a quantized embedding
    column — the sufficient statistic PCA needs, computed in ONE
    distributed pass that ships O(dim²) rows per Arrow batch and
    never moves a vector off its executor.

    Each batch quantizes to int64 (``q = floor(v·scale + 0.5)``, the
    same half-up rule as the int8/PQ quantizers — digit-for-digit
    reproducible in the SQL oracle) and emits its upper-triangle Gram
    QᵀQ, per-dimension linear sums (tagged ``j = -1``) and a row
    count (``i = j = -1``): dim(dim+3)/2 + 1 rows per batch.
    Overflow proof: a guard rejects |q| > 2^24, so one product is
    ≤ 2^48 and a default 10k-row Arrow batch sums to ≤ 2^48·2^13.3 ≈
    2^61.3 — inside int64 with 2^1.7 headroom (a non-default batch
    size would need > 2^15 rows to threaten it; the test pins the
    bound). The CROSS-batch reduction is a
    decimal(38,0) sum — exact at any corpus size. Net: the collected
    moment matrix is a pure function of the data, bit-identical under
    any partitioning; no float accumulation order exists anywhere in
    the statistic.

    100 TB shape: map-side output is ~2.1k rows per batch regardless
    of corpus size; the groupBy reduces 2.1k keys with map-side
    partial aggregation — the driver-bound result is one small
    matrix. This is the same collect-only-model-state contract as
    kmeans_train / bpe_train.
    """
    iu0, iu1 = np.triu_indices(dim)
    base_i = np.concatenate([iu0, np.arange(dim), [-1]]).astype(np.int32)
    base_j = np.concatenate([iu1, np.full(dim, -1), [-1]]).astype(np.int32)

    def part(batches):
        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Q = np.floor(X * float(scale) + 0.5).astype(np.int64)
            if np.abs(Q).max(initial=0) > _PCA_Q_MAX:
                raise ValueError(
                    "gram_sums: |quantized value| exceeds 2^24 — raise the "
                    "guard only with a smaller scale (int64 batch-overflow "
                    "proof depends on it)"
                )
            G = Q.T @ Q
            yield pd.DataFrame(
                {
                    "i": base_i,
                    "j": base_j,
                    "s": np.concatenate(
                        [G[iu0, iu1], Q.sum(axis=0), [np.int64(len(Q))]]
                    ),
                }
            )

    return (
        corpus.select(F.col(quote_ident(vec_col)))
        .mapInPandas(part, "i int, j int, s long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("moment_sum"))
    )


def pca_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    p: int = 16,
    scale: int = PCA_SCALE,
    center: bool = True,
) -> tuple[list[float], list[list[float]], list[float]]:
    """Train a PCA model: ``(mean, components p×dim, eigvals desc)``.

    Collects only the dim(dim+3)/2 + 1 moment rows — model state, as
    kmeans_train collects k×(dim+2); the corpus never reaches the
    driver. The (co)variance matrix is reconstructed from EXACT
    integer sums, so the eigendecomposition input — hence the trained
    model — is bit-identical under any partitioning (the determinism
    property float accumulation cannot give). Components are
    sign-canonicalized: the largest-|coordinate| entry (lowest index
    on ties) is made positive, so the model is a pure function of the
    data, not of LAPACK's sign convention.

    ``center=False`` trains on the raw second-moment matrix
    (truncated-SVD flavor) — the right basis when the projection must
    preserve UNCENTERED dot products, e.g. the pca_topk ANN leg.
    """
    rows = gram_sums(corpus, vec_col, dim, scale).collect()
    n = 0
    lin = [0] * dim
    gram = [[0] * dim for _ in range(dim)]
    for r in rows:
        i, j, s = r["i"], r["j"], int(r["moment_sum"])
        if i == -1:
            n = s
        elif j == -1:
            lin[i] = s
        else:
            gram[i][j] = s
            gram[j][i] = s
    if n == 0:
        raise ValueError("pca_train: empty corpus")
    sc = float(scale)
    m = np.array([x / (n * sc) for x in lin], dtype=np.float64)
    cov = np.array(
        [[g / (n * sc * sc) for g in row] for row in gram], dtype=np.float64
    )
    if center:
        cov = cov - np.outer(m, m)
    else:
        m = np.zeros(dim, dtype=np.float64)
    vals, vecs = np.linalg.eigh(cov)  # ascending eigenvalues
    order = list(np.argsort(vals)[::-1][:p])
    comps: list[list[float]] = []
    for idx in order:
        v = vecs[:, idx]
        amax = int(np.argmax(np.abs(v)))  # first max index → deterministic
        if v[amax] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return [float(x) for x in m], comps, [float(vals[i]) for i in order]


def mat_project(
    df: DataFrame,
    components: list[list[float]],
    mean: list[float] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project vectors through a FIXED p×dim matrix with optional
    centering: (id, _v, _n, _p). The kernel behind :func:`rp_project`
    (seeded random planes) and :func:`pca_topk` (trained basis).

    Projection is Arrow-batched numpy — the same dense vector×matrix
    case :func:`_signed` documents as the one place Python beats the
    JVM fold (p folds/row would be thousands of interpreted lambda
    steps). Unlike ``_signed``'s bucket keys (partitioning metadata),
    these values RANK candidates, so they must be partition-invariant:
    the kernel is a per-row GEMV of fixed shape (1×dim @ dim×p) —
    identical BLAS path and summation order for every row — NOT one
    batch GEMM, whose blocking (and thus ULP rounding) varies with the
    batch's row count and could flip a tie at the n_cand frontier.
    ``_n`` (the FULL-dim norm) stays a JVM fold so downstream exact
    re-ranks bit-match :func:`cosine_topk`."""
    pmat = np.asarray(components, dtype=np.float64).T  # dim × p
    mvec = None if mean is None else np.asarray(mean, dtype=np.float64)

    @F.pandas_udf("array<double>")
    def _proj(vecs: pd.Series) -> pd.Series:
        v = np.stack(vecs.to_numpy()).astype(np.float64)  # batch × dim
        if mvec is not None:
            v = v - mvec
        return pd.Series([row @ pmat for row in v])

    return _side(df, id_col, vec_col, "").withColumn("_p", _proj("_v"))


def pca_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    p: int = 16,
    n_cand: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    model: tuple[list[float], list[list[float]], list[float]] | None = None,
) -> DataFrame:
    """PCA-compressed ANN: the rp_topk probe shape with a TRAINED
    projection. Candidates score in the p-dim eigenbasis (p/dim of
    the scan bytes/FLOPs), ``n_cand`` survive per query, then exact
    full-dim cosine re-rank — output schema and tiebreaks identical
    to :func:`cosine_topk` / :func:`rp_topk`.

    Trained on the UNCENTERED second-moment matrix (center=False):
    the top-p eigenbasis is the optimal rank-p approximation of the
    Gram operator, i.e. exactly the subspace that best preserves the
    dot products the candidate ranking runs on — on anisotropic real
    embeddings it beats JL random planes at equal p, and on isotropic
    synthetics it matches them. Training is one gram_sums pass
    (exact-integer stats → deterministic model); pass ``model=`` to
    reuse a trained basis — at 100 TB the projected corpus is the
    persisted index, built once per corpus snapshot, and the full-dim
    table is fetched for n_cand rows per query only.
    """
    if n_cand < k:
        raise ValueError(f"n_cand ({n_cand}) must be >= k ({k})")
    if model is None:
        model = pca_train(corpus, vec_col, dim, p, center=False)
    mean, comps, _ = model
    if any(x != 0.0 for x in mean):
        raise ValueError(
            "pca_topk needs an UNCENTERED model (pca_train(center=False)): "
            "a centered eigenbasis approximates centered dot products, not "
            "the raw cosines the candidate ranking runs on — pass the "
            "center=False model rather than silently degrading recall"
        )
    q = mat_project(queries, comps, None, id_col, vec_col)
    c = mat_project(corpus, comps, None, id_col, vec_col)
    return _projected_topk(q, c, k, n_cand)


def eval_weight_tables(k: int) -> tuple[list[int], list[int]]:
    """Rank-indexed integer weight tables for retrieval metrics:
    ``1e6/rank`` (reciprocal rank) and ``1e6/log2(rank+1)`` (DCG),
    both half-up micro-units. Computed ONCE driver-side and baked as
    literals into plans and oracle SQL alike, so the scorecard never
    evaluates a runtime log — the cross-engine bit-exactness trick
    the catalog uses everywhere (a 1-ULP ln() disagreement at a .5
    rounding boundary would otherwise flip a metric)."""
    import math

    rr = [int(1_000_000 / r + 0.5) for r in range(1, k + 1)]
    dcg = [int(1_000_000 / math.log2(r + 1) + 0.5) for r in range(1, k + 1)]
    return rr, dcg


def topk_eval(appr: DataFrame, exact: DataFrame, k: int = 10) -> DataFrame:
    """Retrieval-quality scorecard of an approximate top-k against
    the exact top-k (binary relevance = membership in the exact
    set): per query, ``hits`` (recall@k numerator), ``mrr_e6``
    (reciprocal rank of the first hit) and ``ndcg_e6`` (DCG over the
    hit ranks / ideal DCG) — the eval a retrieval pipeline runs
    before swapping an ANN leg into production, as an operator
    instead of a notebook.

    All-integer: metric weights come from :func:`eval_weight_tables`
    literals and the nDCG normalization is a shifted integer
    division, so the result is bit-identical on any engine and
    partitioning. Inputs are the (query_id, neighbor_id, rank)
    frames every ANN leg in this module emits; cost is one
    candidate-set-sized join plus a per-query rollup — evaluation
    never rescans the corpus."""
    rr_w, dcg_w = eval_weight_tables(k)
    # per-query ideal DCG = the first |exact| weights, NOT always all
    # k — a query whose exact set is short (filtered corpus smaller
    # than k) must still score 1.0 on perfect retrieval
    cum_dcg = [sum(dcg_w[: i + 1]) for i in range(k)]
    hits = appr.select("query_id", "neighbor_id", "rank").join(
        exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    )
    per = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("hits"),
        F.min("rank").alias("_fr"),
        F.sum(F.element_at(F.lit(dcg_w), F.col("rank"))).cast("long").alias("_dcg"),
    )
    spine = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("int").alias("_nx")
    )
    idcg = F.element_at(F.lit(cum_dcg), F.least(F.col("_nx"), F.lit(k))).cast("long")
    # shifted half-up integer division: ndcg_e6 = (2*dcg*1e6 + idcg) // (2*idcg).
    # Computed as (num - num % den) / den so the double division is of an exact
    # multiple (both < 2^53) and therefore bit-exact on any engine/partitioning.
    _num = F.lit(2) * F.col("_dcg") * F.lit(1_000_000) + idcg
    _den = F.lit(2) * idcg
    return (
        spine.join(per, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0).cast("long")).alias("hits"),
            # explicit isNotNull guard: Spark's element_at(arr, NULL)
            # resolves to the LAST element (null index folds to -1 in
            # this version), not NULL — coalesce alone would hand
            # no-hit queries the k-th reciprocal rank
            F.when(
                F.col("_fr").isNotNull(),
                F.element_at(F.lit(rr_w), F.col("_fr")).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("mrr_e6"),
            F.coalesce(
                ((_num - _num % _den) / _den).cast("long"),
                F.lit(0).cast("long"),
            ).alias("ndcg_e6"),
        )
    )
