"""Deduplication operators (north-star extension surface).

Four strategies over a document table, all shuffle-conscious:

- :func:`exact_dedup` — hash-groupBy on a content digest. One
  shuffle on a uniformly-distributed md5 key; no skew by
  construction. The 100 TB workhorse.
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` /
  :func:`minhash_dedup` — MinHash + LSH banding. Shingle → seeded
  min-hash signature → band buckets → self-join *within buckets
  only* (never all-pairs), then exact Jaccard verification of
  candidates. The standard near-dup pipeline (cf. Broder '97 resemblance,
  as used by web-scale corpus dedup).
- :func:`simhash` — 60-bit sign-of-weighted-sum fingerprint;
  near-dups differ in few bits. Hamming-ball lookup via band keys.
- :func:`ngram_jaccard_pairs` — exact n-gram Jaccard on candidate
  pairs (used standalone for small sets, and as the verifier inside
  the LSH pipeline).

All hashes go through ``functions.scalars.hash64`` (md5-derived) so
the DuckDB oracle can replay signatures bit-for-bit — Spark-private
xxhash/murmur would make the correctness gate unverifiable.

Scale notes: LSH banding means the only quadratic work is within a
bucket. Degenerate buckets (boilerplate shingles) are capped by
``max_bucket`` salting guard; signature computation is
explode+groupBy (map-side combinable min aggregate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.functions.scalars import hash48, hash64, let, round6
from dbm_nca_ph_etl_spark.operators.asof import range_join

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4

# MinHash hash family: one 48-bit md5 pre-hash per shingle, then
# h_i(x) = (a_i * x + b_i) mod P — md5 is the expensive part, so it
# runs ONCE per shingle instead of once per (shingle, seed). a_i is
# 15-bit odd (a*x < 2^63, no overflow anywhere), P is a Mersenne prime.
MINHASH_PRIME = (1 << 61) - 1


def _minhash_family(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients from a fixed LCG — identical
    constants are spliced into the DuckDB oracle SQL."""
    state, out = 12345, []
    for _ in range(num_hashes):
        state = (state * 1103515245 + 12345) & 0x7FFFFFFF
        a = (state % 16381) * 2 + 1
        state = (state * 1103515245 + 12345) & 0x7FFFFFFF
        out.append((a, state))
    return out


def tokens(text: Column) -> Column:
    """Whitespace tokenization with empty-token filtering."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles (space-joined) of a text column.

    Built with sequence+transform HOFs — stays in codegen; no UDF.
    The token array is let-bound so tokenization runs once per row,
    not once per shingle index (O(tokens), not O(tokens²)).
    """

    def shingle(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        return F.array_distinct(
            F.when(
                F.size(toks) >= n,
                F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
            ).otherwise(F.array(F.concat_ws(" ", toks)))
        )

    return let(tokens(text), shingle)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest-id row per content digest.

    groupBy(min) + semi-join back — two map-side-combinable shuffles
    on a uniform digest key; survivor choice is deterministic.
    """
    digest = F.md5(F.col(text_col).cast("binary")).alias("content_hash")
    keep = df.select(digest, F.col(id_col)).groupBy("content_hash").agg(
        F.min(id_col).alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def minhash_signature_array(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document MinHash signature as ONE array column — computed
    entirely with array HOFs: shingle → 48-bit pre-hash (one md5 per
    shingle), then per seed ``array_min`` of the affine map. No
    explode, no shuffle: a 100 TB corpus signs itself in a single
    codegen'd projection. Output: (id, sig: array<bigint>[num_hashes]).

    md5 is the pre-hash because the DuckDB oracle replays it
    bit-for-bit (the catalog's cross-engine contract); it is also
    ~75% of this operator's runtime. A Spark-only deployment should
    swap ``hash48`` for ``F.xxhash64`` — same signature algebra,
    several times faster — and verify via the pairs' Jaccard instead.
    """
    fam = _minhash_family(num_hashes)

    def affine(a: int, b: int):
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_PRIME)

    pre_hashes = F.transform(word_shingles(F.col(text_col), shingle_n), lambda s: hash48(s))
    # let-bind the pre-hash array: referenced 16×, must evaluate once —
    # project-collapse could otherwise inline the md5 work per seed.
    sig = let(
        pre_hashes,
        lambda pre: F.array(*[F.array_min(F.transform(pre, affine(a, b))) for a, b in fam]),
    )
    return df.select(F.col(id_col), sig.alias("sig"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_n: int = 3,
) -> DataFrame:
    """Long-form MinHash signature (id, h, minhash) — posexplode of
    the array signature (16 rows/doc, trivially cheap)."""
    wide = minhash_signature_array(df, text_col, id_col, num_hashes, shingle_n)
    return wide.select(
        id_col, F.posexplode("sig").alias("h", "minhash")
    )


def band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, bucket) — the banded LSH index rows for a document
    set. Band key = md5 of the ordered concat of the band\'s
    minhashes. This is the persistable index artifact both the
    all-pairs self-join (:func:`minhash_lsh_pairs`) and the
    incremental probe (:func:`lsh_probe_new`) consume."""
    rows_per_band = num_hashes // bands
    wide = minhash_signature_array(df, text_col, id_col, num_hashes, shingle_n)
    band_keys = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice("sig", band * rows_per_band + 1, rows_per_band),
                            lambda m: m.cast("string"),
                        ),
                    ).cast("binary")
                ).alias("bucket"),
            )
            for band in range(bands)
        ]
    )
    return wide.select(F.col(id_col), F.explode(band_keys).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    )


def lsh_probe_new(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    index: DataFrame | None = None,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """INCREMENTAL near-dup dedup: probe an arriving batch against the
    existing corpus index — the shape every production ingest actually
    runs. Re-deduping 100 TB on every daily delivery is a non-starter;
    the corpus\'s banded signature index is built once (persist
    :func:`band_buckets` output — same artifact the self-join path
    uses — and pass it back as ``index=``, the same override
    convention as ``lsh_near_dup_pairs(signed=…)``; without it the
    corpus is re-signed inline, fine for tests, wrong for daily
    production) and each new batch only (1) signs ITSELF and (2)
    hash-joins its bucket rows against the index: cost scales with
    the BATCH, not the corpus.

    A raw band-bucket collision is a CANDIDATE, not a verdict: a
    boilerplate-heavy band or an outright hash collision would
    otherwise permanently mark a novel document as a duplicate of an
    unrelated corpus doc. So, matching the batch path
    (:func:`minhash_dedup`), every candidate is re-checked with exact
    :func:`ngram_jaccard` against the colliding corpus doc and only
    pairs ≥ ``verify_threshold`` count as duplicates. The candidate
    set is batch-sized, so the text join-back is cheap relative to
    signing; the corpus side of that join is an id-equi hash join,
    never a scan-side blowup. Pass ``verify_threshold=None`` to get
    the raw candidate semantics (then treat ``is_dup`` as
    "is_candidate").

    Output is 1:1 with the batch: ``(doc_id, matched_doc, is_dup)``
    where ``matched_doc`` is the lowest verified-colliding corpus id
    (the canonical survivor the batch doc would fold into) or null.
    Plain semantics, fully deterministic, exactly SQL-replayable —
    candidate recall is identical to :func:`minhash_lsh_pairs` (same
    bands, same buckets), precision is the verified Jaccard bar.
    """
    idx = (
        index
        if index is not None
        else band_buckets(corpus, text_col, id_col, num_hashes, bands, shingle_n)
    )
    ob = idx.select(F.col(id_col).alias("_old"), "band", "bucket")
    nb = band_buckets(batch, text_col, id_col, num_hashes, bands, shingle_n)
    cand = nb.join(ob, ["band", "bucket"]).select(id_col, "_old").distinct()
    if verify_threshold is not None:
        # The batch side's shingle SET is projected before the
        # broadcast exchange, so it is computed once per batch row and
        # shipped as data; only the corpus text is shingled inside the
        # join's residual condition (per key-matched pair). Passing
        # both raw texts into ngram_jaccard instead re-shingles BOTH
        # per pair per subexpression (4×) — measured 4-5× slower.
        bt = batch.select(
            F.col(id_col),
            word_shingles(F.col(text_col), shingle_n).alias("_bs"),
        )
        ct = corpus.select(
            F.col(id_col).alias("_old"), F.col(text_col).alias("_ct")
        )
        cs = word_shingles(F.col("_ct"), shingle_n)
        inter = F.size(F.array_intersect(F.col("_bs"), cs)).cast("double")
        union = F.size(F.array_union(F.col("_bs"), cs)).cast("double")
        jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
        # Broadcast the batch-derived candidate side into the corpus
        # text join: the corpus is the 100 TB relation and must stay
        # map-side; left to static size estimates Spark would happily
        # broadcast a small-SF corpus instead and shuffle at scale.
        cand = (
            ct.join(F.broadcast(cand.join(bt, id_col)), "_old")
            .where(jac >= F.lit(verify_threshold))
            .select(id_col, "_old")
        )
    hits = cand.groupBy(id_col).agg(F.min("_old").alias("matched_doc"))
    return (
        batch.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            "matched_doc",
            F.col("matched_doc").isNotNull().alias("is_dup"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing ≥1 LSH band bucket.

    Band key = md5 of the ordered concat of the band's minhashes; the
    self-join happens per bucket, so complexity is Σ bucket², not N².
    """
    buckets = band_buckets(df, text_col, id_col, num_hashes, bands, shingle_n)
    # One groupBy instead of a self-join: a self-join would recompute
    # the whole signature pipeline for each side; collecting ids per
    # bucket signs the corpus exactly once, and pair generation is an
    # in-bucket HOF (Σ bucket², never N²). Degenerate buckets are a
    # data-quality signal; they stay bounded because band keys carry
    # rows_per_band minhashes of entropy.
    ids_sorted = F.array_sort(F.collect_list(id_col))
    pairs_in_bucket = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        buckets.groupBy("band", "bucket")
        .agg(ids_sorted.alias("ids"))
        .where(F.size("ids") > 1)
        .select(F.explode(pairs_in_bucket).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def ngram_jaccard(text_a: Column, text_b: Column, n: int = 3) -> Column:
    """Exact Jaccard similarity of the two texts' n-word shingle sets.

    Deliberately NOT let-bound across the intersect/union subtrees:
    binding both sets through nested single-element-array lambdas
    measured 6× SLOWER end-to-end in lsh_probe_new's verify join than
    letting codegen re-evaluate the shingle expressions (the nested
    HOF result must be materialized per row, defeating whole-stage
    codegen of the surrounding condition). Callers who need the sets
    reused across MANY comparisons should project them as columns
    first (``word_shingles`` per side) rather than wrap this."""
    sa, sb = word_shingles(text_a, n), word_shingles(text_b, n)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Attach exact n-gram Jaccard to candidate (a, b) pairs.

    Two broadcast-or-shuffle hash joins against the docs table — the
    candidate set is tiny relative to the corpus, so AQE picks
    broadcast for the pairs side at scale.
    """
    da = docs.select(F.col(id_col).alias("a"), F.col(text_col).alias("_ta"))
    db = docs.select(F.col(id_col).alias("b"), F.col(text_col).alias("_tb"))
    return (
        pairs.join(da, "a")
        .join(db, "b")
        .select("a", "b", round6(ngram_jaccard(F.col("_ta"), F.col("_tb"), n)).alias("jaccard"))
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup dedup: LSH candidates → exact-Jaccard verify →
    drop the higher id of each confirmed pair (connected via the
    lower-id survivor rule applied transitively one step — greedy,
    deterministic)."""
    cands = minhash_lsh_pairs(df, text_col, id_col, num_hashes, bands, shingle_n)
    verified = ngram_jaccard_pairs(cands, df, text_col, id_col, shingle_n).where(
        F.col("jaccard") >= threshold
    )
    losers = verified.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def simhash(text: Column, bits: int = 32) -> Column:
    """SimHash fingerprint: bit b is the sign of Σ_tokens (±1) where
    the sign is bit b of hash64(token). Expressed entirely with
    array HOFs (aggregate over the token array) — no explode, no UDF;
    one pass per row inside codegen.
    """
    toks = tokens(text)
    hashes = F.transform(toks, lambda t: hash64(t))
    # bit loop unrolled in Python: shiftright/shiftleft take literal
    # shift amounts, so the per-bit expressions are built here and the
    # whole thing stays one codegen'd expression tree.
    bit_votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                    for b in range(bits)
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    # pack sign bits: 2^b weights are exact in double for bits <= 52,
    # which lets the bit position stay a column (shiftleft would need a
    # literal) while referencing bit_votes only once in the plan.
    assert bits <= 52, "double-exact packing bound"
    return F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda vote, b: F.when(vote > 0, F.pow(F.lit(2.0), b.cast("double"))).otherwise(
                F.lit(0.0)
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ).cast("bigint")


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected pair list → the
    duplicate-CLUSTER step of near-dup dedup (LSH emits pairs; keeping
    one doc per transitive cluster needs components, or chains
    a~b~c leak b and c as separate survivors).

    Iterative min-label propagation: every node starts labeled with
    its own id; each round every node takes the min label over itself
    and its neighbors; fixpoint when no label changes. Rounds needed =
    graph diameter — near-dup clusters are shallow (stars/short
    chains), so this converges in 2-3 rounds in practice; ``max_iter``
    bounds adversarial chains. All arithmetic is integer min — fully
    deterministic on any partitioning/cluster size.

    Scale: each round is one shuffle (groupBy dst) + a key-colocated
    join; ``localCheckpoint`` cuts lineage so round N's plan doesn't
    replay rounds 1..N-1. The per-round convergence check is a count
    action (the standard Spark iterative-algorithm shape — GraphX/
    GraphFrames do the same); nothing is collected to the driver.

    Returns ``(id, cluster_id)`` for every node that appears in a
    pair; ``cluster_id`` is the min node id of the component (its
    canonical representative).
    """
    a, b = F.col(a_col), F.col(b_col)
    edges = (
        pairs.select(a.alias("src"), b.alias("dst"))
        .unionByName(pairs.select(b.alias("src"), a.alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.dst, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def word_shingles_pos(text: Column, n: int = 8) -> Column:
    """ORDERED (non-distinct) n-word shingles of a text column — the
    positional variant of :func:`word_shingles` for span detection:
    element ``i`` (0-based) is the shingle starting at token ``i+1``
    (1-based token position), so ``posexplode`` recovers exact token
    offsets. Rows with fewer than ``n`` tokens yield an empty array
    (no padded partial shingle — a span shorter than ``n`` tokens is
    below the detector's resolution by definition). Same codegen'd
    sequence+transform HOF shape as :func:`word_shingles`; token
    array let-bound so tokenization runs once per row."""

    def shingle(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(toks) - n)
        return F.when(
            F.size(toks) >= n,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
        ).otherwise(F.array().cast("array<string>"))

    return let(tokens(text), shingle)


def repeated_span_pairs(
    docs: DataFrame,
    min_len: int = 20,
    k: int = 8,
    df_cap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document EXACT repeated-substring detection — the
    suffix-array "ExactSubstr" dedup of Lee et al. 2022
    (*Deduplicating Training Data Makes Language Models Better*),
    re-expressed relationally so it distributes: a shared token span
    of length L >= k appears as exactly L-k+1 consecutive matching
    k-shingles at a CONSTANT position offset, so longest-common-run =
    a gaps-and-islands aggregation over the shingle match table.

    Plan (posting-shaped, never all-pairs):

    1. positional shingle postings ``(doc, pos, shingle)`` — one
       codegen'd projection (:func:`word_shingles_pos`);
    2. document-frequency cap: shingles with more than ``df_cap``
       postings (licenses, boilerplate headers — the skew row of
       every real corpus) are dropped BEFORE the self-join, bounding
       per-shingle match fan-out at df_cap²; the survivors' self-join
       on the shingle key is two co-partitioned hash-shuffles;
    3. islands: within ``(doc_a, doc_b, delta=pos_a-pos_b)`` a
       consecutive run satisfies ``pos_a - row_number() = const`` —
       one window + one same-key aggregate (no extra shuffle: the
       groupBy key extends the window partition key);
    4. per pair keep the longest span (ties: smallest start_a, then
       start_b — total order, deterministic), filter ``>= min_len``.

    Output: ``(doc_a, doc_b, span_tokens, start_a, start_b)`` with
    1-based token offsets. At 100 TB the match table is bounded by
    sum(df²) over capped shingles — df_cap trades recall on
    ultra-common spans (which exact/MinHash dedup already catch) for
    a hard quadratic bound; raise it with salting if span recall on
    hot templates matters.
    """
    from pyspark import StorageLevel

    # persist the positional-posting artifact: the plan reads it four
    # times (document-frequency build, df-cap probe, and BOTH sides
    # of the self-join) and the shingle HOF explode is the expensive
    # projection — without the persist it re-evaluates per read
    # (measured 4× the corpus-scan cost at the sf1 scale audit).
    # Same persist(MEMORY_AND_DISK)-not-localCheckpoint reasoning as
    # text_analysis.segment_dedup: lazy, spillable, recomputable
    # after executor loss.
    sh = (
        docs.select(
            F.col(id_col).alias("_d"),
            F.posexplode(word_shingles_pos(F.col(text_col), k)).alias("_p0", "_s"),
        )
        .select("_d", (F.col("_p0") + 1).alias("_p"), "_s")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = sh.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    sh_ok = (
        sh.join(dfreq.where(F.col("_df") <= df_cap), "_s")
        .drop("_df")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a, b = sh_ok.alias("a"), sh_ok.alias("b")
    m = a.join(b, "_s").where(F.col("a._d") < F.col("b._d")).select(
        F.col("a._d").alias("doc_a"),
        F.col("b._d").alias("doc_b"),
        F.col("a._p").alias("pa"),
        F.col("b._p").alias("pb"),
        (F.col("a._p") - F.col("b._p")).alias("delta"),
    )
    from pyspark.sql import Window

    w_run = Window.partitionBy("doc_a", "doc_b", "delta").orderBy("pa")
    spans = (
        m.withColumn("grp", F.col("pa") - F.row_number().over(w_run))
        .groupBy("doc_a", "doc_b", "delta", "grp")
        .agg(
            (F.count(F.lit(1)) + F.lit(k - 1)).cast("int").alias("span_tokens"),
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
        )
    )
    w_best = Window.partitionBy("doc_a", "doc_b").orderBy(
        F.col("span_tokens").desc(), F.col("start_a").asc(), F.col("start_b").asc()
    )
    return (
        spans.withColumn("_rn", F.row_number().over(w_best))
        .where((F.col("_rn") == 1) & (F.col("span_tokens") >= min_len))
        .select("doc_a", "doc_b", "span_tokens", "start_a", "start_b")
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowed document fingerprints (Schleimer/Wilkerson/Aiken 2003
    — the MOSS local fingerprinting algorithm): hash every k-gram,
    slide a window of ``w`` consecutive hashes, and in each window
    select the RIGHTMOST MINIMUM. The selected set is position-
    covering (every shared run of ≥ w+k-1 tokens is guaranteed to
    share a fingerprint — the winnowing guarantee) at ~2/(w+1)
    density, which is what makes it the plagiarism/overlap detector
    of record where MinHash's whole-document signatures can't
    localize matches.

    Spark-first shape: selection is a PER-DOCUMENT computation, so it
    runs entirely inside one projection — tokenize → positional
    k-gram hashes (let-bound, evaluated once) → per-window
    rightmost-argmin as an O(w) ``aggregate`` fold per window →
    ``array_distinct`` — ZERO shuffles, no UDF, map-parallel over any
    corpus size. Docs with fewer than ``w+k-1`` tokens are below the
    detector's resolution and emit nothing (the winnowing paper's
    noise threshold).

    Output: one row per selected fingerprint, ``(doc_id, pos, fp)``
    with ``pos`` the 1-based token position of the k-gram and ``fp``
    its 48-bit md5 hash (DuckDB-replayable convention)."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")

    def pick(hs: Column) -> Column:
        n = F.size(hs)
        init = F.struct(
            F.lit((1 << 62)).cast("bigint").alias("h"),
            F.lit(0).cast("int").alias("p"),
        )

        def rightmost_min(s: Column) -> Column:
            return F.aggregate(
                F.sequence(s, s + F.lit(w - 1)),
                init,
                lambda acc, i: F.when(
                    F.element_at(hs, i) <= acc["h"],
                    F.struct(
                        F.element_at(hs, i).alias("h"), i.cast("int").alias("p")
                    ),
                ).otherwise(acc),
            )

        return F.when(
            n >= w,
            F.array_distinct(
                F.transform(F.sequence(F.lit(1), n - F.lit(w - 1)), rightmost_min)
            ),
        ).otherwise(F.array().cast("array<struct<h:bigint,p:int>>"))

    fps = let(
        F.transform(word_shingles_pos(F.col(text_col), n=k), hash48), pick
    )
    return docs.select(F.col(id_col).alias("doc_id"), F.explode(fps).alias("f")).select(
        "doc_id",
        F.col("f.p").cast("long").alias("pos"),
        F.col("f.h").alias("fp"),
    )


def cdc_chunks(
    docs: DataFrame,
    avg_tokens: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking (the token-level analogue of
    Rabin/gear CDC used by dedup storage systems): a token is a cut
    point iff ``hash48(token) % avg_tokens == 0``, so boundaries are
    a property of the CONTENT, not of offsets — inserting a prefix
    into a document perturbs only the chunks up to the next
    boundary, while fixed-size windows shift every chunk after the
    edit. Expected chunk length = ``avg_tokens``; no min/max clamp
    (the clamped variant needs a sequential fold — this form stays
    a pure slice algebra and is what the SQL oracle replays).

    Spark-first shape: boundaries, chunk slicing and fingerprints
    all happen INSIDE one let-bound projection per document — cut
    positions via one O(n) filter, chunks via O(chunks) slices —
    then a single posexplode. ZERO shuffles; chunking 100 TB is a
    map-only corpus pass (same contract as winnow_fingerprints).

    Output: (doc_id, chunk_id 0-based, n_tokens, fp) where fp is
    the 48-bit md5 of the space-joined chunk — the content address
    a chunk store dedups on. Boundary tokens END their chunk. Empty
    docs emit nothing."""
    if avg_tokens < 1:
        raise ValueError(f"avg_tokens must be >= 1, got {avg_tokens}")

    def chunks_of(toks: Column) -> Column:
        n = F.size(toks)
        bp = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: hash48(F.element_at(toks, i)) % avg_tokens == 0,
        )
        starts = F.concat(F.array(F.lit(1)), F.transform(bp, lambda p: p + 1))
        ends = F.concat(bp, F.array(n))
        sliced = F.transform(
            F.sequence(F.lit(1), F.size(ends)),
            lambda j: F.slice(
                toks,
                F.element_at(starts, j),
                F.element_at(ends, j) - F.element_at(starts, j) + 1,
            ),
        )
        # a trailing boundary leaves an empty tail slice — drop it
        return F.when(n >= 1, F.filter(sliced, lambda c: F.size(c) > 0)).otherwise(
            F.array().cast("array<array<string>>")
        )

    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(let(tokens(F.col(text_col)), chunks_of)).alias(
                "chunk_id", "c"
            ),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.size("c").cast("long").alias("n_tokens"),
            hash48(F.concat_ws(" ", F.col("c"))).alias("fp"),
        )
    )


def _canonical_token_arrays(
    docs: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(doc_id, ts) with each doc's DISTINCT set elements sorted in
    the global canonical order (ascending document frequency, token
    as tiebreak — rarest first). The shared front half of the
    prefix-filtering joins (Jaccard and containment): the df table is
    a vocab-sized rollup, the per-doc sort an array HOF over
    (df, token) structs (struct order is lexicographic)."""
    elems = (
        word_shingles(F.col(text_col), n=shingle_n)
        if shingle_n > 1
        else F.array_distinct(tokens(F.col(text_col)))
    )
    # word_shingles gives [''] for an empty doc (the <n-token
    # fallback) — no content, no set
    toks = docs.select(
        F.col(id_col).alias("doc_id"), elems.alias("ts")
    ).where((F.size("ts") > 0) & (F.element_at("ts", 1) != ""))
    dfreq = toks.select(F.explode("ts").alias("token")).groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    return (
        toks.select("doc_id", F.explode("ts").alias("token"))
        .join(dfreq, "token")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("token")))
            ).alias("ordered")
        )
        .select(
            "doc_id",
            F.transform(F.col("ordered"), lambda s: s["token"]).alias("ts"),
        )
    )


def _ppm_prefix_len(n, t_ppm: int):
    """Prefix length ``n - ceil(t_ppm*n/1e6) + 1`` in PURE integer
    arithmetic, so the candidate-generation bound is consistent with
    the integer ppm verify predicates (``inter*1e6 >= t_ppm*size``).
    A float ``ceil(t*n)`` can exceed the ppm-consistent bound by one
    (e.g. t=0.07, n=100: float gives 8, t_ppm=70000 needs 7), making
    the prefix one element short — a silent false negative on
    boundary pairs. The ceil is computed as an exact shifted floor
    ((x - x mod 1e6)/1e6 with x = t_ppm*n + 999999): the division is
    of an exact multiple, so the double quotient is bit-exact."""
    x = F.lit(t_ppm) * n.cast("long") + F.lit(999_999)
    m = ((x - x % F.lit(1_000_000)) / F.lit(1_000_000)).cast("int")
    return n - m + 1


def prefix_filter_jaccard_join(
    docs: DataFrame,
    threshold: float = 0.6,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT token-set similarity self-join with prefix filtering —
    the AllPairs/PPJoin family (Bayardo et al. 2007; Xiao et al.
    2008): every pair with Jaccard ≥ t, NO probabilistic recall (the
    exact counterpart of the MinHash pipeline, for when "probably
    all pairs" isn't acceptable — contracts, compliance dedup).

    The pruning theorem: order each doc's distinct tokens by a
    global canonical order (ascending document frequency, token as
    tiebreak — rarest first) and keep only the first
    ``p = n − ⌈t·n⌉ + 1`` tokens (the PREFIX). Two sets with
    J ≥ t overlap in ≥ ⌈t·max(n_a,n_b)⌉ ≥ ⌈t·n⌉ tokens, so they
    cannot avoid each other's prefixes — sharing a prefix token is
    NECESSARY for J ≥ t, and candidates are in-posting pairs of the
    PREFIX tokens only. Rarest-first makes those posting lists the
    shortest available, which is the entire cost story: candidate
    count tracks rare-token co-occurrence, not corpus².

    Set elements default to distinct 3-word SHINGLES (``shingle_n``;
    0/1 = raw tokens): shingles are high-cardinality, so the
    rarest-first prefixes are actually rare — on a small shared
    vocabulary raw tokens degrade candidates toward all-pairs (the
    standard AllPairs practice, and measured 6× here).

    Stages: df table (vocab-sized rollup) → per-doc canonical sort +
    prefix slice (one let-bound HOF projection) → prefix-token
    posting self-join (a<b) → EXACT verify via sorted-set overlap on
    the full token arrays, all integer (inter·1e6 ≥ t·1e6·union).
    Output: (doc_a, doc_b, jac_ppm), total-order reproducible."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t_ppm = int(threshold * 1_000_000)
    ranked = _canonical_token_arrays(docs, text_col, id_col, shingle_n)
    n = F.size("ts")
    prefix_len = _ppm_prefix_len(n, t_ppm)
    pref = ranked.select(
        "doc_id", "ts", F.slice("ts", 1, prefix_len).alias("prefix")
    )
    posting = pref.select(
        "doc_id", "ts", F.explode("prefix").alias("token")
    )
    a = posting.select(
        F.col("token"), F.col("doc_id").alias("doc_a"), F.col("ts").alias("_ta")
    )
    b = posting.select(
        F.col("token"), F.col("doc_id").alias("doc_b"), F.col("ts").alias("_tb")
    )
    cand = (
        a.join(b, "token")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "_ta", "_tb")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    inter = F.size(F.array_intersect(F.col("_ta"), F.col("_tb"))).cast("long")
    union = (
        F.size(F.col("_ta")).cast("long") + F.size(F.col("_tb")).cast("long") - inter
    )
    jac_ppm = F.floor(
        inter.cast("double") / union.cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    # EXACT rational threshold (inter/union ≥ t ⇔ inter·1e6 ≥ t_ppm·union,
    # integer math — no boundary pair ever decided by float rounding);
    # jac_ppm is display-rounded only
    return cand.select(
        "doc_a",
        "doc_b",
        inter.alias("_i"),
        union.alias("_u"),
        jac_ppm.alias("jac_ppm"),
    ).where(F.col("_i") * F.lit(1_000_000) >= F.lit(t_ppm) * F.col("_u")).select(
        "doc_a", "doc_b", "jac_ppm"
    )


def containment_join(
    docs: DataFrame,
    threshold: float = 0.9,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_size: int = 5,
) -> DataFrame:
    """EXACT directional CONTAINMENT join: every ordered pair
    (a, b), a ≠ b, with C(A→B) = |A∩B| / |A| ≥ t — "a is (nearly)
    contained in b". The excerpt/quote/boilerplate-inclusion
    detector symmetric Jaccard structurally misses: a 50-line excerpt
    inside a 5000-line document has J ≈ 0.01 but C = 1.0.

    Prefix pruning, directional form (Chaudhuri et al. 2006 SSJoin):
    C(A→B) ≥ t means at most |A| − ⌈t·|A|⌉ of A's elements miss B,
    so A's canonical-order prefix of length |A| − ⌈t·|A|⌉ + 1 MUST
    intersect B's FULL set. Candidates are therefore the join of
    A-side PREFIX postings against B-side full postings — asymmetric
    where the Jaccard join is prefix×prefix, because only the
    contained side's size bounds the miss budget. Rarest-first
    ordering keeps the probed posting lists short: a boilerplate
    shingle in B's postings is only ever probed when it lands in
    some A's (rare) prefix.

    Verify is exact set intersection on the carried sorted arrays;
    the threshold decides by integer rational compare
    (inter·1e6 ≥ t_ppm·|A| — no float boundary). ``min_size`` drops
    trivially-contained tiny sets (|A| < min_size shingles), the
    standard guard for quote-detection noise.

    Output: (doc_a, doc_b, size_a, inter, cont_ppm) where doc_a is
    the contained side. Scale: vocab-sized df rollup + one posting
    join whose cost tracks rare-token co-occurrence; never corpus².
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if min_size < 1:
        raise ValueError(f"min_size must be >= 1, got {min_size}")
    t_ppm = int(threshold * 1_000_000)
    ranked = _canonical_token_arrays(docs, text_col, id_col, shingle_n).where(
        F.size("ts") >= min_size
    )
    n = F.size("ts")
    prefix_len = _ppm_prefix_len(n, t_ppm)
    probe = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ts").alias("_ta"),
        F.explode(F.slice("ts", 1, prefix_len)).alias("token"),
    )
    index = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ts").alias("_tb"),
        F.explode("ts").alias("token"),
    )
    cand = (
        probe.join(index, "token")
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", "_ta", "_tb")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    inter = F.size(F.array_intersect(F.col("_ta"), F.col("_tb"))).cast("long")
    size_a = F.size(F.col("_ta")).cast("long")
    cont_ppm = F.floor(
        inter.cast("double") / size_a.cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    return (
        cand.select(
            "doc_a",
            "doc_b",
            size_a.alias("size_a"),
            inter.alias("inter"),
            cont_ppm.alias("cont_ppm"),
        )
        .where(F.col("inter") * F.lit(1_000_000) >= F.lit(t_ppm) * F.col("size_a"))
    )


def levenshtein_blocked_pairs(
    df: DataFrame,
    text_col: str,
    max_dist: int = 4,
) -> DataFrame:
    """Edit-distance similarity self-join with length blocking — the
    fuzzy-string near-dup pass (typo'd titles, OCR'd names, product
    variants) that set-similarity joins miss because a 1-char edit
    inside a token changes the whole shingle.

    Blocking: Levenshtein(a, b) ≥ |len(a) − len(b)|, so a pair within
    ``max_dist`` can only differ by at most ``max_dist`` in length.
    Each string is a point on its length and also supplies the range
    ``[len, len + max_dist]``; :func:`operators.asof.range_join` with
    width ``max_dist`` pairs every string with each string at most
    ``max_dist`` longer — each range covers 2 length bins, a standard
    equi-join after a 2-element explode, never a cross join. Within a
    block the exact DP distance runs JVM-side (``F.levenshtein`` with
    the threshold argument, which early-exits the DP at ``max_dist +
    1``). Dedup to distinct strings FIRST — dominance only depends on
    the value, and the distinct shrinks the join quadratically for
    catalogs full of repeated names.

    Output: (text_a, text_b, dist), text_a < text_b, 1 ≤ dist ≤
    ``max_dist``. Scale: cost = Σ over length bins of |bin|·|adjacent
    bin|; bin sizes are length-histogram-bounded. For pathological
    same-length corpora, compose with a first-char or q-gram-count
    second blocking key.
    """
    if max_dist < 1:
        raise ValueError(f"max_dist must be >= 1, got {max_dist}")
    vals = df.select(F.col(text_col).alias("_s")).where(
        F.col("_s").isNotNull()
    ).distinct()
    n = F.length("_s").cast("long")
    pairs = range_join(
        vals.select(F.col("_s").alias("_r"), n.alias("_rn")),
        vals.select(
            F.col("_s").alias("_l"), n.alias("_lo"), (n + max_dist).alias("_hi")
        ),
        [],
        [("_rn", "_lo", "_hi", max_dist)],
    )
    # A same-length pair meets twice (both orientations) — keep the
    # l < r one; a pair of different lengths meets exactly ONCE, with
    # the shorter string as the range — keep it regardless of string
    # order and canonicalize via least/greatest, because filtering
    # those meets on l < r would silently drop every pair whose
    # lexical order opposes its length order.
    keep = (F.col("_l") != F.col("_r")) & (
        (F.col("_rn") > F.col("_lo")) | (F.col("_l") < F.col("_r"))
    )
    pair_a = F.least(F.col("_l"), F.col("_r"))
    pair_b = F.greatest(F.col("_l"), F.col("_r"))
    # Evaluate the DP distance ONCE per surviving pair (r12): a
    # `.where` on a projected dist column gets pushed below the
    # Project by Catalyst, which substitutes the levenshtein
    # expression into the filter — every pair then pays the DP twice
    # (filter + projection), and levenshtein is the most expensive
    # scalar in this path. Computing and range-testing inside one
    # explode(filter(array(...))) keeps the distance a GENERATED
    # column (predicates cannot be pushed into a Generate's output),
    # so the plan holds exactly one levenshtein per pair; rows out of
    # range yield an empty array — row-identical to the old filter.
    dist = F.levenshtein(F.col("text_a"), F.col("text_b"), max_dist)
    return (
        pairs.where(keep)
        .select(pair_a.alias("text_a"), pair_b.alias("text_b"))
        .select(
            "text_a",
            "text_b",
            F.explode(
                F.filter(
                    F.array(dist),
                    lambda d: (d >= 1) & (d <= F.lit(max_dist)),
                )
            ).alias("dist"),
        )
    )
