"""Regenerate ``plans/fingerprints.json`` and ``PLANS.md``: formatted
physical plans for the flagship queries with the scale rationale
pinned next to each (rewritten only when it reads differently up to
expression IDs). Run after any
change to the engine or the catalog:

    python tools/dump_plans.py

The run builds the whole catalog once
(``dbm_nca_ph_etl_spark/plans/fingerprint.py``), writes each query's
``[hash, round]`` and prints the names whose hash changed on one line,
ready to pass to ``tools/oracle_check.py`` and
``tools/determinism_check.py``. A changed query is stamped with the
round after the newest ``CORRECTNESS_r*.json``, which puts it at the
front of the driver's sample (``__spark_entry__._rotation_order``);
an unchanged query keeps its stamp.

With ``--out DIR q1 q2 …`` it instead writes each named query's
``.explain("formatted")`` to ``DIR/<q>.txt`` (tables from
``$SPARK_GRAFT_SF_DIR``, default sf0.1) — e.g. before/after plans
for an optimization log, kept out of the repo:

    python tools/dump_plans.py --out /tmp/plans/before ann_pq_topk

An older plan is that commit's checkout plus the same command.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__
from dbm_nca_ph_etl_spark.plans import fingerprint
from dbm_nca_ph_etl_spark.plans.queries import QUERIES
from dbm_nca_ph_etl_spark.session import get_spark
from dbm_nca_ph_etl_spark.sources.catalog import DEFAULT_SF_DIR

# query -> why this physical plan is the one we want at 100 TB
SHOWCASE = {
    "forecast_revenue_filter": (
        "TPC-H Q6 shape — the pushdown benchmark. Every predicate reaches "
        "the parquet scan (PushedFilters) and the ReadSchema is exactly the "
        "4 referenced columns: at 100 TB the scan skips row groups on "
        "shipdate/discount/quantity statistics and never materializes the "
        "other 7 columns. One partial/final agg pair, no shuffle of data "
        "rows at all (AQE collapses the single-row final agg)."
    ),
    "revenue_by_nation": (
        "The flagship star join. lineitem⋈orders is the only shuffle pair "
        "(fact-fact, both sides hash-partitioned on orderkey); customer, "
        "nation, region ride broadcast hash joins on the probe side. The "
        "count(DISTINCT custkey) plans as the two-phase Expand aggregate — "
        "partial per partition, final after one shuffle on the group keys."
    ),
    "pricing_summary": (
        "TPC-H Q1 shape: scan → filter (pushed) → partial hash agg (map-side "
        "combine collapses 600k rows to |groups| per task) → single shuffle "
        "→ final agg. The whole pre-shuffle pipeline is one WholeStageCodegen "
        "span — no interpreted boundaries in the hot path."
    ),
    "shipping_priority_topk": (
        "Q3 shape: dims broadcast, ONE shuffle (the group agg), and the "
        "ORDER BY + LIMIT lowers to TakeOrderedAndProject — a per-partition "
        "k-heap merged on the driver, never a global sort of the aggregate."
    ),
    "train_val_test_split": (
        "The leakage-free corpus split. Pure projection: md5-nibble "
        "assignment compiles into the scan's codegen stage — zero exchanges, "
        "zero UDFs. Identical plan at any scale; assignment is a property of "
        "the row, not the partitioning."
    ),
    "nca_clean_records": (
        "The reference's whole pandas cleaner as two shuffles: one window "
        "stage (spacer lag + forward-fill share the release_id "
        "partitioning) and one ordered-collect aggregation keyed "
        "(release_id, nca_number). Releases are independent — the plan "
        "parallelizes by release across any executor count."
    ),
    "minhash_lsh_pairs": (
        "Near-dup candidate generation. The corpus is signed ONCE (explode "
        "shingles → 16 min-hash aggregate), then banded; pair expansion is "
        "an in-bucket HOF after a single groupBy(band, bucket) — Σ bucket² "
        "work, never the N² self-join, and no second signature pass."
    ),
    "ann_cosine_topk": (
        "Exact ANN baseline: the (small) query set broadcasts; dot products "
        "are JVM array folds; the per-query rank is WindowGroupLimit-pruned "
        "before the single shuffle, so only k rows per query per map task "
        "move."
    ),
    "hourly_grid_ffill": (
        "Resampling: the dense grid comes from sequence+explode (no "
        "calendar table), and the join + forward-fill window share the "
        "user_id hash partitioning — two shuffles total for agg + "
        "grid-join + fill."
    ),
    "shard_packing": (
        "Distributed exclusive prefix sum. Block boundaries are plan "
        "LITERALS (driver approxQuantile), so block assignment is a "
        "deterministic scan-stage projection; the running sum windows "
        "within blocks, and only the n-row block-total frame crosses the "
        "single-partition offset window — data rows never funnel through "
        "one reducer, and no branch depends on exchange reuse for "
        "correctness."
    ),
    "salted_hot_key_rollup": (
        "Skew surgery. The join and partial agg shuffle on (key, _salt) — "
        "the hot key fans over salt_n reducers — and only the tiny "
        "per-(key,salt) partials converge on the bare key. Decimal sums "
        "make the salt-dependent addition order bit-neutral."
    ),
    "bm25_token_search": (
        "Ranked retrieval stays index-shaped: the In-filter probe is "
        "pushed into the postings scan, document frequencies and "
        "corpus stats enter as broadcasts (no shuffle widens beyond "
        "the matched postings ⋈ doc-length join), and the top-k cut "
        "is a TakeOrderedAndProject — the rank window only ever sees "
        "k rows."
    ),
    "embedding_near_dup_lsh": (
        "The near-dup audit at scale: LSH signing is one Arrow matmul "
        "pass behind a localCheckpoint (the persisted-index stand-in); "
        "per-table bucket self-joins with first-collision predicates — "
        "never O(n²), no distinct over vector rows; the exact baseline "
        "side is a bounded-probe sketch-then-verify (BLAS candidates, "
        "JVM-fold re-check), so the audit's cost stays O(n) in corpus "
        "size."
    ),
    "segment_dedup_docs": (
        "Corpus span dedup, broadcast form: exactly TWO exchanges — the "
        "segment-frequency partial/final agg and the single-partition fold "
        "of the (tiny) duplicated-segment set — which then broadcasts, and "
        "every document is cleaned in place by an array filter against its "
        "own array_intersect'd dup subset. No join-back shuffle of the "
        "postings, no re-collect, no window; the join-back form survives as "
        "strategy='join' for corpora whose dup set can't broadcast."
    ),
    "embedding_int8_quantize": (
        "Vector compression as a ZERO-exchange map-only projection: "
        "vector, scale, and quantized array are let-bound lambda "
        "variables (each evaluates once per row), every fold is a "
        "sequential array aggregate (no cross-partition float sums), and "
        "the whole quantizer inlines into the scan's codegen stage — "
        "quantizing 100 TB is exactly one pass over the data."
    ),
    "incremental_dedup_probe": (
        "The per-delivery dedup shape: the corpus band index and the "
        "batch's band rows meet in ONE hash join on (band, bucket), then "
        "a min-collision aggregate keyed by batch doc — every stage's "
        "volume scales with the batch, and the corpus side is the "
        "persistable build-once artifact (dedup.band_buckets)."
    ),
    "orders_notin_debtors": (
        "NOT IN under three-valued logic planning as the null-aware "
        "BroadcastHashJoin (LeftAnti, isNullAware=true): the filtered "
        "build side broadcasts, the probe streams with zero exchanges, "
        "and a build-side NULL short-circuits by flag — never the "
        "O(n·m) BroadcastNestedLoopJoin fallback."
    ),
    "ann_pq_topk": (
        "PQ retrieval: the corpus side is the ENCODED representation "
        "(m codes + a norm per vector — 8-32x smaller than the floats) "
        "behind an exchange barrier so projection collapse cannot "
        "re-run encoding per (query, corpus) pair; queries broadcast; "
        "ADC scoring is python-unrolled plain arithmetic (dim "
        "multiply-adds per pair, no HOF lambdas, no UDF) feeding the "
        "standard per-query top-k window. Swap `encoded=` to a "
        "persisted pq_encode table and the scan side reads only codes."
    ),
    "mixed_codec_roundtrip": (
        "The multimodal contract in one plan: a pruned single-column "
        "scan (doc_id only — ReadSchema shows no text) feeding one "
        "Arrow-batched MapInPandas stage that encodes+decodes real "
        "BMP/PNG/JPEG blobs executor-side. Map-only: blobs never "
        "shuffle, output is audit rows — decode cost scales linearly "
        "with assets and parallelizes per input split."
    ),
    "bloom_prune_audit": (
        "Runtime row-level pruning: the build side reduces to a one-row "
        "word-packed bitmap that CROSSES as a broadcast (BroadcastExchange "
        "of 1 row, no shuffle anywhere on the fact side); every order "
        "evaluates 4 md5 map-lookups inside the scan's projection, and "
        "only the priority-sized rollup exchanges. The fact table never "
        "materializes a join row for the ~98% of keys the filter kills — "
        "the semi-join-reduction shape engines inject at 100 TB."
    ),
    "context_window_pack": (
        "Sequence packing over prefix_sum's two-phase scan: block ids are "
        "LITERAL comparisons inside the projection (no re-sampled range "
        "exchange), the per-block window shuffles once on the block key, "
        "and the block-offset side is a metadata-sized aggregate "
        "broadcast back. The explode to overlapped windows is map-side; "
        "the final window_id hash-agg is output-sized (corpus_tokens/2048 "
        "rows). No single task ever holds the global token order."
    ),
    "more_like_this_docs": (
        "Sparse retrieval without embeddings: the df-cap keeps "
        "stopword-grade posting lists out of the token join entirely "
        "(the fan-out bound), query vectors ride one BroadcastExchange "
        "into the weights scan, and every dot/norm accumulates as a "
        "DECIMAL integer sum — bit-stable under any partitioning, so "
        "the integer-ppm cosine needs no float tolerance. Candidates "
        "are token-driven: a doc sharing no surviving token with a "
        "query never materializes a row."
    ),
    "winnow_plagiarism_pairs": (
        "The MOSS selection is a pure projection: k-gram hashes, "
        "per-window rightmost-argmin folds, and array_distinct all "
        "run inside one let-bound map stage — the corpus never "
        "shuffles to get fingerprinted. Only the df-capped "
        "fingerprint self-join and the pair rollup exchange, and both "
        "are bounded by the cap (the LSH-pairs discipline). At 100 TB "
        "the fingerprint table is ~2/(w+1) the corpus token count."
    ),
    "data_quality_audit": (
        "Five row-local rules compile into ONE aggregate scan of "
        "orders (conditional sums, map-side combined — the plan has a "
        "single FileScan for all of them); unique adds one "
        "output-sized groupBy and the FK check one broadcast "
        "left-anti count. A 100 TB table's entire quality profile "
        "costs one pass plus two bounded aggregates — the property "
        "that makes per-ingest gating affordable."
    ),
    "ann_rp_topk": (
        "JL compression retrieval: one ArrowEvalPython stage projects "
        "both sides to r=32 dims (fixed-shape per-row GEMV — partition-"
        "invariant values), the projected scan feeds a broadcast-queries "
        "nested loop whose per-pair cost is an r-length fold (half the "
        "FLOPs/bytes of full-dim), and only n_cand survivors reach the "
        "exact full-dim re-rank. At 100 TB the projected corpus is the "
        "persisted index; the full vectors are fetched per-candidate."
    ),
    "ann_pca_topk": (
        "Trained-projection ANN: candidates score in the 16-dim eigenbasis "
        "(p/dim of the scan FLOPs; the projected corpus is the persisted "
        "index at 100 TB), a broadcast of the 10 queries against the "
        "projected corpus — map-only, no corpus shuffle — then the exact "
        "re-rank touches full vectors for n_cand rows per query only. "
        "Training collected 2.1k exact-integer moment rows, so the model "
        "(and this plan's literals) is bit-identical under any partitioning."
    ),
    "pareto_frontier_parts": (
        "2-D skyline without a self-join: distinct value pairs (map-side "
        "combined), per-partition local sort-filter skylines in parallel, "
        "a survivor-only global pass (~O(log n) rows on one task — "
        "metadata, not data), then a broadcast join back to the table. "
        "The quadratic NOT EXISTS spec this replaces would be a cartesian "
        "self-join; the plan has none."
    ),
    "hourly_interp_values": (
        "Dense-grid linear interpolation: per-user grid explode (bounded "
        "by each key's own span), ONE hash join against the hourly "
        "aggregates, and two directional IGNORE NULLS window frames that "
        "share a single (user, hour) sort — Spark evaluates both frames "
        "in one window stage, so resampling costs one shuffle. All "
        "arithmetic decimal(38,0) with a shifted integer div: exact at "
        "magnitudes that overflow int64, bit-stable on any cluster size."
    ),
    "excerpt_containment_pairs": (
        "Directional containment join: the contained side explodes only "
        "its rarest-first PREFIX tokens (miss budget bounded by |A|), the "
        "index side its full sets; the posting join's cost tracks "
        "rare-token co-occurrence, never corpus^2. Exact verify runs on "
        "the carried sorted arrays — candidates never rejoin the corpus."
    ),
    "cusum_drift_events": (
        "Page's CUSUM looks inherently sequential (S_i depends on "
        "S_{i-1} through a max), but the closed prefix form turns it "
        "into two STACKED window frames over one (metric, user) sort — "
        "the plan shows a single Exchange on the key feeding two Window "
        "nodes (running sum, then running min of it) with NO re-sort or "
        "re-shuffle between them. Per-key state never exists; at "
        "100 TB the ocean of small ordered groups is exactly the shape "
        "the window operator load-balances."
    ),
    "gini_revenue_concentration": (
        "Global ranks without a global window: prefix_sum's two-phase "
        "scan plans as a per-block window keyed on literal-baked block "
        "ids plus a broadcast of the n-row offset table — the plan has "
        "NO single-partition Exchange over data rows (the killer in "
        "every naive row_number() OVER (ORDER BY ...) at scale); the "
        "only single-task frame is the block-count-sized offset fold. "
        "The statistic itself folds in one agg over exact int64s."
    ),
    "purchase_window_click_join": (
        "A range join ('clicks in the hour before each purchase') "
        "planned as pure equi-joins by operators/asof.range_join: "
        "clicks get one hour bin, each purchase's window [t - 1 h, t] "
        "explodes to the 2 hour bins it covers, and the plan shows a "
        "hash join or SMJ on (user_id, _rj0) with the time predicate "
        "as a post-join filter — no BroadcastNestedLoopJoin, no "
        "range-condition nested loop anywhere. The left spine re-join "
        "on event_id fills "
        "zero-click purchases. This is the shape EVERY point-in-"
        "window join at 100 TB reduces to; the oracle states the "
        "same query as a literal range join for DuckDB's IEJoin."
    ),
    "rolling_dau_7d": (
        "Sliding-window distinct without a sliding window: one exact "
        "distinct to the (user, day) grid is the only pass over "
        "row-scale data; each grid cell then explodes to its ≤7 "
        "target days and a day-keyed distinct-count folds the "
        "answer. The plan has no window operator at all — two "
        "hash-aggregate pyramids and one left-semi day clip — so "
        "there is nothing to skew: work is 7×|user-day grid| however "
        "large the raw stream."
    ),
    "rfm_segmentation": (
        "Quartile scoring where the rank base is data-sized: three "
        "two-phase prefix_sum scans (one per metric) each collapse to "
        "a 1-row nearest-rank threshold tuple, broadcast back onto "
        "the per-customer aggregate; the per-customer base is "
        "localCheckpointed once and reused by all four consumers. No "
        "global row_number window anywhere — the oracle windows "
        "directly because single-node DuckDB IS one task. Ties score "
        "via strict threshold comparison, so equal customers land in "
        "one segment regardless of physical row order."
    ),
    "user_activity_streaks": (
        "Gaps-and-islands at stream scale: the only row-scale pass "
        "is the exact distinct down to the (user, day) grid; the "
        "island-id window partitions BY USER over grid rows, so the "
        "sort is per-user over ≤|days| rows and spreads with the key "
        "space. Two more grid-sized hash aggregates finish the "
        "distribution. The plan never sorts or windows raw events."
    ),
}


DESIGN_NOTES = """## Exactly-once join-view maintenance: the commit protocol (r6 design note)

Not a physical plan but the OTHER half of design-for-scale: what happens when
the cluster dies mid-write. `sinks/joinview.MaterializedJoin` maintains an
equi-join view from per-batch signed deltas with work proportional to the
delta (`ΔR ⋈ S_pre` bucket-pruned to ΔR's key buckets). r5 published batches
by dynamic partition overwrite alone, with an own-batch-exclusion read as the
replay guard. That guard has an unfixable hole under TWO independent writers
(one CDC stream per side): if the left writer crashes after its partitions
land but before its checkpoint commits, the right stream meanwhile joins
those visible rows, and the left replay — excluding only its own batch —
recomputes against the right batch too: the (L, R) pairs are counted twice,
permanently.

The r6 protocol closes it with three object-store-safe pieces (every commit
decision is one PUT or one conditional PUT; no renames):

1. **Marker commit.** A refresh writes its `_b=<id>` partitions, then PUTs
   `_commits/b<id>.json` as the LAST step. Readers and delta joins filter to
   marker-bearing partitions, so a half-written refresh is invisible — to
   queries AND to the other side's delta joins. A replayed committed batch is
   skipped outright (no recompute, no dependence on current state).
2. **Lease serialization.** Refreshes hold the table's `txlog.WriterLease`
   with a fencing check before the marker PUT. With refreshes serialized,
   each joined pair is owned by exactly one batch: whichever side committed
   later saw the other's partition as committed; the earlier side could not
   have. (Without serialization, two concurrent refreshes can each miss the
   other — an undercount no marker scheme fixes.)
3. **Horizon-swap compaction.** Folding the batch history into one netted
   partition must not overwrite a source in place: a rerun after a crash
   between the netted write and source deletion would re-derive from
   sources + its own output and double every weight. Compaction therefore
   nets into a FRESH reserved id (negative, outside the epoch id space),
   pinned with an intent record, and publishes with ONE PUT of
   `_commits/_horizon.json` that simultaneously makes the output committed
   and every source dead. Readers see the old state or the new state, never
   a mix; GC of retired directories is idempotent roll-forward.

Crash-injection tests (`tests/test_joinview.py::TestExactlyOnceCommitProtocol`)
pin each window: crashed refresh invisible + replay counts once, committed
replay skipped with zero IO, compaction crash before/after the swap, lease
fencing. Two writers, one per side, each give their refreshes batch ids
no other writer uses; a replayed batch id meets its marker and is skipped.

## A true CAS under the commit protocols (r8 design note)

Every multi-writer guarantee above bottoms out in one primitive:
`LakeFS.put_if_absent` — the lease acquisition, the commit-log entry, the
`_COMMITTED` marker. On POSIX it is `O_CREAT|O_EXCL` (kernel-arbitrated); on
the pyarrow object-store leg it was check-then-write, demoting the dual-writer
exactly-once claims to best-effort (the documented pre-conditional-PUT
Delta-on-S3 position). r8 closes that: `sources/lakefs_http.HttpCasLakeFS`
speaks the S3 REST dialect over stdlib HTTP with `If-None-Match: *` — the
store itself arbitrates the race (200 won / 412 lost / 409 retry), SigV4 is
implemented from the public signing spec in stdlib hmac, and `atomic_cas=True`
tells the protocols the CAS is real. Error mapping is load-bearing: ONLY a 404
means absent — a transient 503 on a `_COMMITTED` HEAD must raise, not read as
"missing", or matview GC would delete a committed version on a network blip.

The tests run the protocols on an in-process HTTP store whose conditional PUT
is serialized server-side (semantics deliberately distinct from POSIX: no
rename, no directories, list-by-prefix): the txlog lease/commit-log suite, the
two-writer Spark keyed upsert, the matview concurrent-refresh race, and a
strided joinview crash sweep on a disk-backed store mode (joinview lists
Spark-written partition directories through the seam, so the store must see
the same files Spark wrote). A verifying server re-derives SigV4 from the spec
so signer drift fails loudly.

## Incremental integrity on the keyed layout (r8 design note)

`operators/integrity.table_digest` answers "is the replica identical?" without
moving rows; r8 makes the answer INCREMENTAL where the table lives on the
keyed layout: the digest bucket IS the layout bucket (`_kb`), so after a merge
the refresh re-digests exactly the bucket directories the merge returned
(partition-pruned scan — `keyed_digest(buckets=touched)`), `refresh_digest`
splices them into the stored digest table, and `diff_digest` localizes any
mismatch to its bucket. Verification cost tracks merge cost, not table size —
the property that makes continuous replication auditing affordable at 100 TB.
Writing the test exposed a real bug: dynamic partition overwrite never touches
a partition absent from the written data, so deleting EVERY key in a bucket
previously left the old files readable (silent failed delete); `delete_keyed`
now removes emptied bucket directories explicitly through the seam, with a
crash-replay test on the new window.

## The window-class scaling verdict: collect-bound, not partition-bound (r9)

r8 flagged ffill_events (exp 0.69), sessionize_events (0.67),
session_window_stats (0.63) as a "window-partition-bounded class" whose
scaling story was unmeasured. r9 measured it, two ways.

First, the corpora were never key-starved: `gen_scale_data.py` offsets
`user_id` per replica, so `.scale/sf1` has 15,000 distinct users vs sf0.1's
1,500 (constant ~67 events/user) — window parallelism-per-key was already
growing 10× with the data. The partition-width hypothesis could not explain
the exponents, and decomposition found what does: these queries RETURN one
row per input event, and bench's contract mode collects the result to the
driver. At sf1 that is ~1M rows through a single-threaded deserialization —
re-timing the identical plans into Spark's no-op sink (fully distributed,
`SPARK_GRAFT_SINK=noop`) drops the exponents to 0.11/0.12–0.20/0.02: the
OPERATORS are nearly flat at 10× data; the 0.6-class was the O(n) serial
collect. At 100 TB nobody collects a billion rows to one driver — results
land in a sink — so exp_dist (now a SCALING.md column) is the
cluster-shaped number, and the contract exp stays reported for honesty.

Second, the key-width question itself is now measured rather than argued:
`gen_scale_data.py --mode=rows` builds `.scale/sf1rows` — the SAME 10× event
volume over a FIXED 1,500-user population (10× rows-per-key) — bracketing
`.scale/sf1` (10× keys, constant rows-per-key). Distributed exponents for
the window class are statistically indistinguishable across the two corpus
shapes (0.11 vs 0.13 for ffill; 0.20 vs 0.12 for sessionize), i.e. at
local[32] the per-user windows are nowhere near either limit: keys ≫ cores
in both shapes, and a 10×-deeper per-user partition sorts comfortably
in-task. The shapes DO separate exactly where theory says they must:
rolling_dau_7d's work is 7×|user-day grid|, and its distributed exponent is
0.39 when the grid grows (keys mode) vs 0.15 when the grid is fixed (rows
mode). sessionize's COLLECT exponent collapses from 0.69 to 0.06 in rows
mode for the complementary reason: denser per-user streams merge into
FEWER sessions, so the output (and the collect) stops growing.

Irreducibility note for the remaining 0.6-class collect exponents: a query
that emits O(n) rows costs O(n) to deliver to any single consumer; that
cost is the result's size, not the plan's shape. The plans themselves —
one user-keyed shuffle, in-task sorts, no global window — carry 10× data
at ≤1.6× distributed wall.
"""


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump_named(spark, out_dir: str, names: list[str]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(_explain(QUERIES[name].fn(spark, DEFAULT_SF_DIR)))
        print(f"wrote {os.path.join(out_dir, name)}.txt")


def write_showcase(spark) -> None:
    """Rewrite ``PLANS.md`` unless it already reads the same up to
    expression IDs and other run-dependent tokens, so a regeneration
    that changed nothing leaves no diff. The plans are built with the
    catalog build's shuffle width and parallelism, so they read the
    same on any host."""
    out = [
        "# PLANS — flagship physical plans (generated by tools/dump_plans.py)",
        "",
        "`.explain('formatted')` output at sf0.001 (plan shape is "
        "scale-invariant; AQE may coalesce partitions at runtime but adds "
        "no exchanges). Each plan is followed by the property that makes "
        "it the right plan at 100 TB — these properties are pinned as "
        "assertions in `tests/test_plans.py`.",
        "",
    ]
    for name, why in SHOWCASE.items():
        with fingerprint.pinned(spark, {"spark.sql.maxMetadataStringLength": "500"}):
            plan = _explain(QUERIES[name].fn(spark, fingerprint.SF_DIR))
        # keep the operator tree + scan details, trim location noise
        plan = re.sub(r"Location: InMemoryFileIndex \[[^\]]*\]", "Location: …", plan)
        out.append(f"## {name}")
        out.append("")
        out.append(why)
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    out.append(DESIGN_NOTES.rstrip())
    out.append("")
    text = "\n".join(out)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "PLANS.md")
    try:
        with open(path, encoding="utf-8") as f:
            if fingerprint.normalize(f.read()) == fingerprint.normalize(text):
                print("PLANS.md unchanged")
                return
    except FileNotFoundError:
        pass
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", help="write the named queries' plans here")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if bool(args.out) != bool(args.queries):
        ap.error("--out DIR and query names go together")
    spark = get_spark(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    if args.out:
        dump_named(spark, args.out, args.queries)
        spark.stop()
        return

    old = fingerprint.read_fingerprints()
    stamp = max(__spark_entry__._driver_rounds().values(), default=0) + 1
    new = {}
    for name, built in fingerprint.build_catalog(spark).items():
        kept = old.get(name)
        new[name] = kept if kept and kept[0] == built.digest else [built.digest, stamp]
    fingerprint.write_fingerprints(new)
    changed = [n for n in new if new[n] != old.get(n)]
    print(f"wrote plans/fingerprints.json: {len(changed)} changed (round {stamp})")
    print(" ".join(changed))
    write_showcase(spark)
    spark.stop()


if __name__ == "__main__":
    main()
