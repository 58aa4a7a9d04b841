"""Streaming micro-bench: throughput and STATE-SIZE numbers for every
stateful streaming surface, on the RocksDB state store.

    python tools/stream_bench.py            # writes STREAMBENCH.md
    STREAM_BENCH_ROWS=1000000 python tools/stream_bench.py

Each op ingests the same synthetic event feed (N rows split into 10
parquet files → 10 micro-batches via maxFilesPerTrigger=1,
availableNow trigger) and reports, from ``query.recentProgress``:

- rows/s over the whole run (wall-clock around awaitTermination —
  includes per-batch planning, the honest micro-batch number);
- state rows and bytes per stateful operator (the
  ``stateOperators`` progress block), which is where the
  O(users/day)-exact vs O(2^p)-sketch DAU contrast and the
  bounded-interval join-state claim become NUMBERS instead of prose.

The correctness of every op here is pinned by batch-equivalence tests
in tests/test_streaming.py; this tool adds the throughput/state
evidence (round-9 VERDICT #4). Numbers are single-host local[N] —
they rank ops and bound state shapes; they are not cluster absolutes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from dbm_nca_ph_etl_spark.session import get_spark

N_FILES = 10


def _gen_events(spark, path: str, n_rows: int, n_users: int) -> None:
    """Deterministic synthetic feed: ~30 days of events, 4 types,
    campaign on touch rows, a 32-bit pseudo-simhash with planted
    near-dup clusters (one fingerprint per 7 consecutive event ids)."""
    us_day = 86_400_000_000
    t0 = 1_700_000_000_000_000  # fixed epoch-µs origin
    step = 30 * us_day // max(n_rows, 1)
    df = (
        spark.range(n_rows)
        .select(
            F.col("id").alias("event_id"),
            F.pmod(F.xxhash64("id"), F.lit(n_users)).alias("user_id"),
            (F.lit(t0) + F.col("id") * F.lit(step)).alias("ts_us"),
            F.element_at(
                F.array(
                    F.lit("view"), F.lit("click"),
                    F.lit("purchase"), F.lit("error"),
                ),
                (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(4)) + 1).cast("int"),
            ).alias("event_type"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(10_000)).alias("cents"),
            F.pmod(F.xxhash64(F.expr("id div 7")), F.lit(1 << 32)).alias(
                "simhash"
            ),
        )
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withColumn(
            "campaign",
            F.when(
                F.col("event_type").isin("view", "click"),
                F.pmod(F.xxhash64("event_id", F.lit(3)), F.lit(50)).cast("int"),
            ),
        )
    )
    df.repartition(N_FILES).write.mode("overwrite").parquet(path)


def _run(spark, name: str, out: DataFrame, mode: str, ckpt: str) -> dict:
    q = (
        out.writeStream.format("memory")
        .queryName(f"sb_{name}")
        .outputMode(mode)
        .option("checkpointLocation", os.path.join(ckpt, name))
        .trigger(availableNow=True)
        .start()
    )
    t0 = time.perf_counter()
    q.awaitTermination()
    wall = time.perf_counter() - t0
    progress = [json.loads(p.json) for p in q.recentProgress]
    rows_in = sum(p.get("numInputRows", 0) for p in progress)
    batches = sum(1 for p in progress if p.get("numInputRows", 0) > 0)
    state = []
    for p in reversed(progress):
        ops = p.get("stateOperators") or []
        if ops:
            for op in ops:
                state.append(
                    {
                        "operator": op.get("operatorName", "?"),
                        "rows": op.get("numRowsTotal", 0),
                        "bytes": op.get("stateMemory")
                        or op.get("memoryUsedBytes", 0),
                    }
                )
            break
    return {
        "op": name,
        "rows_in": rows_in,
        "batches": batches,
        "wall_s": round(wall, 2),
        "rows_per_s": int(rows_in / wall) if wall > 0 else 0,
        "state": state,
    }


def main() -> None:
    from dbm_nca_ph_etl_spark.streaming.events import (
        daily_active_users,
        daily_active_users_approx,
        stream_stream_interval_join,
    )
    from dbm_nca_ph_etl_spark.streaming.stateful import (
        streaming_last_touch,
        streaming_new_vs_returning,
        streaming_simhash_dedup,
    )

    n_rows = int(os.environ.get("STREAM_BENCH_ROWS", "300000"))
    n_users = max(100, n_rows // 100)
    spark = get_spark(
        app_name="stream-bench",
        shuffle_partitions=8,  # 8 state-store instances per op, not 32
        extra_conf={
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming."
                "state.RocksDBStateStoreProvider"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="stream_bench_")
    src = os.path.join(work, "events")
    ckpt = os.path.join(work, "ckpt")
    try:
        _gen_events(spark, src, n_rows, n_users)

        def stream():
            return (
                spark.readStream.schema(
                    spark.read.parquet(src).schema
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )

        results = []
        results.append(
            _run(
                spark,
                "dau_exact",
                daily_active_users(stream().select("user_id", "ts")),
                "update",
                ckpt,
            )
        )
        results.append(
            _run(
                spark,
                "dau_hll",
                daily_active_users_approx(stream().select("user_id", "ts")),
                "update",
                ckpt,
            )
        )
        results.append(
            _run(
                spark,
                "new_vs_returning",
                streaming_new_vs_returning(
                    stream().select(
                        "user_id", "event_id", "ts_us", "event_type", "cents"
                    )
                ),
                "append",
                ckpt,
            )
        )
        results.append(
            _run(
                spark,
                "last_touch",
                streaming_last_touch(
                    stream().select(
                        "user_id", "event_id", "ts_us", "event_type",
                        "campaign", "cents",
                    )
                ),
                "append",
                ckpt,
            )
        )
        results.append(
            _run(
                spark,
                "simhash_dedup",
                streaming_simhash_dedup(
                    stream().select("event_id", "simhash"),
                    "simhash",
                    order_col="event_id",
                ),
                "append",
                ckpt,
            )
        )
        views = stream().where(F.col("event_type") == "view").select(
            "user_id", "ts", "event_id"
        )
        clicks = stream().where(F.col("event_type") == "click").select(
            "user_id", "ts", "event_id"
        )
        results.append(
            _run(
                spark,
                "interval_join_5m",
                stream_stream_interval_join(
                    views, clicks, within="5 minutes", watermark="10 minutes"
                ),
                "append",
                ckpt,
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [
        "## Streaming micro-bench (RocksDB state store)",
        "",
        f"{n_rows:,} synthetic events ({n_users:,} users, ~30 days), "
        f"{N_FILES} parquet files → {N_FILES} micro-batches "
        "(maxFilesPerTrigger=1, availableNow), memory sink, "
        "RocksDBStateStoreProvider, 8 shuffle partitions. rows/s is "
        "end-to-end wall (includes per-batch planning); state rows/"
        "bytes from the final stateOperators progress block. Produced "
        "by tools/stream_bench.py.",
        "",
        "| op | rows in | batches | wall s | rows/s | state rows | state MB | state operators |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in results:
        srows = sum(s["rows"] for s in r["state"])
        sbytes = sum(s["bytes"] for s in r["state"])
        detail = "; ".join(
            f"{s['operator']}: {s['rows']:,}r" for s in r["state"]
        )
        lines.append(
            f"| {r['op']} | {r['rows_in']:,} | {r['batches']} | "
            f"{r['wall_s']} | {r['rows_per_s']:,} | {srows:,} | "
            f"{sbytes / 1e6:.1f} | {detail} |"
        )
    dau_x = next(r for r in results if r["op"] == "dau_exact")
    dau_h = next(r for r in results if r["op"] == "dau_hll")
    xr = sum(s["rows"] for s in dau_x["state"])
    hr = sum(s["rows"] for s in dau_h["state"])
    lines += [
        "",
        f"The DAU state contrast as numbers: exact grid-dedup holds "
        f"{xr:,} state rows (one per (user, open day) plus the per-day "
        f"aggregate) vs {hr:,} for the HLL form (one sketch row per "
        f"open day, O(2^p) registers each) — the "
        f"{(xr / max(hr, 1)):.0f}× state-row gap is what the sketch "
        "buys at 10⁹ users; the interval join's state stays bounded "
        "at (watermark + interval) of buffered rows, never the "
        "stream.",
        "",
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "STREAMBENCH.md"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
    print("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
