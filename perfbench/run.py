"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload of ``BENCHMARK.json`` against the package in the
checkout this file sits in, on ``local[nproc]`` with one closed-loop
client, and checks every output. Prints a JSON line with the run's
stamps (cores, master, versions, code identity, seed, sizes and the
failure ratio), then, as the last line, the result object: the
end-to-end metrics when ``--trace 0`` and the per-layer metrics when
``--trace 1``. A traced run also writes its spans to
``perfbench/.out/``. ``perfbench/METRICS.md`` says what each metric
measures and which end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

import ingest_workload
import query_workload
from harness import PACKAGE, ROOT, Bench, cpu_times, stop_tagged, tag_processes

WORKLOADS = {"catalog_queries": query_workload, "nca_ingest": ingest_workload}

#: --size tiny is the smoke test's configuration.
SIZES = {
    "full": {"sf": 0.01, "warm_passes": 1, "history": 300,
             "round": ingest_workload.ROUND},
    "tiny": {"sf": 0.001, "warm_passes": 1, "history": 5,
             "round": ingest_workload.TINY_ROUND},
}

#: Per-layer metrics that every workload reports.
COMMON_LAYERS = ("session.start_s", "overhead.ops_per_s", "overhead.op_p50_s",
                 "overhead.op_tail_s", "overhead.cpu_s_per_op")
#: Metrics reported in the stamp line, without a bound: on a shared host
#: the wall-clock ones move with the CPU time the host takes away, a
#: median of a run's few, unlike ops jumps between them, and the peak
#: memory follows the JVM's heap growth, by more than a bound can allow
#: (see METRICS.md).
UNBOUNDED = ("ops_per_s", "op_p50_s", "op_tail_s", "op_cpu_p50_s", "peak_rss_mb")


def run_workload(bench: Bench, size: dict) -> dict:
    if bench.workload == "catalog_queries":
        return query_workload.run(
            bench, query_workload.QUERY_SET, size["sf"], size["warm_passes"],
            query_workload.PASS_S,
        )
    return ingest_workload.run(
        bench, size["history"], size["round"], ingest_workload.ROUND_S
    )


def main() -> int:
    """Runs the benchmark; every process it starts has ended when this
    returns or raises, also when the run is stopped with SIGTERM."""
    tag_processes()
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    try:
        return measure()
    finally:
        stop_tagged()


def measure() -> int:
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    t_start = time.perf_counter()
    steal0, total0 = cpu_times()
    try:
        result = run_workload(bench, SIZES[args.size])
        stamp = bench.stamp()
    finally:
        bench.close()
    # Nothing may outlive the run; the smoke test asserts this is 0.
    leftover = stop_tagged()

    steal1, total1 = cpu_times()
    e2e = dict(result["e2e"], setup_s=result["setup_s"], peak_rss_mb=bench.rss.peak_mb)
    if args.trace:
        # Layers the workload does not exercise read 0; a layer it
        # measures but did not report fails the run below.
        measured = set(WORKLOADS[args.workload].LAYERS) | set(COMMON_LAYERS)
        layers = {m["name"]: 0.0 for m in spec["per_layer"] if m["name"] not in measured}
        layers.update(result["layers"])
        layers["session.start_s"] = bench.tracer.self_times({None})["session.start"]
        for name, value in result["traced_e2e"].items():
            layers[f"overhead.{name}"] = value - e2e[name]
        wanted, values = spec["per_layer"], layers
        out_dir = os.path.join(ROOT, "perfbench", ".out")
        bench.tracer.dump(
            os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"),
            {"self_s_per_op": result["self_s"], "layers": layers,
             "e2e": e2e, "traced_e2e": result["traced_e2e"]},
        )
    else:
        wanted, values = spec["end_to_end"], e2e
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in wanted
    }

    attempted, failed = result["attempted"], result["failed"]
    info = dict(
        stamp,
        workload=args.workload,
        size=args.size,
        trace=args.trace,
        failed_ratio=failed / attempted,
        leftover_processes=leftover,
        peak_memory=bench.rss.breakdown,
        unbounded={name: e2e[name] for name in UNBOUNDED},
        setup_cpu_s=result["setup_cpu_s"],
        cpu_steal_share=(steal1 - steal0) / max(total1 - total0, 1),
        wall_s=time.perf_counter() - t_start,
        **result["info"],
    )
    print(json.dumps(info, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
