"""Run one benchmark workload and print its result as one JSON line.

    python3 e2e_bench/run.py --workload serve_mix --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps each
layer's public functions in spans and prints the per-layer metrics, and
writes the spans to ``.bench_work/trace-<workload>-<seed>.json``. All
scratch files go under ``.bench_work/`` in the checkout; the warehouse is
deleted when the run ends. See NOTES.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
CPUS = min(4, os.cpu_count() or 1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest_cycle", "serve_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "toy"], default="full",
                    help="toy: a 60-game seed, for the smoke test")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="expect wrong game names (self-test of the checks)")
    ap.add_argument("--differential", action="store_true",
                    help="serve_mix: also compare sampled answers with an in-memory model run")
    args = ap.parse_args()

    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    local = os.path.join(WORK, "spark-local")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    from e2e_bench import layers, warehouse, workloads
    from e2e_bench.trace import Tracer

    spark = warehouse.start_spark(CPUS, local)
    bench = workloads.Bench(
        spark, WORK, args.seed, workloads.SIZES[args.size], corrupt=args.corrupt_expected
    )
    tracer = None
    if args.trace:
        tracer = Tracer(spark, f"{args.workload}-{args.seed}")
        layers.instrument(tracer, workloads.Bench)
    phases = {}

    def phase(name, fn, *a):
        if tracer is None:
            return fn(*a)
        with tracer.span(name) as rec:
            tracer.root = rec["id"]
            phases[name] = rec
            try:
                return fn(*a)
            finally:
                tracer.root = None

    prepare, workload, verify = workloads.WORKLOADS[args.workload]
    try:
        phase("setup", prepare, bench)
        setup_s = time.perf_counter() - t_start
        t_run = time.perf_counter()
        out = phase("run", workload, bench, args.seconds)
        traced_wall = time.perf_counter() - t_start
        if tracer is not None:
            tracer.unwrap_all()

        t_verify = time.perf_counter()
        checked, problems = verify(bench, out, args.differential)
        verify_s = time.perf_counter() - t_verify
        results = out["results"]
        failed = sum(not r.ok for r in results) + len(problems)
        attempted = len(results) + checked
        metrics, info = workloads.end_to_end(out, setup_s, warehouse.dir_bytes(bench.root))
        info["verify_s"] = verify_s
        info["run_s"] = t_verify - t_run
        if tracer is not None:
            cost = tracer.span_cost_s()
            tracer.attach_spark_counters()
            tracer.annotate()
            values = layers.per_layer(tracer, phases, traced_wall, cost)
            units = dict(layers.PER_LAYER)
            metrics = {k: {"value": values[k], "unit": units[k]} for k, _ in layers.PER_LAYER}
            tracer.write(
                os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "metrics": values, "info": info},
            )
    finally:
        bench.close()
        warehouse.stop_spark(spark)

    for p in problems[:20]:
        print(f"verification: {p}", file=sys.stderr)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
