#!/usr/bin/env python3
"""Benchmark of the columnar encode engine on the host it runs on.

    python3 perfbench/run.py --workload ingest|scan --seed N \\
        --seconds S --trace 0|1

Run from the repository root.  One process drives a ``local[4]`` Spark
session as a closed loop with one client.  ``--trace 0`` prints every
end-to-end metric; ``--trace 1`` runs every operation of its window
once traced and once untraced, probes every layer afterwards, prints the per-layer table
and the tracing overhead, writes the spans to
``.bench_work/traces/<workload>-seed<N>.json`` and prints every
per-layer metric.  The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(os.getcwd(), ".bench_work")


def _prepare_environment() -> None:
    """Keep every file the run writes, Spark's and the Python workers'
    included, under ``.bench_work`` in the working directory."""
    tmp = os.path.join(WORK_ROOT, "tmp")  # kept: holds the compiled C kernels
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    jvm_tmp = os.path.join(WORK_ROOT, "jvm-tmp")
    os.makedirs(jvm_tmp, exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path[:0] = [ROOT, HERE]


def host_shape() -> dict:
    import numpy
    import pyarrow
    import pyspark

    from universal_parquet_exporter_spark.codecs._native import get_native

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "native_kernels": get_native() is not None,
    }


def overhead_lines(summary) -> list[str]:
    """Traced-minus-untraced difference of each end-to-end metric the
    window measures on both sides."""
    units = load_units("end_to_end")
    untraced, traced = summary(False), summary(True)
    lines = ["tracing overhead (traced - untraced, each window operation run once each way):"]
    for k in ("op_p50_s", "op_p75_s", "gbps"):
        a, b = untraced[k], traced[k]
        lines.append(f"  {k:<16} untraced {a:10.4f}  traced {b:10.4f}  diff {b - a:+10.4f} {units[k]}")
    lines.append("  setup_s, size_vs_parquet: measured once per run, with tracing on")
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["ingest", "scan"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--rows", type=int, default=8000,
                    help="rows per workload dataset (the smoke test runs a tiny size)")
    args = ap.parse_args(argv)

    _prepare_environment()
    # the engine package first: it tunes malloc and Arrow's memory pool
    # before pyarrow loads
    import universal_parquet_exporter_spark  # noqa: F401

    import engine
    import layers
    import spans
    from workloads import WORKLOADS, Run, timed

    host = host_shape()
    print("host " + json.dumps(host), flush=True)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = spans.Tracer(bool(args.trace))
    spark = None
    try:
        spark, wall, stolen = timed(lambda: engine.start_session(tracer, work))
        session_s = wall * (1.0 - stolen)
        run = Run(spark, tracer, work, args.seed, args.seconds, args.rows, bool(args.trace), session_s)
        result = WORKLOADS[args.workload](run)
        if args.trace:
            metrics = layers.probe(run)
        else:
            metrics = {
                "setup_s": run.setup_s,
                "size_vs_parquet": result["size_vs_parquet"],
                **result["summary"](),
            }
    finally:
        if spark is not None:
            engine.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = load_units("per_layer" if args.trace else "end_to_end")
    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if not o["ok"])
    if failed:  # a probe that raised left its metrics out
        metrics = {k: metrics.get(k, 0.0) for k in units}
    if args.trace:
        spans.check_tree(tracer.spans)
        out_dir = os.path.join(WORK_ROOT, "traces")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
        tracer.dump(trace_path, {"host": host, "workload": args.workload, "seed": args.seed,
                                 "ops": run.ops, "metrics": metrics})
        print(f"trace: {trace_path} ({len(tracer.spans)} spans)")
        print(f"per-layer self time, {args.workload} (traced operations and probes):")
        print(f"  {'layer':<26}{'calls':>7}{'total_s':>10}{'self_s':>10}{'self%':>8}")
        for row in spans.layer_table(tracer.spans):
            print(f"  {row['layer']:<26}{row['calls']:>7}{row['total_s']:>10.3f}"
                  f"{row['self_s']:>10.3f}{100 * row['self_share']:>7.1f}%")
        print("per-layer metrics:")
        for k, v in metrics.items():
            print(f"  {k:<40}{v:>16.6g} {units[k]}")
        for line in overhead_lines(result["summary"]):
            print(line)
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out))
    return 0


def load_units(section: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
