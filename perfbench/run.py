#!/usr/bin/env python3
"""The repository benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload dashboard_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. The run pins its Spark environment
(cores, driver memory, worker ``PYTHONPATH``, every scratch directory
under ``.perfbench/`` in the checkout), generates its inputs from
``--seed``, sets the workload up several times, measures closed-loop
operations for ``--seconds`` seconds, checks every output, and prints
one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` wraps the engine's public module functions in spans,
reports the per-layer metrics instead, prints self time per layer to
standard error and writes every span to ``.perfbench/spans-*.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {"dashboard_ingest": "dashboard", "corpus_pipeline": "corpus"}


def pin_environment(run_dir: str) -> None:
    """Spark/Python settings for a small shared machine. The engine's
    defaults (32 cores, a 32g driver) are written for a large host; a 1g
    driver holds both workloads' data."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "PALO_SPARK_DRIVER_MEM": "1g",
        # pandas-UDF workers import palo_spark from wherever they start
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        # every JVM, Spark's launcher included: temp files and Derby's
        # log in the run directory, no perf-data file in /tmp
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir} -XX:-UsePerfData"),
        "TZ": "UTC",
    })
    import tempfile

    time.tzset()
    tempfile.tempdir = tmp


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size multiplier; the self-test uses a small one")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "palo_spark", "__init__.py")):
        print(f"no palo_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    pin_environment(run_dir)
    sys.path[:0] = [HERE, ROOT]

    import harness
    import report
    from spans import Tracer

    wl = __import__(WORKLOADS[args.workload])
    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()
    bench = harness.Bench(workload=args.workload, seed=args.seed, seconds=args.seconds,
                          run_dir=run_dir, tracer=tracer, scale=args.scale)
    t_start = time.perf_counter()
    try:
        harness.run_workload(bench, wl)
        if tracer:
            values = report.per_layer(bench)
            names = spec["per_layer"]
            report.print_self_times(bench)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            values = report.end_to_end(bench)
            names = spec["end_to_end"]
    finally:
        t_stop = time.perf_counter()
        bench.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"phases (s): imports {t_start - T_PROCESS:.1f}, workload {t_stop - t_start:.1f}, "
          f"timed {bench.timed_s:.1f}, shutdown {time.perf_counter() - t_stop:.1f}",
          file=sys.stderr)

    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    attempted = len(bench.ops)
    failed = min(attempted, len(bench.failures))
    for msg in bench.failures:
        print("FAILED:", msg, file=sys.stderr)
    print("ops (r read, w write, h cache hit, ! compaction: seconds):", " ".join(
        f"{o.kind[0]}{'!' if o.info.get('compacted') else ''}{'h' if o.info.get('hit') else ''}"
        f":{o.latency:.3f}" for o in bench.ops), file=sys.stderr)
    print(f"samples: {report.sample_counts(bench)}; checks: {bench.checks}; "
          f"failed_ratio: {failed / max(1, attempted):.4f}; "
          f"set-up rounds (s): {[round(s, 3) for s in bench.setup_rounds]}; "
          f"warm-up: {bench.warm_s:.3f}s; peak RSS (MB) python, JVM: "
          f"{bench.rss_mb[0]:.0f}, {bench.rss_mb[1]:.0f}", file=sys.stderr)
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
