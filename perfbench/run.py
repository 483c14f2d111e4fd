#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {live_lag,headline_warm} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The program is imported from the checkout
(``timing_explorer_spark/`` next to ``perfbench/``); every file the run
writes lives under ``perfbench/_work/`` and is removed after the Spark
session and its JVM have stopped. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it carries sample counts and other detail. See perfbench/README.md
for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the program from any working directory."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # HotSpot keeps its perf-data file in /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    sys.path.insert(0, ROOT)


def _shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "timing_explorer_spark", "__init__.py")):
        print("timing_explorer_spark/ not found beside perfbench/: run from a full checkout",
              file=sys.stderr)
        return 2

    import metrics
    import workloads
    from tracing import ROOT_SPAN

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    cores = len(os.sched_getaffinity(0))
    ctx = workloads.Context(args.seed, args.seconds, bool(args.trace), work, cores)
    t0 = time.monotonic()
    try:
        with ctx.tr.span(ROOT_SPAN):
            res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        try:
            ctx.stop_session()
        finally:
            _shutdown_jvm()
            workloads.clean(work)
    wall = time.monotonic() - t0

    if not res.op_ms:
        print(json.dumps({"errors": res.errors}), file=sys.stderr)
        print("no operation completed; no metrics to report", file=sys.stderr)
        return 1
    detail, values = metrics.end_to_end(ctx, res)
    if args.trace:
        values = metrics.per_layer(args.workload, ctx, res)
    detail.update(workload=args.workload, seed=args.seed, cores=cores,
                  run_wall_s=wall, errors=res.errors)
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
