#!/usr/bin/env python3
"""Run sets and their agreement check.

    python3 perfbench/sets.py run --out DIR [--workloads a,b] [--seeds 1-10]
    python3 perfbench/sets.py compare DIR_A DIR_B

``run`` executes BENCHMARK.json's command once per (workload, seed), one
process at a time, and writes each run's last two stdout lines to
``DIR/<workload>.jsonl``; it prints each end-to-end metric's median and
quartile spread (Q3 - Q1 over the median). ``compare`` applies the
benchmark's bounds to two such directories (stats.compare_sets) and exits 1
if any metric on any workload disagrees.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _load(path: str) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            for k, m in rec["result"]["metrics"].items():
                out.setdefault(k, []).append(m["value"])
    return out


def run(args) -> int:
    spec = _spec()
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    os.makedirs(args.out, exist_ok=True)
    status = 0
    for name in names:
        path = os.path.join(args.out, f"{name}.jsonl")
        for seed in _seeds(args.seeds):
            cmd = spec["command"] + [
                "--workload", name, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(f"{name} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                status = 1
                continue
            rec = {"seed": seed, "detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}
            with open(path, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"{name} seed {seed}: {json.dumps(rec['result'])}", flush=True)
        values = _load(path)
        for metric, xs in sorted(values.items()):
            if len(xs) >= 2:
                print(f"  {name} {metric}: median {stats.median(xs):.4g} "
                      f"spread {stats.quartile_spread(xs):.3f} (n={len(xs)})")
    return status


def compare(args) -> int:
    spec = _spec()
    ok = True
    for w in spec["workloads"]:
        a = _load(os.path.join(args.first, f"{w['name']}.jsonl"))
        b = _load(os.path.join(args.second, f"{w['name']}.jsonl"))
        for row in stats.compare_sets(a, b, spec["end_to_end"]):
            ok &= row["ok"]
            print(
                f"{w['name']:14s} {row['metric']:10s} {'ok ' if row['ok'] else 'BAD'} "
                f"median {row['median_first']:.4g} -> {row['median_second']:.4g} "
                f"(drift {row['drift']:+.3f}, spreads {row['spread_first']:.3f}/"
                f"{row['spread_second']:.3f}, bound {row['bound']})"
            )
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description="run sets and their agreement check")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--workloads", default="")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, default=0)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args()
    return run(args) if args.cmd == "run" else compare(args)


if __name__ == "__main__":
    sys.exit(main())
