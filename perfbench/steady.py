#!/usr/bin/env python3
"""Steadiness self-check: run one workload N times, each in a fresh
process with its own seed, and print every end-to-end metric's median,
quartiles and spread (IQR / median) against its bound in
BENCHMARK.json. With --compare, check that two saved sets agree: each
median of the second within its bound of the first, in either
direction. Every run uses BENCHMARK.json's run_seconds.

  python3 perfbench/steady.py --workload games --seeds 1-10 --save a.json
  python3 perfbench/steady.py --workload games --seeds 11-20 --save b.json
  python3 perfbench/steady.py --compare a.json b.json

Run from the root of a checkout. Exit code 1 when a run fails, a spread
exceeds a third of its bound, or --compare finds a median that moved by
more than its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_set(workload: str, seeds: list[int]) -> dict[str, list[float]]:
    bench = _bench()
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in seeds:
        cmd = bench["command"] + [
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-3000:])
            raise SystemExit(f"seed {seed}: exit {proc.returncode}")
        res = json.loads(lines[-1])
        if not res["correct"] or res["failed"]:
            raise SystemExit(f"seed {seed}: {res['failed']} of {res['attempted']} failed")
        for name in values:
            values[name].append(res["metrics"][name]["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    return values


def summarize(values: dict[str, list[float]]) -> bool:
    bounds = {m["name"]: m for m in _bench()["end_to_end"]}
    steady = True
    for name, vals in values.items():
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        limit = bounds[name]["bound"] / 3
        ok = spread <= limit
        steady &= ok
        print(
            f"{name:24s} median {med:10.4f} {bounds[name]['unit']:8s} "
            f"q1 {q1:10.4f} q3 {q3:10.4f} spread {spread:6.3f} "
            f"(bound/3 {limit:.3f}) {'ok' if ok else 'NOISY'}"
        )
    return steady


def compare(a: dict, b: dict) -> bool:
    bounds = {m["name"]: m for m in _bench()["end_to_end"]}
    agree = True
    for name in a:
        ma, mb = statistics.median(a[name]), statistics.median(b[name])
        change = (mb - ma) / ma
        ok = abs(change) <= bounds[name]["bound"]
        agree &= ok
        print(f"{name:24s} {ma:10.4f} -> {mb:10.4f} ({change:+.3f}) "
              f"bound {bounds[name]['bound']} {'ok' if ok else 'MOVED'}")
    return agree


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    p.add_argument("--save", help="write the values to this JSON file")
    p.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = p.parse_args()
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as fh:
                sets.append(json.load(fh))
        return 0 if compare(*sets) else 1
    if not args.workload:
        p.error("--workload or --compare is required")
    values = run_set(args.workload, _seeds(args.seeds))
    if args.save:
        with open(args.save, "w") as fh:
            json.dump(values, fh, indent=1)
    return 0 if summarize(values) else 1


if __name__ == "__main__":
    raise SystemExit(main())
