#!/usr/bin/env python3
"""The benchmark's own checks.

    python3 perfbench/selftest.py schema
        BENCHMARK.json names exactly the metrics run.py reports.
    python3 perfbench/selftest.py agree  [--workloads a,b] [--runs 2] [--seconds 4]
        Two sets of short runs of the same code agree: for every end-to-end
        metric the second set's median is within the metric's bound of the
        first's, and every run is correct.
    python3 perfbench/selftest.py spread [--workloads a,b] [--runs 10] [--seconds S]
        Quartile spread of each end-to-end metric over runs with different
        seeds, as a share of the median, next to its bound.

Exit code 0 when the check holds. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_schema() -> bool:
    sys.path.insert(0, HERE)
    from metrics import END_TO_END, PER_LAYER

    bench = _benchmark()
    ok = True
    for key, ours in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        theirs = {m["name"]: (m["unit"], m["better"]) for m in bench[key]}
        if theirs != ours:
            ok = False
            print(f"{key}: BENCHMARK.json and metrics.py differ: "
                  f"{sorted(set(theirs) ^ set(ours)) or 'units or direction'}")
    names = [w["name"] for w in bench["workloads"]]
    from run import WORKLOADS

    if tuple(names) != WORKLOADS:
        ok = False
        print(f"workloads differ: {names} vs {WORKLOADS}")
    return ok


def run_once(workload: str, seed: int, seconds: float, trace: int = 0) -> dict:
    bench = _benchmark()
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def _values(results: list[dict], name: str) -> list[float]:
    return [r["metrics"][name]["value"] for r in results]


def agree(workloads: list[str], runs: int, seconds: float) -> bool:
    bounds = {m["name"]: m["bound"] for m in _benchmark()["end_to_end"]}
    ok = True
    for w in workloads:
        sets = [[run_once(w, 100 * s + i, seconds) for i in range(runs)] for s in (1, 2)]
        for r in sets[0] + sets[1]:
            if not r["correct"] or r["failed"]:
                ok = False
                print(f"{w}: incorrect run {r}")
        for name, bound in bounds.items():
            a = statistics.median(_values(sets[0], name))
            b = statistics.median(_values(sets[1], name))
            worse = (b - a) / a
            verdict = "ok" if worse <= bound else "DISAGREE"
            ok &= verdict == "ok"
            print(f"{w:<22} {name:<14} first {a:10.4f} second {b:10.4f} "
                  f"worse {worse:+.3f} bound {bound:.3f} {verdict}")
    return ok


def spread(workloads: list[str], runs: int, seconds: float, first_seed: int) -> bool:
    bounds = {m["name"]: m["bound"] for m in _benchmark()["end_to_end"]}
    ok = True
    for w in workloads:
        results = [run_once(w, first_seed + i, seconds) for i in range(runs)]
        for name, bound in bounds.items():
            vals = _values(results, name)
            q1, med, q3 = statistics.quantiles(vals, n=4)
            share = (q3 - q1) / med
            verdict = "ok" if name == "setup_s" or share < bound / 3 else "WIDE"
            ok &= verdict == "ok"
            print(f"{w:<22} {name:<14} median {med:10.4f} spread {share:.3f} "
                  f"bound {bound:.3f} {verdict}  {[round(v, 4) for v in vals]}", flush=True)
        print(f"{w:<22} correct {sum(r['correct'] for r in results)}/{runs}", flush=True)
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("check", choices=("schema", "agree", "spread"))
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--runs", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    if args.check == "schema":
        return 0 if check_schema() else 1
    bench = _benchmark()
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    if args.check == "agree":
        ok = agree(workloads, args.runs or 2, args.seconds or 4)
    else:
        ok = spread(workloads, args.runs or 10, args.seconds or bench["run_seconds"],
                    args.first_seed)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
