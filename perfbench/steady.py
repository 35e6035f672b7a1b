"""Steadiness check: independent sets of runs per workload, compared with
the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--workloads edf_append ...] [--sets 2] [--runs 10] [--traced 3]

Run from the repository root.  Each run gets its own seed.  For every
end-to-end metric it prints each set's median and quartiles, the spread
(quartile distance over the median) and the set-to-set median change,
both against the metric's bound, and the failed share of each set.
``--traced N`` also makes traced runs on the first N seeds of the first
set and prints the tracing overhead: the median of their
``trace.job_cpu_s`` minus the median ``job_cpu_s`` of the untraced runs
on the same seeds (and their traced wall time, ``trace.job_s``).
Exits 1 if a run fails, a spread exceeds its bound, a
median worsens by more than its bound, or the failed shares differ.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def run(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{' '.join(cmd)} failed ({p.returncode}):\n{p.stderr[-3000:]}")
    out = json.loads(lines[-1])
    if not out["correct"]:
        sys.exit(f"{' '.join(cmd)}: outputs incorrect:\n{p.stderr[-3000:]}")
    return out


def main() -> None:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--traced", type=int, default=0, metavar="N")
    args = ap.parse_args()

    ok = True
    seed = args.first_seed
    for w in args.workloads:
        first_seed, sets = seed, []
        for _ in range(args.sets):
            runs = []
            for _ in range(args.runs):
                runs.append(run(w, seed, args.seconds))
                seed += 1
                print(f"{w} seed {seed - 1}: " + json.dumps(
                    {k: round(v["value"], 4) for k, v in runs[-1]["metrics"].items()}), flush=True)
            sets.append(runs)
        shares = [{r["failed"] / r["attempted"] for r in runs} for runs in sets]
        print(f"\n{w}: failed share per set {[sorted(s) for s in shares]}")
        if any(s != shares[0] or len(s) != 1 for s in shares):
            ok = False
        print(f"{'metric':<18}{'bound':>7}  set: median [q1, q3] spread  ...  change")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds, cells = [], []
            for runs in sets:
                vals = [r["metrics"][name]["value"] for r in runs]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                meds.append(med)
                cells.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}] {spread:.3f}")
                if spread > bound:
                    ok = False
            sign = 1 if m["better"] == "lower" else -1
            change = [sign * (b - meds[0]) / meds[0] for b in meds[1:]]
            if any(c > bound for c in change):
                ok = False
            print(f"{name:<18}{bound:>7}  " + "  |  ".join(cells)
                  + "  change " + ", ".join(f"{c:+.3f}" for c in change))
        if args.traced:
            traced = [run(w, first_seed + i, args.seconds, trace=1)["metrics"]
                      for i in range(args.traced)]
            cpu = statistics.median(t["trace.job_cpu_s"]["value"] for t in traced)
            wall = statistics.median(t["trace.job_s"]["value"] for t in traced)
            base = statistics.median(r["metrics"]["job_cpu_s"]["value"] for r in sets[0][: args.traced])
            print(f"tracing overhead over {args.traced} seeds: traced job_cpu_s {cpu:.3f} s - "
                  f"untraced {base:.3f} s = {cpu - base:+.3f} s; traced pass wall {wall:.3f} s")
        print()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
