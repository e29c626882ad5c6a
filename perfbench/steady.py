"""Steadiness check: run two sets of runs of the same code and report,
per workload and end-to-end metric, each set's median and quartile
spread and whether the two sets agree within the metric's bound.

    python3 perfbench/steady.py [--runs 10] [--workloads star_etl corpus] [--trace]

Run from the repository root. Set A uses seeds 1..runs, set B seeds
101..100+runs; runs alternate between the sets so that host drift
lands on both. A metric is steady when both spreads (quartile
distance over median) are within its bound (``setup_s`` excepted),
the second median is no worse than the first by more than the bound,
and both sets fail the same share of operations. ``--trace`` adds one
traced run per workload and prints the tracing overhead (traced
minus untraced median op time).
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def spread(xs: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q3 - q1) / med if med else 0.0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    seconds = spec["run_seconds"]
    report, all_ok = {}, True
    for wl in args.workloads:
        sets: dict[str, list[dict]] = {"A": [], "B": []}
        for i in range(1, args.runs + 1):
            for name, seed in (("A", i), ("B", 100 + i))[:: 1 if i % 2 else -1]:
                res = run_once(wl, seed, seconds, 0)
                sets[name].append(res)
                print(f"{wl} set {name} seed {seed}: " + json.dumps(
                    {k: v["value"] for k, v in res["metrics"].items()}), file=sys.stderr)
        rows = {}
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            a = [r["metrics"][name]["value"] for r in sets["A"]]
            b = [r["metrics"][name]["value"] for r in sets["B"]]
            worse = (statistics.median(b) - statistics.median(a)) / statistics.median(a)
            if m["better"] == "higher":
                worse = -worse
            ok = worse <= bound and (name == "setup_s" or max(spread(a), spread(b)) <= bound)
            rows[name] = {"median_a": statistics.median(a), "median_b": statistics.median(b),
                          "spread_a": spread(a), "spread_b": spread(b), "bound": bound,
                          "b_worse_by": worse, "steady": ok}
            all_ok &= ok
        shares = {k: [r["failed"] / r["attempted"] for r in v] for k, v in sets.items()}
        same_fail = set(shares["A"]) == set(shares["B"]) and len(set(shares["A"])) == 1
        all_ok &= same_fail
        report[wl] = {"metrics": rows, "failed_share_equal": same_fail}
        if args.trace:
            traced = run_once(wl, 1, seconds, 1)["metrics"]
            report[wl]["trace_overhead_s"] = traced["trace.op_s"]["value"] - rows["op_p50_s"]["median_a"]
    for wl, r in report.items():
        print(f"\n{wl}  (failed share equal in both sets: {r['failed_share_equal']})")
        print(f"{'metric':16} {'median A':>10} {'median B':>10} {'spread A':>9} {'spread B':>9} {'bound':>6} {'steady':>6}")
        for name, row in r["metrics"].items():
            print(f"{name:16} {row['median_a']:10.4f} {row['median_b']:10.4f} {row['spread_a']:9.3f} "
                  f"{row['spread_b']:9.3f} {row['bound']:6.2f} {str(row['steady']):>6}")
        if "trace_overhead_s" in r:
            print(f"tracing overhead (traced op minus untraced median): {r['trace_overhead_s']:+.3f} s")
    print(json.dumps(report))
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
