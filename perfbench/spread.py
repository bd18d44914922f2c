#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports each end-to-end metric's
median, quartiles and spread (interquartile distance over the median), as a
regression check compares them; optionally repeats one traced run to show
that count metrics repeat exactly.

    python3 perfbench/spread.py --runs 10 --out perfbench/baseline/untraced.json
    python3 perfbench/spread.py --runs 0 --repeat-traced --out perfbench/baseline/traced.json

Run it from the repository root. Seeds are 1..runs.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(".")


def run(workload, seed, trace, seconds):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    took = time.monotonic() - t0
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} trace {trace} failed (exit {p.returncode})")
    res = json.loads(lines[-1])
    print(f"{workload} seed={seed} trace={trace} run {took:.1f}s correct={res['correct']}", file=sys.stderr)
    return res, took


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--repeat-traced", action="store_true")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"runs": a.runs, "workloads": {}}
    for w in [x["name"] for x in bench["workloads"]]:
        entry = {}
        if a.runs:
            runs = [run(w, s, 0, bench["run_seconds"]) for s in range(1, a.runs + 1)]
            entry["run_seconds_taken"] = [round(t, 1) for _, t in runs]
            entry["all_correct"] = all(r["correct"] for r, _ in runs)
            stats = {}
            for name, bound in bounds.items():
                vals = [r["metrics"][name]["value"] for r, _ in runs]
                q1, q2, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / q2 if q2 else float("nan")
                stats[name] = {"values": vals, "median": q2, "q1": q1, "q3": q3,
                               "spread": spread, "bound": bound,
                               "within_third_of_bound": spread < bound / 3}
                print(f"  {w:10s} {name:22s} median {q2:14.6g}  q1 {q1:14.6g}  q3 {q3:14.6g}  "
                      f"spread {spread:7.2%}  bound {bound:.0%}", file=sys.stderr)
            entry["end_to_end"] = stats
        if a.repeat_traced:
            (r1, t1), (r2, t2) = run(w, 1, 1, bench["run_seconds"]), run(w, 1, 1, bench["run_seconds"])
            counts = [n for n, m in r1["metrics"].items() if m["unit"] == "count"]
            entry["traced_run_seconds_taken"] = [round(t1, 1), round(t2, 1)]
            entry["traced"] = {n: [r1["metrics"][n]["value"], r2["metrics"][n]["value"]]
                               for n in r1["metrics"]}
            entry["counts_repeat_exactly"] = {n: r1["metrics"][n]["value"] == r2["metrics"][n]["value"]
                                              for n in counts}
            same = sum(entry["counts_repeat_exactly"].values())
            print(f"  {w}: {same}/{len(counts)} count metrics repeat exactly", file=sys.stderr)
        report["workloads"][w] = entry
    Path(a.out).parent.mkdir(parents=True, exist_ok=True)
    Path(a.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
