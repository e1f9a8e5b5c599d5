"""Steadiness helper: run one workload k times with consecutive seeds and
print, for every metric, the median, the quartiles, the interquartile
range as a share of the median and (max - min) / median, so that the
bounds in BENCHMARK.json are set from measured spread.

    python3 perfbench/steady.py --workload cep --runs 5 --seed 100
    python3 perfbench/steady.py --workload oltp --runs 3 --trace 1

With ``--trace 1`` every run is made twice, untraced and traced, and the
tracing overhead is printed as traced ``items_per_s`` against untraced.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=600, check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])


def spread(values: list[float]) -> dict[str, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else 0.0,
            "range_share": (max(values) - min(values)) / med if med else 0.0}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results: dict[int, list[dict]] = {0: [], 1: []}
    for i in range(args.runs):
        for trace in range(args.trace + 1):
            r = run_once(args.workload, args.seed + i, seconds, trace)
            results[trace].append(r)
            vals = {k: round(v["value"], 4) for k, v in r["metrics"].items()
                    if trace == 0 or k.startswith("trace.")}
            print(f"seed {args.seed + i} trace {trace}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)
    print(f"\n{args.workload}: {args.runs} runs of {seconds} s")
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'iqr/med':>9}"
          f"{'range/med':>10}{'bound':>7}")
    for name in results[0][0]["metrics"]:
        s = spread([r["metrics"][name]["value"] for r in results[0]])
        flag = "" if s["iqr_share"] < bounds.get(name, 1) / 3 else "  > bound/3"
        print(f"{name:<14}{s['median']:>12.4f}{s['q1']:>12.4f}{s['q3']:>12.4f}"
              f"{s['iqr_share']:>9.3f}{s['range_share']:>10.3f}"
              f"{bounds.get(name, float('nan')):>7}{flag}")
    if args.trace:
        plain = statistics.median(r["metrics"]["items_per_s"]["value"] for r in results[0])
        traced = statistics.median(r["metrics"]["trace.items_per_s"]["value"] for r in results[1])
        print(f"tracing overhead: traced items_per_s {traced:.4f} vs untraced {plain:.4f} "
              f"({100 * (1 - traced / plain):.1f}% slower)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
