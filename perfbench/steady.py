#!/usr/bin/env python3
"""Repeat benchmark runs over seeds and summarize each metric's spread.

Usage, from the root of a checkout:

    python3 perfbench/steady.py --workloads ticks_open,docs_store --seeds 1-10 \\
        --seconds 10 --out perfbench/results/steady_a.json [--trace]

For every workload and metric it records the values, their median and
quartiles (`statistics.quantiles(values, n=4)`) and the spread: the
inter-quartile distance as a share of the median. With --trace it makes
traced runs instead and, given --against a summary of untraced runs,
reports the tracing overhead on each end-to-end metric.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import build_dir  # noqa: E402


def seeds(spec):
    """'1-10' or '1,1,2': a range or a list; a seed may repeat."""
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",")]


def summarize(values):
    med = statistics.median(values)
    if len(values) < 2:
        return {"values": values, "median": med}
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--cores", type=int)
    ap.add_argument("--against", help="summary of untraced runs, for the tracing overhead")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = {"seconds": args.seconds, "trace": args.trace, "cores": args.cores,
              "load1": os.getloadavg()[0], "workloads": {}}
    for w in args.workloads.split(","):
        runs = []
        for seed in seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(args.seconds),
                   "--trace", "1" if args.trace else "0"]
            if args.cores:
                cmd += ["--cores", str(args.cores)]
            t = time.time()
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            wall = time.time() - t
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"{w} seed {seed} failed ({p.returncode}):\n{p.stderr[-3000:]}")
            res = json.loads(lines[-1])
            info = [l for l in p.stderr.splitlines() if l.startswith(f"[perfbench] {w}:")]
            runs.append({"seed": seed, "wall_s": wall, "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()},
                         "info": info[-1] if info else ""})
            print(f"{w} seed {seed}: {wall:.1f}s {res['correct']} {runs[-1]['metrics']}",
                  file=sys.stderr, flush=True)
        names = list(runs[0]["metrics"])
        summary = {"runs": runs, "run_wall_s": summarize([r["wall_s"] for r in runs]),
                   "all_correct": all(r["correct"] for r in runs),
                   "metrics": {n: summarize([r["metrics"][n] for r in runs]) for n in names}}
        if args.trace:
            traced = [json.load(open(os.path.join(build_dir(), "trace", f"{w}-{s}.json")))
                      for s in seeds(args.seeds)]
            e2e = {k: statistics.median(t["end_to_end_traced"][k] for t in traced)
                   for k in traced[0]["end_to_end_traced"]}
            summary["end_to_end_traced"] = e2e
            summary["self_ms_by_span"] = traced[0]["self_ms_by_span"]
            summary["note"] = traced[0]["note"]
            if args.against:
                base = json.load(open(args.against))["workloads"].get(w)
                if base:
                    summary["trace_overhead"] = {
                        k: e2e[k] / base["metrics"][k]["median"] - 1.0
                        for k in e2e if k in base["metrics"]}
        result["workloads"][w] = summary
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1)


if __name__ == "__main__":
    main()
