#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/steady.py --runs 10 [--trace 0|1] [--workloads ts_scan ilp_ingest] [--first-seed 1]

Runs each workload `--runs` times, one seed per run, one run at a time, and
prints per metric the median, first and third quartiles (Python's
statistics.quantiles, n=4) and the spread (Q3 - Q1) / median. The spread of
each end-to-end metric, against the bound BENCHMARK.json gives it, is what
decides whether the benchmark is steady. The full table is also written as
JSON to perfbench/target/steady-<trace>-<first seed>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    table = {}
    for w in a.workloads:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            r = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed),
                                                   "--seconds", str(bench["run_seconds"]),
                                                   "--trace", str(a.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            if r.returncode != 0:
                sys.exit(f"{w} seed {seed} exited {r.returncode}:\n{r.stderr[-3000:]}")
            res = json.loads(r.stdout.strip().splitlines()[-1])
            runs.append(res)
            print(f"{w} seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}", file=sys.stderr, flush=True)
        rows = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
            rows[name] = {"unit": runs[0]["metrics"][name]["unit"], "median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med if med else 0.0, "values": vals}
        table[w] = {"metrics": rows, "correct": all(r["correct"] for r in runs),
                    "failed_share": [r["failed"] / r["attempted"] for r in runs]}
        print(f"\n{w} ({a.runs} runs, trace {a.trace}, all correct: {table[w]['correct']})")
        print(f"| metric | unit | median | Q1 | Q3 | spread | bound/3 |")
        print("|---|---|---|---|---|---|---|")
        for name, s in rows.items():
            b = bounds.get(name)
            print(f"| {name} | {s['unit']} | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} | "
                  f"{s['spread']:.3f} | {'' if b is None else f'{b / 3:.3f}'} |", flush=True)
    with open(os.path.join(HERE, "target", f"steady-{a.trace}-{a.first_seed}.json"), "w") as f:
        json.dump(table, f, indent=1)


if __name__ == "__main__":
    main()
