#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
spread: the inter-quartile range of its values as a share of their median
(`statistics.quantiles(values, n=4)`), next to the metric's bound from
BENCHMARK.json.

    python3 perfbench/steadiness.py --runs 10 [--workload cypher_serve ...] [--first-seed 1]

Run from the root of a checkout. Writes every run's last stdout line to
`.bench_build/steadiness/<workload>.jsonl`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out_dir = os.path.join(".bench_build", "steadiness")
    os.makedirs(out_dir, exist_ok=True)
    for w in workloads:
        values, walls = {}, []
        with open(os.path.join(out_dir, f"{w}.jsonl"), "w") as log:
            for seed in range(args.first_seed, args.first_seed + args.runs):
                t0 = time.monotonic()
                r = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed), "--seconds",
                                                       str(bench["run_seconds"]), "--trace", "0"],
                                   capture_output=True, text=True)
                walls.append(time.monotonic() - t0)
                if r.returncode != 0:
                    print(f"{w} seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
                    continue
                last = json.loads(r.stdout.strip().splitlines()[-1])
                log.write(json.dumps(last) + "\n")
                if not last["correct"]:
                    print(f"{w} seed {seed}: correct=false failed={last['failed']}")
                for name, m in last["metrics"].items():
                    values.setdefault(name, []).append(m["value"])
        print(f"{w}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for name, vs in values.items():
            s = metrics.spread(vs) if len(vs) >= 2 else float("nan")
            b = bounds.get(name)
            flag = "" if b is None or s <= b / 3 else ("  > bound/3" if s <= b else "  > BOUND")
            print(f"  {name:14s} median {statistics.median(vs):12.4f}  spread {s:.4f}  bound {b}{flag}")


if __name__ == "__main__":
    main()
