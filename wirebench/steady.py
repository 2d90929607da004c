#!/usr/bin/env python3
"""Steadiness check of the wire-to-answer benchmark.

Runs every workload of BENCHMARK.json with several seeds and reports, per
end-to-end metric, the median, the quartiles and the interquartile spread
as a share of the median next to the metric's bound. With `--traced N`
it also makes N traced runs per workload and reports the tracing overhead
(traced medians minus untraced ones, from the end-to-end figures each
traced run writes into its span file).

    python3 wirebench/steady.py --runs 10 [--workloads serve batch] [--traced 3]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{r.stderr[-3000:]}")
    result = json.loads(r.stdout.strip().splitlines()[-1])
    if not trace:
        return {k: v["value"] for k, v in result["metrics"].items()}
    spans = os.path.join(ROOT, ".bench_run", "spans", f"{workload}-seed{seed}.jsonl")
    with open(spans) as fh:
        for line in fh:
            rec = json.loads(line)
            if "end_to_end" in rec:
                return {k: v["value"] for k, v in rec["end_to_end"].items()}
    raise SystemExit(f"{spans}: no end-to-end record")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--traced", type=int, default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    summary = {}
    for w in a.workloads:
        seeds = range(a.first_seed, a.first_seed + a.runs)
        runs, walls = [], []
        for s in seeds:
            t0 = time.monotonic()
            runs.append(one_run(w, s, bench["run_seconds"], 0))
            walls.append(time.monotonic() - t0)
        print(f"\n{w}: {a.runs} runs, seeds {seeds.start}..{seeds.stop - 1}, "
              f"wall time per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        print("| metric | unit | median | q1 | q3 | spread | bound |")
        print("|---|---|---|---|---|---|---|")
        summary[w] = {}
        for m in bounds:
            vals = [r[m] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            summary[w][m] = {"values": vals, "median": med, "q1": q1, "q3": q3, "spread": spread}
            print(f"| {m} | {units[m]} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                  f"{spread:.3f} | {bounds[m]} |")
        if a.traced:
            traced = [one_run(w, s, bench["run_seconds"], 1) for s in seeds[:a.traced]]
            print(f"\n{w}: tracing overhead over {a.traced} traced runs (traced median - untraced median)")
            print("| metric | unit | untraced | traced | overhead |")
            print("|---|---|---|---|---|")
            for m in bounds:
                t = statistics.median(r[m] for r in traced)
                u = summary[w][m]["median"]
                summary[w][m]["traced_median"] = t
                print(f"| {m} | {units[m]} | {u:.4g} | {t:.4g} | {t - u:+.4g} |")
    out = os.path.join(ROOT, ".bench_run", "steady.json")
    with open(out, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(f"\nraw values: {os.path.relpath(out, ROOT)}")


if __name__ == "__main__":
    main()
