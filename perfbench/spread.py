#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end
metric's median, quartiles and spread (interquartile range over median)
against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workloads olap,ingest,pipeline --seeds 1-10

Runs go one after another, workloads interleaved within each seed.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="olap,ingest,pipeline")
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in seeds(args.seeds):
        for w in args.workloads.split(","):
            t0 = time.time()
            out = subprocess.run(
                [*bench["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            line = json.loads(out.stdout.strip().splitlines()[-1])
            print(f"{w} seed {seed}: {time.time() - t0:.1f} s, correct {line['correct']}",
                  file=sys.stderr, flush=True)
            for k, m in line["metrics"].items():
                values.setdefault(w, {}).setdefault(k, []).append(m["value"])
    for w, ms in values.items():
        for k, v in ms.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            print(f"{w:9s} {k:13s} n={len(v):2d} median={med:10.3f} "
                  f"q1={q1:10.3f} q3={q3:10.3f} spread={(q3 - q1) / med:.3f} "
                  f"bound={bounds.get(k)}")


if __name__ == "__main__":
    main()
