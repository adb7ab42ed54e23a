#!/usr/bin/env python3
"""Steadiness check: run one workload under several seeds and report,
per end-to-end metric, the median and the interquartile range as a
share of the median (statistics.quantiles(values, n=4)), next to the
metric's bound in BENCHMARK.json; the same for warm_s, which is
reported in the context line but not gated.

    python3 perfbench/tools/spread.py curation 10 [first_seed]

Run from the root of a graft checkout. Every run's last line is kept in
.bench_build/spread/<workload>.jsonl.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def main():
    workload, n = sys.argv[1], int(sys.argv[2])
    first = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    bounds["warm_s"] = None
    out_dir = os.path.join(ROOT, ".bench_build", "spread")
    os.makedirs(out_dir, exist_ok=True)
    values = {k: [] for k in bounds}
    with open(os.path.join(out_dir, f"{workload}.jsonl"), "a") as log:
        for seed in range(first, first + n):
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            if r.returncode != 0:
                print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            lines = r.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            context = json.loads(lines[-2])["context"]
            log.write(json.dumps({"seed": seed, **res}) + "\n")
            for k in values:
                values[k].append(res["metrics"][k]["value"] if k in res["metrics"]
                                 else context[k])
            print(f"seed {seed}: correct={res['correct']} failed={res['failed']} "
                  + " ".join(f"{k}={v[-1]:.3f}" for k, v in values.items()), flush=True)
    for k, v in values.items():
        if len(v) < 4:
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{k:10s} median {statistics.median(v):9.3f}  iqr/median {(q3 - q1) / med:6.3f}"
              f"  bound {bounds[k] or 'none'}")


if __name__ == "__main__":
    main()
