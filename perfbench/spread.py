#!/usr/bin/env python3
"""Run one workload on several seeds and report, for each end-to-end
metric, its median and the distance between its first and third quartile
as a share of the median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload inventory_refresh --seeds 1-10
"""
import argparse
import json
import statistics
import subprocess

import stats


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="first-last")
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    first, last = (int(x) for x in a.seeds.split("-"))
    values = {}
    for seed in range(first, last + 1):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        res = subprocess.run(cmd, capture_output=True, text=True, check=True)
        line = json.loads(res.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={line['correct']} failed={line['failed']} "
              + " ".join(f"{k}={v['value']:.6g}" for k, v in line["metrics"].items()), flush=True)
        for k, v in line["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, v in values.items():
        spread = stats.quartile_spread(v) if len(v) > 1 else float("nan")
        print(f"{k}: median {statistics.median(v):.6g} spread {spread:.3f} bound {bounds[k]}")


if __name__ == "__main__":
    main()
