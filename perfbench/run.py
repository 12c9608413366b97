#!/usr/bin/env python3
"""Benchmark of the refresh-and-serve pipeline and its neighbours.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It compiles the program (src/main/scala)
with the benchmark's JVM program, generates the workload's inputs from the
seed, runs one JVM for the workload, checks every output and prints one
JSON line last. Metric names and units come from BENCHMARK.json.

With --trace 0 the metrics are end to end, each over the workload's own
operation: a refresh (inventory_refresh), a lookup timed from its due time
(lookup_during_refresh), a registry row built to its full result
(registry_tail) or a micro-batch acknowledged by all three stores
(stream_replay).
  setup_s     median of the run's set-ups (three, except registry_tail's
              single cold pass)
  op_p50_ms   median operation
  op_tail_ms  tail percentile of the operation (TAIL_Q)
With --trace 1 the window is split in halves, untraced then traced, and
the metrics are the per-layer ones, zero where the workload does not reach
the layer. Build output and per-run work files live under $CARGO_TARGET_DIR
(default .bench_build).

lookup_during_refresh runs but is not listed in BENCHMARK.json: on a shared
4-vCPU host its lookup p50 (about 1.5 us, memory-latency bound) and p99.9
spread 0.2-0.3 between runs, above the 0.25 cap on a bound.
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

import build
import gen
import stats

LOOKUP_RATE = 20_000

# Rows of the registry's expensive tail and of its largest count-vs-noop
# gaps that fit one run; `operators.du` is reached through du_by_address.
REGISTRY_ROWS = [
    "q_neighbor_jaccard", "q_recursive_bfs", "dedup_minhash_lsh", "mm_phash_dup",
    "text_tokens", "emb_anisotropy", "du_by_address",
]

# Spark cores per workload (nproc is 4). lookup_during_refresh leaves two to
# the lookup generator and the handler's refresh thread, so their stalls come
# from the snapshot swap and its GC rather than from an oversubscribed CPU.
CORES = {"inventory_refresh": 4, "lookup_during_refresh": 2, "registry_tail": 4,
         "stream_replay": 4}

# Percentile each workload's tail reports. A run holds about a dozen
# refreshes, batches or row builds, so p90 is the highest with a sample
# beyond it; the lookup stream has ~240k samples that stall only around
# snapshot swaps, so p99.9 sits inside those stalls where p99 straddles
# their edge.
TAIL_Q = {"inventory_refresh": 90, "lookup_during_refresh": 99.9, "registry_tail": 90,
          "stream_replay": 90}

# Layers whose self time the traced run reports, by span-name prefix.
LAYERS = ["sources", "operators.du", "registry", "streaming"]


def generate(workload, seed, seconds, inp):
    """Write the workload's inputs; return what the checks need."""
    if workload in ("inventory_refresh", "lookup_during_refresh"):
        root = os.path.join(inp, "inv")
        inv = gen.inventory(root, seed)
        if workload == "lookup_during_refresh":
            inv["lookups"] = gen.lookups(root, inv, int(LOOKUP_RATE * (seconds + 2)))
        return inv
    if workload == "registry_tail":
        gen.fixture(os.path.join(inp, "fixture"), seed)
    else:
        gen.fixture(os.path.join(inp, "fixture"), seed, docs=4000, events=8000)
    return {}


def jvm(build_dir, workload, seed, seconds, trace, inp, out):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = build.java_cmd(build_dir, tmp) + [
        "--workload", workload, "--seed", str(seed), "--input", inp, "--out", out,
        "--seconds", str(seconds), "--trace", str(trace),
        "--cores", str(CORES[workload]), "--rate", str(LOOKUP_RATE),
        "--rows", ",".join(REGISTRY_ROWS)]
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=150)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def check_registry(inp, out, rows):
    """Compare each row's result with its oracle SQL run in DuckDB, using
    the repository's own comparison (tools/check.py)."""
    import importlib.util
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location("check", os.path.join("tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    fx = os.path.join(inp, "fixture")
    con = duckdb.connect()
    for t in check.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fx}/{t}.parquet'")
    with open(os.path.join(out, "rows", "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = []
    for name in rows:
        rel = con.sql(oracle[name])
        exp = rel.df()
        got = pd.read_parquet(os.path.join(out, "rows", name))
        msg = check.dtype_gate(rel, exp, got) or check.compare(name, exp, got)
        if msg:
            failures.append(f"{name}: {msg}")
    return failures


def self_times(path):
    """Self time per layer: each span's duration minus the time its child
    spans cover, summed by the layer the span's name starts with."""
    spans = {}
    with open(path) as f:
        for line in f:
            _, sid, parent, name, t0, t1 = line.rstrip("\n").split(",")
            spans[int(sid)] = (int(parent), name, int(t1) - int(t0))
    child = collections.Counter()
    for parent, _, d in spans.values():
        if parent:
            child[parent] += d
    out = collections.Counter()
    for sid, (_, name, d) in spans.items():
        layer = next((lay for lay in sorted(LAYERS, key=len, reverse=True)
                      if name.startswith(lay + ".")), None)
        if layer:
            out[layer] += d - child[sid]
    return {f"self.{lay}_s": out[lay] / 1e9 for lay in LAYERS}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(CORES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    build.build(os.getcwd(), build_dir)
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    inp, out = os.path.join(work, "in"), os.path.join(work, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(inp)
    os.makedirs(out)
    try:
        load0 = os.getloadavg()[0]
        t0 = time.time()
        inputs = generate(a.workload, a.seed, a.seconds, inp)
        t1 = time.time()
        res = jvm(build_dir, a.workload, a.seed, a.seconds, a.trace, inp, out)
        t2 = time.time()
        failures = list(res["failures"])
        failed = len(failures)
        attempted = res["attempted"]
        ops, ops_traced = res["op_ms"], res["op_ms_traced"]
        if a.workload == "lookup_during_refresh":
            rec = np.fromfile(os.path.join(out, "lookups.rec"), dtype="<i8").reshape(-1, 6)
            bad = stats.lookup_failures(inputs["lookups"][: len(rec)], rec[:, 3], rec[:, 4],
                                        inputs["truth"]["A"], inputs["truth"]["B"])
            attempted += len(rec)
            failed += bad
            failures += [f"{bad} lookups matched neither delivery"] if bad else []
            latency, lateness = stats.open_loop_times(rec[:, 0], rec[:, 1], rec[:, 2])
            traced = rec[:, 5] == 1
            ops, ops_traced = (latency[~traced] / 1e6).tolist(), (latency[traced] / 1e6).tolist()
            res["generator_late_p99_us"] = float(np.percentile(lateness, 99)) / 1e3
        if a.workload == "registry_tail":
            bad = check_registry(inp, out, REGISTRY_ROWS)
            attempted += len(REGISTRY_ROWS)
            failed += len(bad)
            failures += bad
        load1 = os.getloadavg()[0]
        for f in failures[:20]:
            print(f"check failed: {f}", file=sys.stderr)
        print(json.dumps({"window": {"workload": a.workload, "seed": a.seed,
                                     "master": res["master"], "load_start": load0, "load_end": load1,
                                     "jvm_gc_s": res["gc_s"], "gen_s": round(t1 - t0, 2),
                                     "jvm_s": round(t2 - t1, 2)},
                          "setup_samples_s": res["setup_s"], "ops": len(ops),
                          "generator_late_p99_us": res.get("generator_late_p99_us")}))
        with open("BENCHMARK.json") as f:
            bench = json.load(f)
        if a.trace:
            values = dict(res["layer"])
            values.update(self_times(os.path.join(out, "spans.csv")))
            base = stats.median(ops)
            values["trace.overhead_share"] = (stats.median(ops_traced) - base) / base
            values["fail_share"] = failed / attempted
            wanted = bench["per_layer"]
        else:
            values = {"setup_s": stats.median(res["setup_s"]),
                      "op_p50_ms": stats.percentile(ops, 50),
                      "op_tail_ms": stats.percentile(ops, TAIL_Q[a.workload])}
            wanted = bench["end_to_end"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
        print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
