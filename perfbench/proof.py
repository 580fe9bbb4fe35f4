#!/usr/bin/env python3
"""Repeat the benchmark and report each end-to-end metric's median and spread
(the distance between the first and third quartile, as a share of the
median, from statistics.quantiles(values, n=4)).

    python3 perfbench/proof.py --seeds 1-10 [--sets N] [--workloads a,b]
        [--seconds 10] [--trace-seed N] [--out FILE.jsonl]

Runs the workloads interleaved, seed by seed, so that slow spells of a shared
host fall on every workload alike. --sets N splits the seeds into N sets of
consecutive seeds, runs the sets interleaved (1-20 in 2 sets: 1, 11, 2, 12,
...), reports each set, and how far each set's median is from the first
set's, in the metric's worse direction, as a share of the first. With
--trace-seed, one traced run per workload follows. Every run's result line is
appended to --out.
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


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    t = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    summary = [l for l in p.stderr.splitlines() if f"{workload} seed=" in l or "failed op" in l
               or "ops attempted" in l]
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": time.time() - t,
            "exit": p.returncode, "result": result, "log": summary,
            "stderr_tail": p.stderr.splitlines()[-5:] if p.returncode else []}


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace-seed", type=int)
    ap.add_argument("--out", default=os.path.join(HERE, ".work", "proof.jsonl"))
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    records = []
    with open(a.out, "a") as out:
        all_seeds = seeds(a.seeds)
        per = len(all_seeds) // a.sets
        sets = [all_seeds[k * per:(k + 1) * per] for k in range(a.sets)]
        plan = [(w, st[i], 0) for i in range(per) for st in sets for w in workloads]
        plan += [(w, a.trace_seed, 1) for w in workloads] if a.trace_seed is not None else []
        for w, s, tr in plan:
            rec = run(w, s, a.seconds, tr)
            records.append(rec)
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(f"{w} seed={s} trace={tr} exit={rec['exit']} wall={rec['wall_s']:.1f}s "
                  f"correct={rec['result'] and rec['result']['correct']}", file=sys.stderr, flush=True)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    for w in workloads:
        for name, m in metrics.items():
            bound, first = m["bound"], None
            for k, st in enumerate(sets):
                vals = [r["result"]["metrics"][name]["value"] for r in records
                        if r["workload"] == w and r["trace"] == 0 and r["result"] and r["seed"] in st]
                if len(vals) < 2:
                    continue
                q = statistics.quantiles(vals, n=4)
                med = statistics.median(vals)
                spread = (q[2] - q[0]) / med if med else 0.0
                flag = "" if name == "setup_s" or spread < bound / 3 else (" over bound" if spread >= bound else " over bound/3")
                shift = ""
                if first is None:
                    first = med
                elif first:
                    worse = (med - first if m["better"] == "lower" else first - med) / first
                    shift = f" worse_than_set1={worse:+.3f}" + (" OVER BOUND" if worse > bound else "")
                print(f"{w:14s} {name:18s} set={k + 1} n={len(vals):2d} median={med:12.4f} "
                      f"spread={spread:.3f} bound={bound}{flag}{shift}")


if __name__ == "__main__":
    main()
