#!/usr/bin/env python3
"""Run a set of benchmark runs and report each metric's median and spread.

    python3 perfbench/sets.py run --set A --seeds 1-10
    python3 perfbench/sets.py report --set A [--against B]

`run` runs every workload of BENCHMARK.json at its run_seconds, once per
seed, and appends one JSON line per run to perfbench/out/sets/<set>.jsonl.
`report` prints, per workload and end-to-end metric, the median of the
set, the spread (interquartile distance over the median, as
statistics.quantiles(values, n=4) gives the quartiles), the bound from
BENCHMARK.json, and with --against the change of the median from the
other set (positive = worse).
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
SETS = os.path.join(HERE, "out", "sets")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(s):
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def run(a):
    b = spec()
    os.makedirs(SETS, exist_ok=True)
    wls = [w["name"] for w in b["workloads"]]
    secs = b["run_seconds"]
    with open(os.path.join(SETS, a.set + ".jsonl"), "a") as out:
        for w in wls:
            for s in seeds(a.seeds):
                t0 = time.time()
                p = subprocess.run(["python3", os.path.join(HERE, "run.py"), "--workload", w,
                                    "--seed", str(s), "--seconds", str(secs), "--trace", str(a.trace)],
                                   stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
                rec = {"workload": w, "seed": s, "exit": p.returncode,
                       "wall_s": round(time.time() - t0, 1)}
                try:
                    rec["result"] = json.loads(last)
                except ValueError:
                    rec["result"] = None
                out.write(json.dumps(rec) + "\n")
                out.flush()
                r = rec["result"] or {}
                print(w, s, p.returncode, rec["wall_s"], r.get("failed"), r.get("attempted"),
                      {k: round(v["value"], 3) for k, v in r.get("metrics", {}).items()}, flush=True)


def load(name):
    recs = [json.loads(l) for l in open(os.path.join(SETS, name + ".jsonl"))]
    by = {}
    for r in recs:
        if r.get("result"):
            by.setdefault(r["workload"], []).append(dict(r["result"], wall_s=r.get("wall_s", 0)))
    return by


def summary(results, metric):
    v = [r["metrics"][metric]["value"] for r in results if metric in r["metrics"]]
    med = statistics.median(v)
    if len(v) < 2:
        return med, float("nan"), len(v)
    q = statistics.quantiles(v, n=4)
    return med, (q[2] - q[0]) / med, len(v)


def report(a):
    b = spec()
    cur = load(a.set)
    other = load(a.against) if a.against else {}
    for w, results in cur.items():
        att = sum(r["attempted"] for r in results)
        fail = sum(r["failed"] for r in results)
        shares = sorted({r["failed"] / r["attempted"] for r in results})
        wall = statistics.mean(r["wall_s"] for r in results)
        print(f"{w}: {len(results)} runs, mean run wall {wall:.1f} s, attempted {att}, "
              f"failed {fail}, failed shares {shares}")
        for m in b["end_to_end"]:
            med, spread, n = summary(results, m["name"])
            line = f"  {m['name']:18s} median {med:12.4f} {m['unit']:7s} spread {spread:6.3f} bound {m['bound']}"
            if w in other:
                om, _, _ = summary(other[w], m["name"])
                worse = (med - om) / om if m["better"] == "lower" else (om - med) / om
                line += f"  vs {a.against}: {worse:+.3f}"
            print(line)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--set", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, default=0)
    p = sub.add_parser("report")
    p.add_argument("--set", required=True)
    p.add_argument("--against")
    a = ap.parse_args()
    run(a) if a.cmd == "run" else report(a)


if __name__ == "__main__":
    sys.exit(main())
