#!/usr/bin/env python3
"""Steadiness set: runs every workload on N seeds, reports each end-to-end
metric's median and quartile spread against its bound, and writes the
set (every run with a host-speed probe stamp taken just before it, probe
stamps before and after the set, and one traced run per workload for the
per-layer reference) as JSON.

    python3 perfbench/steadiness.py --runs 10 --seed0 1 --out perfbench/baseline/set-a.json
    python3 perfbench/steadiness.py --runs 10 --seed0 101 --out perfbench/baseline/set-b.json \
        --compare perfbench/baseline/set-a.json

A spread is (Q3 - Q1) / median over the runs, with the quartiles of
Python's statistics.quantiles(values, n=4). Every spread, setup_s's
too, should stay under a third of its bound; with --compare, every
median should be no worse than the other set's by more than the bound.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(args):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py")] + args,
                       cwd=ROOT, capture_output=True, text=True)
    return p, time.time() - t0


def probe():
    p, _ = run(["--probe"])
    for line in p.stdout.splitlines():
        if line.startswith("probe_ms "):
            return int(line.split()[1])
    return None


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med, statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out", required=True)
    ap.add_argument("--compare")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    secs = str(spec["run_seconds"])

    result = {"host": {"cpus": os.cpu_count(), "machine": platform.machine(),
                       "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())},
              "run_seconds": spec["run_seconds"], "probe_ms_before": probe(),
              "workloads": {}}
    ok = True
    for w in workloads:
        runs = []
        for i in range(a.runs):
            seed = a.seed0 + i
            probe_ms = probe()
            p, wall = run(["--workload", w, "--seed", str(seed), "--seconds", secs, "--trace", "0"])
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            r = json.loads(last) if last.startswith("{") else {}
            runs.append({"seed": seed, "probe_ms": probe_ms, "exit": p.returncode,
                         "wall_s": round(wall, 1), **r})
            print(f"{w} seed={seed} probe={probe_ms}ms exit={p.returncode} wall={wall:.0f}s "
                  f"correct={r.get('correct')} "
                  + " ".join(f"{k}={v['value']}" for k, v in r.get("metrics", {}).items()),
                  flush=True)
            if not (p.returncode == 0 and r.get("correct") is True):
                ok = False
                print("\n".join(l for l in p.stdout.splitlines() if l.startswith("check_failed"))
                      or p.stderr[-3000:], flush=True)
        summary = {}
        for m, bound in bounds.items():
            vals = [r["metrics"][m]["value"] for r in runs if "metrics" in r]
            if len(vals) < 2:
                continue
            sp, med = spread(vals)
            steady = sp < bound / 3
            ok &= steady
            summary[m] = {"median": med, "spread": round(sp, 4), "bound": bound, "steady": steady}
            print(f"  {w} {m}: median={med:.4g} spread={sp:.3f} bound={bound} "
                  f"{'ok' if steady else 'TOO WIDE'}", flush=True)
        entry = {"runs": runs, "summary": summary}
        p, wall = run(["--workload", w, "--seed", str(a.seed0), "--seconds", secs, "--trace", "1"])
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        entry["traced"] = {"seed": a.seed0, "exit": p.returncode, "wall_s": round(wall, 1),
                           **(json.loads(last) if last.startswith("{") else {})}
        result["workloads"][w] = entry
    result["probe_ms_after"] = probe()

    if a.compare:
        other = json.load(open(a.compare))
        for w, entry in result["workloads"].items():
            for m, s in entry["summary"].items():
                base = other["workloads"].get(w, {}).get("summary", {}).get(m)
                if not base:
                    continue
                worse = s["median"] / base["median"] - 1
                within = worse <= s["bound"]
                ok &= within
                print(f"  {w} {m}: median {s['median']:.4g} vs {base['median']:.4g} "
                      f"({worse:+.3f}, bound {s['bound']}) {'ok' if within else 'WORSE'}", flush=True)

    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
