#!/usr/bin/env python3
"""Steadiness check for one workload.

Runs two sets of runs of perfbench/run.py (seeds first..first+runs-1 in
each set) and reports, per end-to-end metric, each set's median and
quartiles, the spread (q3 - q1) / median, and whether the second set's
median is within the metric's bound of the first in the worse
direction. With --overhead it instead pairs one traced and one
untraced run per seed and reports the tracing overhead, traced minus
untraced as a share of untraced, per end-to-end metric: the median and
quartiles over the seeds, beside the untraced runs' own median and
spread.

Usage (from the root of a graft checkout):
    python3 perfbench/steady.py --workload cel_msgs [--runs 10]
        [--first-seed 1] [--overhead]

Every run measures for BENCHMARK.json's run_seconds.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import END_TO_END  # noqa: E402


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [json.loads(x) for x in p.stdout.splitlines() if x.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    result = lines[-1]
    if trace:
        return {k: v for x in lines for k, v in x.get("traced_end_to_end", {}).items()}, result
    return {k: v["value"] for k, v in result["metrics"].items()}, result


def describe(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def worse_by(m, first, second):
    """How much worse the second median is than the first, as a share."""
    d = (second - first) / first
    return d if m["better"] == "lower" else -d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]
    seeds = range(a.first_seed, a.first_seed + a.runs)

    if a.overhead:
        diffs = {m["name"]: [] for m in END_TO_END}
        plains = {m["name"]: [] for m in END_TO_END}
        for s in seeds:
            # alternate which run goes first, so a drift of the machine's
            # speed does not land on one side
            first, second = (1, 0) if s % 2 else (0, 1)
            runs = {t: run_once(a.workload, s, seconds, t)[0] for t in (first, second)}
            traced, plain = runs[1], runs[0]
            for m in END_TO_END:
                diffs[m["name"]].append((traced[m["name"]] - plain[m["name"]]) / plain[m["name"]])
                plains[m["name"]].append(plain[m["name"]])
        report = {}
        for k, v in diffs.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            report[k] = {"median": med, "q1": q1, "q3": q3, "values": v,
                         "untraced": describe(plains[k])}
            u = report[k]["untraced"]
            print(f"{k:20s} traced - untraced, share of untraced: median {med:+.3f} "
                  f"q1 {q1:+.3f} q3 {q3:+.3f} | untraced median {u['median']:.4g} "
                  f"spread {u['spread']:.3f}")
        print(json.dumps({"workload": a.workload, "overhead": report}))
        return

    sets = []
    for i in range(2):
        vals = {m["name"]: [] for m in END_TO_END}
        for s in seeds:
            v, _ = run_once(a.workload, s, seconds, 0)
            for k in vals:
                vals[k].append(v[k])
            print(f"set {i + 1} seed {s}: " + ", ".join(f"{k}={v[k]:.4g}" for k in vals),
                  file=sys.stderr, flush=True)
        sets.append({k: describe(x) for k, x in vals.items()})
    ok = True
    report = {}
    for m in END_TO_END:
        name, bound = m["name"], m["bound"]
        rows = [s[name] for s in sets]
        spread_ok = all(r["spread"] <= bound for r in rows)
        agree = worse_by(m, rows[0]["median"], rows[1]["median"]) <= bound
        ok &= spread_ok and agree
        report[name] = {"sets": rows, "bound": bound, "spread_ok": spread_ok, "agree": agree}
        print(f"{name:18s} bound {bound:.2f} | " + " | ".join(
            f"median {r['median']:.4g} q1 {r['q1']:.4g} q3 {r['q3']:.4g} spread {r['spread']:.3f}"
            for r in rows) + f" | spread {'ok' if spread_ok else 'TOO WIDE'}, "
            f"sets {'agree' if agree else 'DISAGREE'}")
    print(json.dumps({"workload": a.workload, "steady": ok, "metrics": report}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
