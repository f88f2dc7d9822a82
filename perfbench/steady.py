#!/usr/bin/env python3
"""Steadiness and tracing-overhead report for the benchmark.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--sets 1] [--traced] [workload ...]

Runs each workload --runs times in fresh JVMs, one seed per run, and prints
for every end-to-end metric its median, quartiles and spread (the distance
between the first and third quartile as a share of the median, as
statistics.quantiles(values, n=4) gives them) next to the metric's bound.
With --sets 2 it then runs a second such set on the next --runs seeds and
prints how much worse each metric's second median is than its first, as a
share of the first, next to the bound: two sets of runs of one code must
agree within the bounds. With --traced it also makes one traced run per
seed and reports the tracing overhead as the median traced value minus the
median untraced one. Every run's result line and wall time are appended to
.bench_build/steady.jsonl.
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
sys.path.insert(0, str(HERE))
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def one(workload, seed, trace, seconds):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else None
    with open(run.build_dir() / "steady.jsonl", "a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
                            "wall_s": round(wall, 1), "result": res}) + "\n")
    if p.returncode != 0 or res is None:
        print(f"  {workload} seed {seed}: exit {p.returncode} {p.stderr.strip()[-400:]}")
    return res


def spread(vals):
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in SPEC["workloads"]])
    a = ap.parse_args()
    seconds = SPEC["run_seconds"]
    worst = 0.0
    medians = {}  # (set, workload) -> metric -> median
    for k, w in ((k, w) for k in range(a.sets) for w in a.workloads):
        first = a.first_seed + k * a.runs
        seeds = range(first, first + a.runs)
        res = [one(w, s, 0, seconds) for s in seeds]
        ok = [r for r in res if r and r["correct"]]
        print(f"{w} set {k + 1}, seeds {first}-{first + a.runs - 1}: {len(ok)}/{len(res)} runs correct, "
              f"attempted {sum(r['attempted'] for r in ok)}, failed {sum(r['failed'] for r in ok)}", flush=True)
        medians[k, w] = {}
        for m in SPEC["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in ok]
            if len(vals) < 2:
                continue
            med, q1, q3, sp = spread(vals)
            medians[k, w][m["name"]] = med
            flag = "" if sp <= m["bound"] / 3 else (" (above a third of the bound)" if sp <= m["bound"]
                                                     else " (ABOVE BOUND)")
            if m["name"] != "setup_s":
                worst = max(worst, sp / m["bound"])
            print(f"  {m['name']:>14} median {med:10.4g} {m['unit']:<4} q1 {q1:10.4g} q3 {q3:10.4g} "
                  f"spread {sp:6.3f} bound {m['bound']}{flag}", flush=True)
        if a.traced:
            traced = [r for r in (one(w, s, 1, seconds) for s in seeds) if r and r["correct"]]
            print(f"  traced: {len(traced)}/{len(res)} runs correct")
            # both run records hold the end-to-end values, traced or not
            recs = {t: [json.loads((run.build_dir() / "records" / f"{w}-s{s}-t{t}.json").read_text())
                        for s in seeds] for t in (0, 1)}
            for m in SPEC["end_to_end"]:
                u, t = (statistics.median(r["end_to_end"][m["name"]]["value"] for r in recs[tr]) for tr in (0, 1))
                print(f"  tracing overhead {m['name']:>14}: {t - u:+10.4g} {m['unit']} ({(t - u) / u:+.1%})")
    print(f"worst spread / bound (setup_s aside): {worst:.2f}")
    for k, w in ((k, w) for k in range(1, a.sets) for w in a.workloads):
        for m in SPEC["end_to_end"]:
            m0, m1 = medians[0, w].get(m["name"]), medians[k, w].get(m["name"])
            if m0 and m1:
                worse = (m1 - m0) / m0 * (1 if m["better"] == "lower" else -1)
                print(f"{w} set {k + 1} vs set 1 {m['name']:>14}: {m0:10.4g} -> {m1:10.4g} {m['unit']:<4} "
                      f"worse by {worse:+.3f} bound {m['bound']}{' (ABOVE BOUND)' if worse > m['bound'] else ''}")


if __name__ == "__main__":
    main()
