#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at tiny size, untraced and
traced, must print every metric BENCHMARK.json names, with its unit, and
pass its output checks; a run with injected failing operations must count
them in `failed` and `ops_failed_frac`, keep them out of the latencies, and
exit non-zero.

    python3 perfbench/selftest.py [workload ...]   (default: the workloads of BENCHMARK.json)

Run from the root of a checkout; takes a few minutes (one JVM per run).
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(workload, trace, *extra):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "11",
           "--seconds", "2", "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def expect(ok, what):
    print(f"  {'ok  ' if ok else 'FAIL'} {what}")
    return ok


def check_metrics(res, wanted):
    got = res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    wrong = [m["name"] for m in wanted if m["name"] in got and got[m["name"]]["unit"] != m["unit"]]
    return not missing and not wrong and set(got) == {m["name"] for m in wanted}


def main(workloads):
    good = True
    for w in workloads:
        for trace, wanted in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
            rc, res, err = bench(w, trace)
            good &= expect(rc == 0 and res is not None and res["correct"] and res["failed"] == 0,
                           f"{w} trace={trace}: runs and passes its checks (exit {rc}) {err[-300:] if rc else ''}")
            if res is not None:
                good &= expect(check_metrics(res, wanted), f"{w} trace={trace}: every metric with its unit")
                if trace == 0:
                    good &= expect(all(res["metrics"][m["name"]]["value"] > 0 for m in wanted),
                                   f"{w}: every end-to-end metric is non-zero")
        recs = [run.build_dir() / "records" / f"{w}-s11-t{t}-tiny.json" for t in (0, 1)]
        fps = [json.loads(r.read_text())["properties"].get("landed_fingerprint") for r in recs if r.exists()]
        if len(fps) == 2 and fps[0] is not None:
            good &= expect(fps[0] == fps[1] != "", f"{w}: the landed corpus is the same in both runs of one seed")
    w = workloads[0]
    rc, res, _ = bench(w, 1, "--inject-failure")
    good &= expect(rc == 1 and res is not None and not res["correct"],
                   f"{w} with injected failures: result printed, exit 1 (exit {rc})")
    if res is not None:
        frac = res["metrics"]["ops_failed_frac"]["value"]
        good &= expect(res["failed"] > 0 and abs(frac - res["failed"] / res["attempted"]) < 1e-9,
                       f"{w} with injected failures: ops_failed_frac = {frac:.3f} = failed/attempted")
    rec_file = run.build_dir() / "records" / f"{w}-s11-t1-tiny-inj.json"
    if rec_file.exists():
        rec = json.loads(rec_file.read_text())
        good &= expect(rec["latency_samples"] == rec["attempted"] - rec["failed"],
                       f"{w} with injected failures: {rec['latency_samples']} latency samples = passing operations")
    print("== self-test passed ==" if good else "== self-test FAILED ==")
    return 0 if good else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or [w["name"] for w in SPEC["workloads"]]))
