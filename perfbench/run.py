#!/usr/bin/env python3
"""Run one workload of the lakehouse benchmark and print its result line.

    python3 perfbench/run.py --workload shop_lake --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt depends on the root
build) and caches the classpath under .bench_build/; later runs reuse it
while the sources are unchanged. Every run starts a fresh JVM.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer metrics with --trace 1). The full run record, with input
properties and per-kind counts, is kept under .bench_build/records. Exit code
0 means every operation returned and passed its output check; 1 means the
result line was printed but an operation failed; 2 means nothing could be
run (no program sources, build or JVM failure) and no result is printed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# The two benchmark workloads, and the four op mixes they combine (each also
# runnable alone, to look at one layer's mix in isolation).
WORKLOADS = ("shop", "llm_data", "shop_analytics", "shop_lake", "corpus_ingest", "media_decode")

# Spark 4 on JDK 17 needs these outside spark-submit (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    return ROOT / ".bench_build"


def source_fingerprint():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src", ROOT / "project", HERE / "project"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        if r.is_dir():
            files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath(bdir):
    """Build with sbt when the sources changed; return the runtime classpath."""
    cp_file, fp_file = bdir / "perfbench.classpath", bdir / "perfbench.fingerprint"
    fp = source_fingerprint()
    if cp_file.exists() and fp_file.exists() and fp_file.read_text() == fp:
        return cp_file.read_text().strip()
    bdir.mkdir(parents=True, exist_ok=True)
    log = bdir / "build.log"
    # scalac overflows sbt's default 1 MB thread stack on the program's
    # sources, and the launcher drops its own -Xss4M when SBT_OPTS sets -Xmx
    cmd = ["sbt", "--batch", "-J-Xss16M", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        try:
            # the build resolves from the local dependency cache only
            env = {**os.environ, "COURSIER_MODE": os.environ.get("COURSIER_MODE", "offline")}
            rc = subprocess.run(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=840, env=env).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build did not finish: {e}")
    lines = log.read_text(errors="replace").splitlines()
    cp = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cp:
        die(f"build failed (exit {rc}); see {log}")
    cp_file.write_text(cp[-1].strip())
    fp_file.write_text(fp)
    return cp[-1].strip()


def run_jvm(cp, bdir, a, work, record, spans):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") else "java"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [str(java), "-Xmx3g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dperfbench.expected={HERE / 'expected' / 'shop_analytics.tsv'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--record", str(record),
            "--work", str(work), "--tiny", "1" if a.tiny else "0",
            "--inject-failure", "1" if a.inject_failure else "0"]
    if spans:
        cmd += ["--spans", str(spans)]
    logs = bdir / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    with open(logs / f"{a.workload}-{a.seed}-t{a.trace}.log", "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=170)  # the run must end within 180 s
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs and one set-up (self-test)")
    ap.add_argument("--inject-failure", action="store_true",
                    help="make some operations throw or fail their check (self-test)")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no program sources under {ROOT}; run from the root of a checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bdir = build_dir()
    cp = classpath(bdir)

    work = bdir / "runs" / f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    records = bdir / "records"
    records.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}{'-tiny' if a.tiny else ''}{'-inj' if a.inject_failure else ''}"
    record = records / f"{tag}.json"
    record.unlink(missing_ok=True)
    spans = records / f"{tag}.spans.jsonl" if a.trace else None
    try:
        rc = run_jvm(cp, bdir, a, work, record, spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not record.exists():
        die(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; "
            f"see {bdir / 'logs'}")

    rec = json.loads(record.read_text())
    values = {**{k: v["value"] for k, v in rec["end_to_end"].items()}, **rec["per_layer"]}
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    for e in rec["errors"]:
        print(f"perfbench: failed: {e}", file=sys.stderr)
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
