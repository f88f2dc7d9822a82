#!/usr/bin/env python3
"""Validate the shop_analytics expected digests against DuckDB, once.

    python3 perfbench/oracle/validate.py

Run from the root of a full checkout (it uses tools/check.py's compare).
The benchmark JVM writes the generated shop tables, every call's Spark
result and its DuckDB SQL (perfbench.OracleDump); each result is compared
with DuckDB's answer over the same parquet tables, cell by cell. Only if
every call matches is perfbench/expected/shop_analytics.tsv rewritten with
each call's row count and order-independent digest, which the benchmark
then checks on every call it makes.
"""
import os
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb
import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE.parent.parent / "tools"))
import run  # noqa: E402  (perfbench/run.py: build and JVM flags)
from check import compare  # noqa: E402

TABLES = ["region", "nation", "customer", "part", "orders", "lineitem"]


def main():
    bdir = run.build_dir()
    cp = run.classpath(bdir)
    out = bdir / "oracle"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") else "java"
    cmd = [str(java), "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={out}"]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    subprocess.run(cmd + ["-cp", cp, "perfbench.OracleDump", str(out)], check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out}/tables/{t}.parquet/*.parquet')")
    bad, lines = 0, []
    for line in (out / "calls.tsv").read_text().splitlines():
        call, rows, digest, k, sql = line.split("\t")
        sdf = pd.read_parquet(out / "result" / k)
        problem = compare(call, sdf, con.sql(sql).df())
        print(f"  {'FAIL' if problem else 'ok  '} {call} ({len(sdf)} rows){': ' + problem if problem else ''}")
        bad += bool(problem)
        lines.append(f"{call}\t{rows}\t{digest}")
    if bad:
        print(f"== {bad} calls disagree with DuckDB; expected digests not written ==")
        return 1
    dest = HERE.parent / "expected" / "shop_analytics.tsv"
    dest.write_text("# call\trows\tdigest  (validated against DuckDB by oracle/validate.py)\n"
                    + "\n".join(lines) + "\n")
    print(f"== {len(lines)} calls agree with DuckDB; wrote {dest.relative_to(HERE.parent.parent)} ==")
    return 0


if __name__ == "__main__":
    sys.exit(main())
