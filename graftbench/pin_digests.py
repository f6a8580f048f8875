#!/usr/bin/env python3
"""Pin the gate_sweep result digests, checked against the DuckDB oracles.

Usage (from the repository root, after one benchmark run has built the
harness):  python3 graftbench/pin_digests.py

Runs graftbench.Pin, which generates the gate tables and writes each gate
query's Spark output, digest and oracle SQL (SparkEntry.oracleSql). Every
query's Spark output must equal its oracle's result in DuckDB, compared the
way scripts/selfcheck.py compares them; only then are the digests written to
gate_digests.json. Re-run it when the gate tables or queries change on
purpose.
"""
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402  (the harness's build and launch settings)


def selfcheck_canon():
    spec = importlib.util.spec_from_file_location("selfcheck", os.path.join(ROOT, "scripts", "selfcheck.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def main():
    cp = run.build(time.monotonic())
    work = os.path.join(run.TARGET, "pin")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java") if "JAVA_HOME" in os.environ else "java"
    subprocess.run([java, f"-Xmx{run.HEAP}", f"-Djava.io.tmpdir={work}/tmp", *run.ADD_OPENS, "-cp", cp,
                    "graftbench.Pin", work, str(len(os.sched_getaffinity(0)))],
                   check=True, stderr=subprocess.DEVNULL,
                   env={k: v for k, v in os.environ.items() if k not in run.UNSET_ENV})
    with open(os.path.join(work, "pin.json")) as f:
        pin = json.load(f)
    canon = selfcheck_canon()
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pin['tables']}/{t}.parquet/*.parquet')")
    bad = 0
    for name, sql in pin["oracles"].items():
        got = canon(con.execute(f"SELECT * FROM read_parquet('{work}/out/{name}/*.parquet')").df())
        want = canon(con.execute(sql).df())
        same = list(got.columns) == list(want.columns) and len(got) == len(want) and got.equals(want)
        print(f"{'PASS' if same else 'FAIL'} {name} ({len(got)} rows, oracle {len(want)})")
        bad += not same
    if bad:
        sys.exit(f"{bad} gate queries disagree with their oracles; digests not pinned")
    out = {"table_seed": 42, "digests": pin["digests"]}
    with open(os.path.join(HERE, "gate_digests.json"), "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
