#!/usr/bin/env python3
"""Regenerate ``perfbench/reference.json`` and check it against DuckDB.

    python3 perfbench/make_reference.py

Runs every graph_iterative query twice in one session on the benchmark's
tables and records each result's fingerprint (row count plus
an order-independent hash). A query whose two fingerprints differ is
nondeterministic and fails the check. Each result is also written as
parquet and, where the engine declares an oracle SQL for the query
(``SparkEntry.oracleSql``), compared with DuckDB's answer on the same
tables the way the engine's own oracle gate compares them. The reference file is written only when every
query is deterministic and every oracle agrees.
"""
import json
import os
import shutil
import sys

import duckdb

import run

HERE = os.path.dirname(os.path.abspath(__file__))


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(spark_dir, con, sql):
    """The engine's oracle gate (tools/verify_local.py): columns sorted by
    name, rows sorted, every column equal as strings."""
    mine = canon(con.execute(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").df())
    ref = canon(con.execute(sql).df())
    if list(mine.columns) != list(ref.columns):
        return f"columns {list(mine.columns)} != oracle {list(ref.columns)}"
    if len(mine) != len(ref):
        return f"{len(mine)} rows != oracle {len(ref)}"
    bad = [c for c in mine.columns if not (mine[c].astype(str) == ref[c].astype(str)).all()]
    return f"value mismatch in {bad}" if bad else None


def main():
    os.makedirs(run.WORK, exist_ok=True)
    classpath = run.build()
    data = run.DATA
    work = os.path.join(run.WORK, "reference")
    shutil.rmtree(work, ignore_errors=True)
    dump = os.path.join(work, "dump")
    os.makedirs(dump)
    out = os.path.join(work, "fingerprints.json")
    args = ["--record", "1", "--repeat", "1", "--dump", dump, "--cores", "4",
            "--data", data, "--work", work, "--out", out]
    code = run.jvm(classpath, args, work, 900, os.path.join(work, "jvm.log"))
    if code != 0:
        sys.exit(f"record run failed (exit {code}); see {work}/jvm.log")
    fps = json.load(open(out))
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    con = duckdb.connect()
    for f in os.listdir(data):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data}/{f}')")
    bad = 0
    for name in sorted(fps):
        if name not in oracle:
            print(f"ROWS {name} {fps[name]} (no oracle)")
            continue
        err = compare(os.path.join(dump, name), con, oracle[name])
        print(f"{'PASS' if err is None else 'FAIL'} {name} {fps[name]}" +
              ("" if err is None else f": {err}"))
        bad += err is not None
    log = open(os.path.join(work, "jvm.log")).read()
    nondet = [ln for ln in log.splitlines() if "is not deterministic" in ln]
    for ln in nondet:
        print(ln)
    if bad or nondet:
        sys.exit(f"{bad} oracle mismatches, {len(nondet)} nondeterministic queries; "
                 "reference not written")
    with open(os.path.join(HERE, "reference.json"), "w") as f:
        json.dump(fps, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote reference.json: {len(fps)} fingerprints, "
          f"{sum(n in oracle for n in fps)} oracle-checked")


if __name__ == "__main__":
    main()
