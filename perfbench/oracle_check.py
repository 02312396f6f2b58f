#!/usr/bin/env python3
"""Cross-check the kept fingerprints of the catalog calls (expected.json)
against the DuckDB oracle.

Usage, from the root of a checkout: python3 perfbench/oracle_check.py

It regenerates the fixed inputs of graph_loops and knn_search, runs each
catalog query's SparkEntry.oracleSql in DuckDB over them, fingerprints
the result exactly as perfbench/src/perfbench/Fingerprint.scala does, and
compares with expected.json. Exit code 0 when every one matches. The
benchmark does not run this; run it whenever expected.json changes.
"""
import decimal
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

import duckdb

import build

HERE = os.path.dirname(os.path.abspath(__file__))


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (float, decimal.Decimal)):
        return str(math.floor(float(v) * 1e6 + 0.5))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    for r in rows:
        s = "|".join(f"{names[i]}={canon(r[i])}" for i in order)
        total += int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
    return f"{len(rows)}:{total % 2 ** 64:016x}"


def main():
    classpath = build.build()
    work = os.path.join(build.BUILD, "oracle")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    sql_path = os.path.join(work, "oracle_sql.json")
    cmd = build.java(classpath, work, "perfbench.OracleDump", os.path.join(work, "data"), sql_path)
    subprocess.run(cmd, check=True, cwd=work, stdout=sys.stderr, stderr=subprocess.DEVNULL)
    with open(sql_path) as f:
        oracle = json.load(f)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    # parquet and ICU are built in; never fetch an extension
    con = duckdb.connect(config={"autoinstall_known_extensions": False})
    con.execute("SET TimeZone = 'UTC'")
    for t in ("customer", "orders", "lineitem", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/data/{t}.parquet/*.parquet')")
    bad = 0
    for call, q in sorted(oracle.items()):
        rel = con.sql(q["sql"])
        got = fingerprint(rel.columns, rel.fetchall())
        ok = expected.get(call) == got
        bad += not ok
        print(f"{'PASS' if ok else 'FAIL'} {call} ({q['query']}): oracle {got}, kept {expected.get(call)}")
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
