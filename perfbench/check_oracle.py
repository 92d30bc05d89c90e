#!/usr/bin/env python3
"""Cross-check perfbench/expected.json against the DuckDB oracle.

Usage, from the root of a checkout: python3 perfbench/check_oracle.py

For every benchmarked query that has an entry in `SparkEntry.oracleSql`,
runs that SQL in DuckDB over the workload's tables, computes the same
digest `PerfBench.scala` computes over the Spark result (see `Digest`
there) and compares it and the row count with expected.json. Exits 1 on
any mismatch.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

EPOCH = datetime.datetime(1970, 1, 1)


def num(d):
    if math.isnan(d):
        return "nan;"
    if math.isinf(d):
        return "inf;" if d > 0 else "-inf;"
    if d == math.floor(d) and abs(d) < 2.0 ** 63:
        return f"i{int(d)};"
    return "d" + format(struct.unpack(">Q", struct.pack(">d", d))[0], "x") + ";"


def enc(v):
    if v is None:
        return "N;"
    if isinstance(v, bool):
        return "t;" if v else "f;"
    if isinstance(v, int):
        return f"i{v};"
    if isinstance(v, float):
        return num(v)
    if isinstance(v, decimal.Decimal):
        n = v.normalize()
        if n == n.to_integral_value():
            return f"i{int(n)};"
        return "n" + format(n, "f") + ";"
    if isinstance(v, str):
        return f"s{len(v.encode('utf-8'))}:{v};"
    if isinstance(v, (bytes, bytearray)):
        return "b" + v.hex() + ";"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return f"T{(v - EPOCH) // datetime.timedelta(microseconds=1)};"
    if isinstance(v, datetime.date):
        return f"D{(v - EPOCH.date()).days};"
    if isinstance(v, list):
        return "[" + "".join(enc(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + "".join(enc(x) for x in v.values()) + "}"
    return f"?{v};"


def digest(names, rows):
    order = sorted(range(len(names)), key=lambda i: (names[i], i))
    total = 0
    for row in rows:
        s = "".join(enc(row[i]) for i in order)
        total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
    return format(total % 2 ** 64, "016x")


def main():
    root = os.getcwd()
    jars = run.spark_jars()
    classes = run.build(root, jars)
    out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", classes + os.pathsep + os.path.join(jars, "*"),
                          "perfbench.OracleSql"], check=True, stdout=subprocess.PIPE, text=True).stdout
    oracle = json.loads(out.strip().splitlines()[-1])
    expected = json.load(open(os.path.join(run.HERE, "expected.json")))
    bad = 0
    for wname, wl in sorted(run.CONFIG["workloads"].items()):
        con = duckdb.connect()
        data = os.path.join(root, wl["data"])
        for f in sorted(os.listdir(data)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data}/{f}')")
        for q in wl["queries"]:
            exp = expected[q]
            if q not in oracle:
                print(f"NO-ORACLE {wname}/{q}: rows {exp['rows']}")
                continue
            cur = con.execute(oracle[q])
            names = [d[0] for d in cur.description]
            rows = cur.fetchall()
            got = (len(rows), digest(names, rows))
            ok = got == (exp["rows"], exp["digest"]) or (exp["digest"] is None and got[0] == exp["rows"])
            bad += not ok
            print(f"{'PASS' if ok else 'FAIL'} {wname}/{q}: duckdb {got}, expected {(exp['rows'], exp['digest'])}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
