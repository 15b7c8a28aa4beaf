#!/usr/bin/env python3
"""Regenerate perfbench/pins.tsv: the expected (row count, hash) of every
query and drain the query_mix workload runs, over the fixture.

Usage (from the root of the checkout):
  python3 perfbench/pin.py <query name>...

Spark computes each result's hash (perfbench.Pin). Where the engine has
an oracle SQL for the query, DuckDB runs it over the same fixture files
and its rows, rendered the same way, must give the same count and hash;
a disagreement is reported and nothing is written.
"""
import datetime
import decimal
import hashlib
import json
import sys
from pathlib import Path

import run

FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents"]
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def num(d):
    if d != d:
        return "NaN"
    if d in (float("inf"), float("-inf")):
        return "Inf" if d > 0 else "-Inf"
    q = decimal.Decimal(repr(d)).quantize(decimal.Decimal("0.001"), decimal.ROUND_HALF_EVEN)
    return f"{int(q.scaleb(3))}e-3"


def cell(v):
    """Mirror of RowHash.cell in the harness."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return num(v)
    if isinstance(v, decimal.Decimal):
        return num(float(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return str((v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def result_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        s = "\u001f".join(f"{cols[i]}={cell(r[i])}" for i in order)
        total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
    return len(rows), f"{total % (1 << 64):016x}"


def duckdb_hashes(fixture, queries):
    import duckdb
    con = duckdb.connect()
    # Never reach for an extension that is not built in.
    con.execute("SET autoinstall_known_extensions=false")
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet/*.parquet')")
    out = {}
    for q in queries:
        if q.get("oracle_sql"):
            rel = con.sql(q["oracle_sql"])
            out[q["name"]] = result_hash([d[0] for d in rel.description], rel.fetchall())
    return out


def main(names):
    run.require_engine()
    pins = run.HERE / "pins.tsv"
    if not names:
        names = [l.split("\t")[0] for l in pins.read_text().splitlines()
                 if l and not l.startswith("#")]
    dump = (run.BUILD / "pins.json").resolve()
    work = (run.BUILD / "pinwork").resolve()
    try:
        if run.run_jvm("perfbench.Pin", [str(work), str(dump)] + names, 1800) != 0:
            run.fail("pin run failed")
        res = json.loads(dump.read_text())
        oracle = duckdb_hashes(res["fixture"], res["queries"])
    finally:
        run.clean(work)
    lines, bad = ["# name\trows\thash\tchecked against"], 0
    for q in res["queries"]:
        if "error" in q:
            run.log(f"{q['name']}: query failed: {q['error']}")
            bad += 1
            continue
        got = (q["rows"], q["hash"])
        if q["name"] in oracle and oracle[q["name"]] != got:
            run.log(f"{q['name']}: spark {got} disagrees with duckdb {oracle[q['name']]}")
            bad += 1
            continue
        lines.append(f"{q['name']}\t{q['rows']}\t{q['hash']}\t"
                     f"{'duckdb' if q['name'] in oracle else 'spark only'}")
        run.log(f"{q['name']}: {got} {'duckdb agrees' if q['name'] in oracle else 'no oracle'}"
                f" ({q['seconds']:.2f} s)")
    if bad:
        run.fail(f"{bad} queries not pinned; pins.tsv left unchanged")
    pins.write_text("\n".join(lines) + "\n")


if __name__ == "__main__":
    main(sys.argv[1:])
