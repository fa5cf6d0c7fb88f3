#!/usr/bin/env python3
"""Certifies the benchmark's expected outputs and writes expected.json.

Run once from the root of a checkout when the inputs, the op sets or the
engine's declared results change:

    python3 perfbench/certify.py

For `registry` it runs one pass of every op and
compares each written result with the op's DuckDB oracle SQL over the
same input tables (the comparison of tools/local_verify.py: columns
sorted by name, exact values, row order respected). An op whose result
matches is recorded with `"oracle": "duckdb"`; an op without oracle SQL
is recorded with the engine's own digest and `"oracle": null`; a
mismatch is reported and recorded with the oracle's digest, so the
benchmark counts it as failed. For `etl_release` it computes the
release counts from the inputs in DuckDB and compares them with one
release.
"""
import json
import os
import sys

import duckdb

import run

def views(con, d):
    for t in run.local_verify().TABLES:
        p = os.path.join(d, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{src}'")


def certify_queries(classes):
    workload = "registry"
    record, tables = run.run_jvm(classes, workload, 1, 0, 0, ["certify=1"])
    oracle = record["oracle_sql"]
    con, cache, out, bad = duckdb.connect(), {}, {}, []
    views(con, tables)
    for o in record["ops"]:
        if o["error"]:
            sys.exit(f"{workload}: {o['name']} failed: {o['error']}")
        got, rows = run.output_digest(con, o["attrs"]["out"], cache)
        sql = oracle.get(o["name"])
        if sql is None:
            out[o["name"]] = {"digest": got, "rows": rows, "oracle": None}
            continue
        want, wrows = run.rel_digest(con.sql(sql))
        if want != got:
            bad.append(o["name"])
        out[o["name"]] = {"digest": want, "rows": wrows, "oracle": "duckdb"}
    print(f"{workload}: {len(out)} ops, "
          f"{sum(1 for v in out.values() if v['oracle'])} oracle-certified, "
          f"{len(bad)} differ from the oracle: {bad}")
    return out


def certify_etl(classes):
    record, tables = run.run_jvm(classes, "etl_release", 1, 0, 0)
    o = record["ops"][0]
    if o["error"]:
        sys.exit(f"etl_release failed: {o['error']}")
    con = duckdb.connect()
    views(con, tables)
    # find_first over the chain runs/final > runs/initial: one ref per
    # order, the final-run ref for finished orders
    n = run.ETL_ORDERS
    refs, final = con.sql("SELECT count(*), count(*) FILTER (WHERE o_orderstatus"
                          f" = 'F') FROM orders WHERE o_orderkey < {n}").fetchone()
    # one link per exported dataset that has a datastore record: the
    # datastore holds only initial-run refs and keeps the first record
    # per dataset
    links = con.sql(f"""SELECT count(DISTINCT l_orderkey)
                       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                       WHERE o_orderstatus <> 'F' AND o_orderkey < {n}""").fetchone()[0]
    want = {"refs": refs, "final_winners": final, "links": links,
            "imported": refs}
    got = {k: o["attrs"][k] for k in want}
    if got != want:
        sys.exit(f"etl_release: release {got} differs from DuckDB {want}")
    want["report"] = o["attrs"]["report"]
    print(f"etl_release: {want}")
    return want


def main():
    os.makedirs(run.STATE, exist_ok=True)
    run.JVM_TIMEOUT_S = 1800
    classes = run.build()
    expected = {"registry": certify_queries(classes)}
    expected["etl_release"] = certify_etl(classes)
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
