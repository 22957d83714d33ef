"""Oracle sweep: run every queries() entry on Spark and its oracle_sql()
on DuckDB, compare row count, column names, and order-insensitive values.
A gate that raises is recorded as a failure and the sweep goes on; the
exit status is non-zero if any gate failed. ``--evidence PATH`` writes
one row per gate run, in the CORRECTNESS_r*.json format.

Usage: python scripts/check_oracle.py [sf_dir] [query ...] [--evidence PATH]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import traceback

sys.path.insert(0, ".")

import duckdb

import __spark_entry__ as entrymod
from annotation_service_spark import caching
from annotation_service_spark.session import get_session


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def check_gate(spark, con, sf_dir, fn, oracle):
    """(evidence row, mismatch details) for one gate."""
    with caching.scope():  # the gate's caches go once its rows are in
        sdf = fn(spark, sf_dir)
        srows, scols = sdf.collect(), sdf.columns
    orel = con.sql(oracle)
    ocols, orows = [d[0] for d in orel.description], orel.fetchall()
    row = dict(rows_match=len(srows) == len(orows), schema_match=sorted(scols) == sorted(ocols),
               hash_match=False, spark_rows=len(srows), oracle_rows=len(orows), err=None)
    status = []
    if not row["rows_match"]:
        status.append(f"ROWCOUNT spark={len(srows)} duck={len(orows)}")
    if not row["schema_match"]:
        status.append(f"COLS spark={sorted(scols)} duck={sorted(ocols)}")
    if not status:
        a = norm_rows(scols, [[r[c] for c in scols] for r in srows])
        b = norm_rows(ocols, orows)
        row["hash_match"] = a == b
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            status.append(f"VALUES differ, first diffs: {diff}")
    return row, status


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("only", nargs="*", metavar="query")
    ap.add_argument("--evidence", metavar="PATH")
    args = ap.parse_args(argv)
    sf_dir = args.sf_dir
    if not os.path.isdir(sf_dir):
        ap.error(
            f"sf_dir {sf_dir!r} is not a directory"
            " (it comes first when gates are named)"
        )
    # data-dependent oracle literals (IVF centroids, embedding dim)
    # must come from the SAME sf dir the Spark side reads, or the
    # comparison is between two different queries
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)
    spark = get_session("oracle_check")
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entrymod.oracle_sql()
    evidence = {}
    for name, fn in entrymod.queries().items():
        if args.only and name not in args.only:
            continue
        try:  # a gate without an oracle fails with KeyError
            row, status = check_gate(spark, con, sf_dir, fn, oracles[name])
        except Exception as e:  # noqa: BLE001 — one gate must not end the sweep
            traceback.print_exc()
            msg = str(e).strip().partition("\n")[0][:500]
            err = f"{type(e).__name__}: {msg}"
            row = dict(rows_match=False, schema_match=False, hash_match=False,
                       spark_rows=None, oracle_rows=None, err=err)
            status = [err]
        evidence[name] = row
        if status:
            print(f"{name}: FAIL {' | '.join(status)}", flush=True)
        else:
            print(f"{name}: OK ({row['spark_rows']} rows)", flush=True)
    if args.evidence:
        with open(args.evidence, "w") as f:
            json.dump(evidence, f, indent=2)
    ok = sum(r["hash_match"] for r in evidence.values())
    print(f"{ok}/{len(evidence)} OK")
    return 0 if ok == len(evidence) else 1


if __name__ == "__main__":
    sys.exit(main())
