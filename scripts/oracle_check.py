#!/usr/bin/env python3
"""Compare a `graft.Verify` output dir against its DuckDB oracle SQL.

Usage:
    sbt "runMain graft.Verify <sf_dir> <out_dir>"
    python3 scripts/oracle_check.py <sf_dir> <out_dir> [--json report.json]

Every `<sf_dir>/*.parquet` table is registered as a DuckDB view named after
the file, each entry of `<out_dir>/oracle_sql.json` is run, and the result is
compared with the Spark output in `<out_dir>/<entry>/`. Per entry it reports
the fields of the CORRECTNESS records:

  rows_match    same row count
  schema_match  same column names, and each column in the same type family
  hash_match    identical rows in identical order (columns by name, floats
                rounded to 4 decimals, as the oracle SQL rounds)

Exit status is 0 only when every entry matches on all three.
"""
import argparse
import datetime
import decimal
import glob
import hashlib
import json
import os
import sys

import duckdb

FAMILIES = [
    ("int", ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT")),
    ("float", ("FLOAT", "DOUBLE", "DECIMAL")),
    ("string", ("VARCHAR",)),
    ("binary", ("BLOB",)),
    ("bool", ("BOOLEAN",)),
    ("time", ("DATE", "TIMESTAMP", "TIMESTAMP WITH TIME ZONE")),
]


def family(duck_type):
    t = str(duck_type).upper()
    if t.endswith("[]"):
        return "list<" + family(t[:-2]) + ">"
    if t.startswith("STRUCT"):
        return "struct"
    if t.startswith("MAP"):
        return "map"
    for name, members in FAMILIES:
        if any(t == m or t.startswith(m + "(") for m in members):
            return name
    return t


def norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (float, decimal.Decimal)):
        return round(float(v), 4) + 0.0  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        return {k: norm(x) for k, x in sorted(v.items())}
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def table(rel):
    """(sorted (column, type family) pairs, normalized rows)."""
    cols = sorted(zip(rel.columns, rel.types), key=lambda c: c[0])
    order = [rel.columns.index(c) for c, _ in cols]
    rows = [[norm(r[i]) for i in order] for r in rel.fetchall()]
    return [(c, family(t)) for c, t in cols], rows


def digest(rows):
    return hashlib.sha256(json.dumps(rows, default=str).encode()).hexdigest()


def check(con, out_dir, name, sql):
    rec = {"rows_match": False, "schema_match": False, "hash_match": False,
           "spark_rows": None, "oracle_rows": None, "err": None}
    try:
        parts = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not parts:
            raise RuntimeError("no Spark output")
        got_schema, got = table(con.read_parquet(parts))
        want_schema, want = table(con.sql(sql))
        rec["spark_rows"], rec["oracle_rows"] = len(got), len(want)
        rec["rows_match"] = len(got) == len(want)
        rec["schema_match"] = got_schema == want_schema
        rec["hash_match"] = digest(got) == digest(want)
    except Exception as e:  # one broken entry must not hide the others
        rec["err"] = f"{type(e).__name__}: {e}"
    return rec


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--json", help="also write the per-entry report here")
    a = ap.parse_args()

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(a.sf_dir, "*.parquet"))):
        view = os.path.splitext(os.path.basename(path))[0]
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')")
    with open(os.path.join(a.out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    report = {name: check(con, a.out_dir, name, sql)
              for name, sql in sorted(oracle.items())}
    for name, r in report.items():
        print(f"{name:26s} rows_match={r['rows_match']!s:5s} "
              f"schema_match={r['schema_match']!s:5s} "
              f"hash_match={r['hash_match']!s:5s} "
              f"rows={r['spark_rows']}/{r['oracle_rows']}"
              + (f" err={r['err']}" if r["err"] else ""))
    ok = [n for n, r in report.items()
          if r["rows_match"] and r["schema_match"] and r["hash_match"]]
    print(f"{len(ok)}/{len(report)} entries match")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(report, f, indent=2, sort_keys=True)
    sys.exit(0 if len(ok) == len(report) else 1)


if __name__ == "__main__":
    main()
