#!/usr/bin/env python3
"""Local differential harness mimicking the driver's correctness gate:
run graft.Verify first (writes <out>/<query>.parquet + oracle_sql.json),
then this script executes each oracle SQL in DuckDB over the same tables
and compares (columns sorted by name, rows sorted, values hashed).

Usage: python3 tools/check.py /root/testdata/sf0.01 /tmp/verify_out \
           [--json bench_out/correctness_rNN.json]

--json writes the per-query record (pass/status/rows) so each round's
correctness evidence is self-recorded even if the driver's artifact
comes back empty (round-10 process defect).
"""
import glob
import json
import math
import os
import struct
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        # Driver-strict: compare IEEE bit patterns (NaN-canonicalized), so
        # -0.0 != +0.0 here just like in the driver's hash gate. A plain
        # == let q162's -0.0/+0.0 split ship in round 5.
        if math.isnan(a) and math.isnan(b):
            return True
        return struct.pack("<d", a) == struct.pack("<d", b)
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b or str(a) == str(b)


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame):
    sa, sb = canon(spark_df), canon(duck_df)
    if list(sa.columns) != list(sb.columns):
        return f"COLUMNS spark={list(sa.columns)} duck={list(sb.columns)}"
    if len(sa) != len(sb):
        return f"ROWS spark={len(sa)} duck={len(sb)}"
    for ci, c in enumerate(sa.columns):
        av, bv = sa[c].tolist(), sb[c].tolist()
        for ri in range(len(av)):
            if not values_equal(av[ri], bv[ri]):
                return (f"VALUE col={c} row={ri} spark={av[ri]!r} duck={bv[ri]!r}")
    return None


def check_query(con, oracles, name: str, qdir: str) -> str:
    """One query's status line: OK/rows-only, or why it failed."""
    files = glob.glob(os.path.join(qdir, "*.parquet"))
    if not files:
        return "NO-SPARK-OUTPUT"
    spark_df = pd.concat([pd.read_parquet(p) for p in sorted(files)])
    if name not in oracles:
        return f"rows-only ({len(spark_df)} rows)" + (
            " EMPTY!" if len(spark_df) == 0 else "")
    try:
        duck_df = con.execute(oracles[name]).fetchdf()
    except Exception as e:  # noqa: BLE001
        return f"ORACLE-ERROR {e}"
    diff = compare(name, spark_df, duck_df)
    return diff or f"OK ({len(spark_df)} rows)"


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    json_out = None
    if "--json" in sys.argv:
        json_out = sys.argv[sys.argv.index("--json") + 1]
    con = duckdb.connect()
    # Pin the oracle-side negative-zero idiom (RoundReadoutSpec's DuckDB
    # twin): round keeps -0.0's sign bit, `+ 0.0` must clear it.
    raw, norm = con.execute(
        "SELECT round(-1e-9, 6), round(-1e-9, 6) + 0.0").fetchone()
    assert struct.pack("<d", norm) == struct.pack("<d", 0.0), (
        f"DuckDB round(x,k)+0.0 no longer normalizes -0.0: got {norm!r}")
    assert struct.pack("<d", raw) != struct.pack("<d", 0.0), (
        "DuckDB round() stopped emitting -0.0 — the +0.0 idiom is moot; "
        "revisit the rdz sweep rationale")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    record = {}
    for qdir in sorted(glob.glob(os.path.join(out_dir, "q*"))):
        name = os.path.basename(qdir)
        status = check_query(con, oracles, name, qdir)
        ok = status.startswith("OK") or status.startswith("rows-only")
        passed = ok and "EMPTY" not in status
        record[name] = {"pass": passed, "status": status}
        # printed as decided (flushed): a redirected run shows progress
        print(f"{'PASS' if passed else 'FAIL':4} {name}: {status}",
              flush=True)
    bad = sum(not r["pass"] for r in record.values())
    print(f"\n{len(record) - bad}/{len(record)} pass")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_pass": len(record) - bad,
                       "n_total": len(record), "queries": record}, f,
                      indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
