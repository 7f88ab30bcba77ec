#!/usr/bin/env python3
"""Local stand-in for the driver's t2 oracle gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [key ...]

Reads oracle_sql.json written by graft.Verify, registers the sfDir parquet
tables as DuckDB views, runs each oracle SQL, and compares against the
Spark-written parquet under <verifyOutDir>/<key>/ — columns sorted by name,
exact value equality (NaN==NaN), row order as produced. A named key with no
entry in oracle_sql.json fails.
"""
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    n_pass = n_fail = 0
    # a key named on the command line without an oracle (a typo, or a key
    # whose oracle is None) fails loudly instead of counting as skipped
    missing = sorted(only - set(oracles))
    for key in missing:
        print(f"FAIL {key}: no oracle SQL")
        n_fail += 1
    for key in sorted(oracles):
        if only and key not in only:
            continue
        sql = oracles[key]
        # Permanent oracle OUTPUT-TYPE gate (round-11): the driver's DuckDB
        # hashes HUGEINT/DECIMAL columns differently from the local build even
        # when values match (r9/r10's only reds were exactly the four HUGEINT
        # emitters). Any wide/decimal output column must be CAST in the oracle.
        try:
            desc = con.execute("DESCRIBE " + sql).fetchall()
        except Exception as e:
            print(f"FAIL {key}: oracle DESCRIBE error: {e}")
            n_fail += 1
            continue
        bad_types = [(c, t) for c, t, *_ in desc
                     if t in ("HUGEINT", "UHUGEINT")
                     or t.startswith("DECIMAL")]
        if bad_types:
            print(f"FAIL {key}: oracle emits non-portable output types "
                  f"{bad_types} — wrap in CAST(... AS BIGINT/DOUBLE)")
            n_fail += 1
            continue
        try:
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {key}: oracle error: {e}")
            n_fail += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{key}/*.parquet'").fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {key}: spark output unreadable: {e}")
            n_fail += 1
            continue
        wc, gc = sorted(want.column_names), sorted(got.column_names)
        if wc != gc:
            print(f"FAIL {key}: columns differ: oracle={wc} spark={gc}")
            n_fail += 1
            continue
        if want.num_rows != got.num_rows:
            print(f"FAIL {key}: rows differ: oracle={want.num_rows} "
                  f"spark={got.num_rows}")
            n_fail += 1
            continue
        wrows = [tuple(norm(v) for v in row)
                 for row in zip(*[want.column(c).to_pylist() for c in wc])]
        grows = [tuple(norm(v) for v in row)
                 for row in zip(*[got.column(c).to_pylist() for c in gc])]
        bad = next((i for i, (a, b) in enumerate(zip(wrows, grows))
                    if a != b), None)
        if bad is not None:
            print(f"FAIL {key}: first diff at row {bad}:")
            print(f"  oracle: {wrows[bad]}")
            print(f"  spark : {grows[bad]}")
            wt = [str(want.column(c).type) for c in wc]
            gt = [str(got.column(c).type) for c in gc]
            if wt != gt:
                print(f"  types : oracle={wt}")
                print(f"          spark ={gt}")
            n_fail += 1
        else:
            print(f"PASS {key} ({want.num_rows} rows)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed, "
          f"{len(oracles) - n_pass - (n_fail - len(missing))} skipped")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
