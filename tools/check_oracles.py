"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare row count,
column names, and order-insensitive values. Usage:

    python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from sketch_spark.spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9) if not math.isnan(v) else "NaN"
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    spark = get_spark()
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"PASS(rows-only) {name}: {len(srows)} rows  [{time.time()-t0:.1f}s]")
            continue
        try:
            ores = con.sql(oracles[name])
            ocols = [d[0] for d in ores.description]
            # The driver hashes typed values: DuckDB HUGEINT (un-CAST sum())
            # hashes differently from Spark BIGINT even when values are equal
            # (round-1 gate failure; CLAUDE.md gotcha #5). Catch it here.
            bad_types = [
                (d[0], str(t))
                for d, t in zip(ores.description, ores.types)
                if str(t) in ("HUGEINT", "UHUGEINT", "TINYINT", "SMALLINT", "UINTEGER", "UBIGINT", "FLOAT")
            ]
            if bad_types:
                failures.append((name, f"oracle column types need CAST: {bad_types}"))
                print(f"FAIL {name}: oracle column types need CAST: {bad_types}")
                continue
            orows = ores.fetchall()
        except Exception as e:
            failures.append((name, f"oracle error: {e}"))
            print(f"FAIL {name}: oracle error: {e}")
            continue
        ok = True
        if sorted(scols) != sorted(ocols):
            ok = False
            failures.append((name, f"schema mismatch: {sorted(scols)} vs {sorted(ocols)}"))
        elif len(srows) != len(orows):
            ok = False
            failures.append((name, f"row count: {len(srows)} vs {len(orows)}"))
        else:
            sn, on = normalize(srows, scols), normalize(orows, ocols)
            if sn != on:
                diffs = [(a, b) for a, b in zip(sn, on) if a != b][:3]
                ok = False
                failures.append((name, f"value mismatch, first diffs: {diffs}"))
        status = "PASS" if ok else "FAIL"
        print(f"{status} {name}: {len(srows)} rows  [{time.time()-t0:.1f}s]")
        if not ok:
            print("   ", failures[-1][1][:500])
    print(f"\n{len(failures)} failures / {len(qs) if not only else len(only)} queries")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
