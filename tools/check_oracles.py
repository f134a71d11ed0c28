"""Local mimic of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()``
counterpart on DuckDB over the same sf dir, and diff rows exactly.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return [columns[i] for i in order], out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from web_content_extraction_benchmark_spark.session import get_spark

    spark = get_spark("oracle-check", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for table in TABLES:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(queries)
    if unknown:
        print(f"unknown query names: {sorted(unknown)}")
        print(f"available: {sorted(queries)}")
        return 2
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(srows)} rows")
            if len(srows) == 0:
                failures.append((name, "zero rows"))
            continue
        # ONE execution per oracle: .description is populated on the same
        # cursor as .fetchall() (a second execute doubled DuckDB time for
        # the expensive recursive-CTE / cross-join mirrors)
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        orows = [tuple(r) for r in cur.fetchall()]
        sc, sn = normalize(srows, scols)
        oc, on = normalize(orows, ocols)
        if sc != oc:
            failures.append((name, f"columns {sc} vs {oc}"))
            print(f"{name:28s} FAIL columns: {sc} vs {oc}")
            continue
        if len(sn) != len(on):
            failures.append((name, f"rows {len(sn)} vs {len(on)}"))
            print(f"{name:28s} FAIL rowcount: {len(sn)} vs {len(on)}")
            continue
        bad = [(a, b) for a, b in zip(sn, on) if a != b]
        if bad:
            failures.append((name, f"{len(bad)} row diffs"))
            print(f"{name:28s} FAIL {len(bad)}/{len(sn)} rows differ; first:")
            for a, b in bad[:3]:
                print("   spark :", repr(a)[:200])
                print("   oracle:", repr(b)[:200])
        else:
            print(f"{name:28s} OK ({len(sn)} rows)")

    spark.stop()
    if failures:
        print("\nFAILURES:", [f[0] for f in failures])
        return 1
    print("\nall queries match their oracles")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
