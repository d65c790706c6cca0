"""Local mirror of the driver's Spark↔DuckDB correctness compare.

Runs every queries() entry at a given sf dir, runs the oracle SQL in DuckDB
with the parquet tables registered as views, and compares row count, column
names and the order-insensitive multiset of row values.

Usage: python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # collapse -0.0 / representation noise at 1e-9
        r = round(v, 9)
        return 0.0 if r == 0 else r
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    if isinstance(v, bool):
        return int(v)
    return v


def rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    ), [cols[i] for i in order]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from concept_hierarchy_formation_in_property_graphs_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures += 1
            continue
        sm, sc = rows_multiset(scols, [tuple(r) for r in srows])
        dm, dc = rows_multiset(dcols, drows)
        if sc != dc:
            print(f"FAIL {name}: columns spark={sc} duck={dc}")
            failures += 1
            continue
        if len(sm) != len(dm):
            print(f"FAIL {name}: rowcount spark={len(sm)} duck={len(dm)}")
            failures += 1
            continue
        if sm != dm:
            diffs = [(a, b) for a, b in zip(sm, dm) if a != b][:3]
            print(f"FAIL {name}: values differ; first diffs: {diffs}")
            failures += 1
            continue
        print(f"ok   {name}: {len(sm)} rows match oracle")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
