"""Local stand-in for the driver's correctness gate: run every
`queries()` entry and its `oracle_sql()` twin side-by-side, compare
row count + column names + order-insensitive values.

Usage: python bench/check_oracle.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

# import the engine from the checkout this script lives in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from fulltextsearch_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in sorted(cols):
            v = r[c]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = E.queries()
    oracles = E.oracle_sql()
    failed = []
    for name, fn in qs.items():
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:>20}: rows-only ({len(srows)} rows) — no oracle")
            continue
        od = con.execute(oracles[name]).fetch_df()
        ocols = list(od.columns)
        status = []
        if sorted(scols) != sorted(ocols):
            status.append(f"SCHEMA spark={scols} duck={ocols}")
        if len(srows) != len(od):
            status.append(f"ROWS spark={len(srows)} duck={len(od)}")
        sn = normalize([r.asDict() for r in srows], scols)
        on = normalize(od.to_dict("records"), ocols)
        if sn != on and not status:
            diff = [(a, b) for a, b in zip(sn, on) if a != b][:3]
            status.append(f"VALUES e.g. {diff}")
        if status:
            failed.append(name)
            print(f"{name:>20}: FAIL  {' | '.join(status)}")
        else:
            print(f"{name:>20}: OK    ({len(srows)} rows)")
    print("\nFAILED:", failed or "none")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
