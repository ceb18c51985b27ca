"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row-count, schema width and order-insensitive values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
Env: SPARK_GRAFT_CHECK_MASTER (default local[8]) — run with local[32] to
replicate the driver's parallelism (float-sum order hazards only show up
at high parallelism; all aggregates are DECIMAL-exact now, but keep
checking).
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = f"{v:.6g}"
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from rust_html2text_spark.plans.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import os

    spark = get_spark(master=os.environ.get("SPARK_GRAFT_CHECK_MASTER", "local[8]"))
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    # Gated registry first (what the driver verifies), then the folded
    # extras — locally this gate covers BOTH, so nothing registered anywhere
    # goes unverified.
    queries = {**entrymod.queries(), **entrymod.extra_queries()}
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(srows)} rows")
            continue
        drel = con.sql(oracles[name])
        drows = drel.fetchall()
        dcols = [d[0] for d in drel.description]
        status = []
        if len(srows) != len(drows):
            status.append(f"ROWCOUNT spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            status.append(f"SCHEMA spark={sorted(scols)} duck={sorted(dcols)}")
        if not status:
            sn = normalize([tuple(r) for r in srows], scols)
            dn = normalize(drows, dcols)
            if sn != dn:
                diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
                status.append(f"VALUES ({len(diffs)}+ diffs) e.g. {diffs[:1]}")
        if status:
            failures.append(name)
            print(f"{name:24s} FAIL: {'; '.join(status)}")
        else:
            print(f"{name:24s} OK ({len(srows)} rows)")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all oracle checks passed")


if __name__ == "__main__":
    main()
