"""Local simulation of the driver's correctness gate: run every
``queries()`` entry at sf0.01 and compare against ``oracle_sql()`` via
DuckDB — row count, column names, and order-insensitive value equality.
Any dir with parquet tables in the testdata schemas works; DuckDB sees
only the tables the dir holds.

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


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as E
    from smqtk_indexing_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(app_name="oracle-check", master=f"local[{cpus}]")
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            cols = [c.lower() for c in df.columns]
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error {e}")
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only ({len(rows)} rows)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0].lower() for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error {e}")
            continue
        problems = []
        if len(rows) != len(orows):
            problems.append(f"rowcount {len(rows)} != {len(orows)}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"cols {sorted(cols)} != {sorted(ocols)}")
        if not problems:
            a = norm_rows(cols, rows)
            b = norm_rows(ocols, orows)
            if a != b:
                diff = [x for x, y in zip(a, b) if x != y][:3]
                diffb = [y for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, e.g. spark={diff} duck={diffb}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(rows)} rows")
    print()
    if failures:
        print(f"{len(failures)} FAILURES")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
