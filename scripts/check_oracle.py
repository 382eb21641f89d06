"""Local stand-in for the driver's correctness gate: runs every
``queries()`` entry and its ``oracle_sql()`` twin side-by-side and
compares column names, row count, and order-insensitive values; an
oracle-backed query must also return rows. Runs on
``local[$SPARK_GRAFT_CPUS]`` (default 8).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry
from notjusthtml_searchengine_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(
        app_name="oracle-check", master=f"local[{cpus}]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"[FAIL-spark] {name}: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"[rows-only ] {name}: {len(srows)} rows, cols={scols}")
            if len(srows) == 0 and name != "noop":
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            ddf = con.sql(oracles[name])
            drows = ddf.fetchall()
            dcols = [c[0] for c in ddf.description]
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"[FAIL-duck ] {name}: {str(e)[:300]}")
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} != {sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} != {len(drows)}")
        elif not srows:
            problems.append("oracle-backed query returned 0 rows")
        if not problems:
            sk, dk = rows_key(srows, scols), rows_key(drows, dcols)
            if sk != dk:
                diff = [(a, b) for a, b in zip(sk, dk) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"[FAIL      ] {name}: {'; '.join(problems)[:400]}")
        else:
            print(f"[ok        ] {name}: {len(srows)} rows")
    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for n, p in failures:
            print(" -", n, ":", p[:200])
        sys.exit(1)
    print("ALL QUERIES MATCH")
    spark.stop()


if __name__ == "__main__":
    main()
