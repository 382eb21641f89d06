"""Oracle-grades every ``queries()`` entry PAST the driver's 50-query
correctness window that still ships an ``oracle_sql()`` twin — the
same compare the driver runs (row count, column names,
order-insensitive normalized values), at sf0.001 so it stays cheap.

Without this, an oracle-backed query registered at position > 50
would exist but never be graded anywhere (the r4 verdict's "built the
oracles and then parked them outside the graded window")."""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry
from scripts.check_oracle import TABLES, rows_key

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
GRADED_WINDOW = 50


def overflow_oracle_queries():
    qs = list(entry.queries())
    oracles = entry.oracle_sql()
    return [n for n in qs[GRADED_WINDOW:] if n in oracles]


@pytest.fixture(scope="module")
def duck():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} not present")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", overflow_oracle_queries())
def test_overflow_query_matches_oracle(spark, duck, name):
    sdf = entry.queries()[name](spark, SF_DIR)
    srows, scols = sdf.collect(), sdf.columns
    ddf = duck.sql(entry.oracle_sql()[name])
    drows = ddf.fetchall()
    dcols = [c[0] for c in ddf.description]
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows) and len(srows) > 0
    sk, dk = rows_key(srows, scols), rows_key(drows, dcols)
    assert sk == dk, [(a, b) for a, b in zip(sk, dk) if a != b][:3]
