"""Mirror of the driver's correctness gate at sf0.001 (fast).

Every oracle-checked query from __spark_entry__ must match its DuckDB
oracle byte-for-byte after column-sort + row-sort normalization — the
same comparison the driver does at sf0.01.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

# this checkout, not any other on the machine
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from tools.parity_check import TABLES, normalize  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return c


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_query_matches_oracle(spark, con, name):
    sdf = entrymod.queries()[name](spark, SF).toPandas()
    odf = con.sql(entrymod.oracle_sql()[name]).df()
    a, b = normalize(sdf), normalize(odf)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b), f"rows spark={len(a)} oracle={len(b)}"
    if not a.equals(b):
        diff = (a != b).any(axis=1)
        raise AssertionError(f"value mismatch in {name}:\n"
                             f"spark : {a[diff].head(3)}\noracle: {b[diff].head(3)}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["id", "ts", "value", "anomaly_type", "note"]
