"""Driver-contract checks: every queries() entry runs and matches its
DuckDB oracle at the smoke scale (the driver runs the same comparison at
sf0.01; CI here uses sf0.001 to stay fast)."""

import pytest

from pdf_spark.functions.oracle_harness import compare
from pdf_spark.functions.registry import all_oracles, all_queries

QUERIES = all_queries()
ORACLES = all_oracles()
SMOKE_SF = "/root/testdata/sf0.001"


def test_registry_covers_contract():
    # the matrix's breadth is frozen: a dropped registration would also
    # drop its parametrized oracle test below, so the count is pinned
    assert len(QUERIES) == 316
    # every query has an oracle and every oracle a query
    assert set(ORACLES) == set(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    df = QUERIES[name](spark, SMOKE_SF)
    if name not in ORACLES:
        assert df.count() >= 0  # rows-only check (driver does the same)
        return
    problems = compare(name, df, ORACLES[name], SMOKE_SF)
    assert not problems, problems


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    # flagship invariant: every generated doc extracts to its expected text
    assert all(r["match"] for r in rows)
