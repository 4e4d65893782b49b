"""The local correctness gate: every oracle-checked catalog entry must match
DuckDB exactly (row count + sorted-column values) at the test SF.

This mirrors the driver's CORRECTNESS_r{N}.json comparison so failures are
caught locally first (SURVEY.md §5 test plan item 2).
"""

import pytest

import __spark_entry__ as ent

CATALOG_NAMES = sorted(ent.queries().keys())


@pytest.fixture(scope="module")
def oracles():
    return ent.oracle_sql()


@pytest.mark.parametrize("name", CATALOG_NAMES)
def test_catalog_entry(name, spark, duck, sf_dir, oracles):
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from check_parity import compare

    sdf = ent.queries()[name](spark, sf_dir).toPandas()
    if name not in oracles:
        assert len(sdf) > 0, f"rows-only query {name} returned 0 rows"
        return
    odf = duck.sql(oracles[name]).df()
    problems = compare(sdf, odf)
    assert not problems, f"{name}: {problems}"


def test_entry_smoke(spark):
    df = ent.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 2
