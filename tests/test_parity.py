"""Differential tests: every declared query vs its DuckDB oracle.

Runs at sf0.001 by default for speed (set ZDS_TEST_SF_DIR to override);
``tools/check_parity.py`` runs the same comparison at sf0.01, the driver's
correctness scale. A key is only declared in the registry once both pass
(SURVEY.md §2 footer rule).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE
from zonal_datacube_spark.compare import compare_query, unobserved_sort_problems
from zonal_datacube_spark.registry import all_oracle_sql, all_queries

QUERIES = all_queries()
ORACLE = all_oracle_sql()


@pytest.mark.parametrize("key", sorted(QUERIES))
def test_query_parity(key, spark, duck):
    if key not in ORACLE:
        df = QUERIES[key](spark, SF_ORACLE)
        assert not unobserved_sort_problems(key, df)
        assert df.count() >= 0  # rows-only contract: runs and returns a stable frame
        return
    res = compare_query(key, spark, duck, QUERIES[key], ORACLE[key], SF_ORACLE)
    assert res.ok, str(res)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    rows = e.entry(spark).collect()
    assert len(rows) > 0


def test_registry_consistent():
    assert set(ORACLE) <= set(QUERIES)
    assert all(callable(f) for f in QUERIES.values())
