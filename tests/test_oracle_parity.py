"""The local mirror of the driver's t2 correctness gate: every registered
query with an oracle must match DuckDB bit-for-bit at the test SF."""

from __future__ import annotations

import pytest

from data_lake_spark.queries import full_registry
from tests.compare import compare

_REG = full_registry()
_WITH_ORACLE = sorted(name for name, spec in _REG.items() if spec.oracle)


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_query_matches_oracle(spark, sf_dir, name):
    spec = _REG[name]
    compare(spec.fn(spark, sf_dir), spec.oracle, sf_dir)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 2


def test_registry_contract(spark):
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20


def test_run_oracle_returns_unshared_frame(sf_dir):
    # the oracle memo must hand out copies: a caller mutating its
    # result would otherwise corrupt every later compare of that SQL
    from tests.compare import run_oracle

    sql = "SELECT 1 AS x"
    first = run_oracle(sql, sf_dir)
    first.loc[0, "x"] = 99
    first.drop(columns="x", inplace=True)
    again = run_oracle(sql, sf_dir)
    assert list(again.columns) == ["x"] and again["x"].tolist() == [1]
