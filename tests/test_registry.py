"""The query registry as one table: every registered row against its
DuckDB oracle, every union row against its legs, and the structural
rules registry.py derives retirement from."""

from __future__ import annotations

import pytest
from conftest import TESTDATA, assert_oracle_bit_exact, needs_testdata

from peskas_mozambique_data_pipeline_spark import registry

SF_DIRS = [f"{TESTDATA}/sf0.001", f"{TESTDATA}/sf0.01"]


@needs_testdata
@pytest.mark.slow
@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("name", list(registry.ORACLE_SQL))
def test_oracle_bit_exact(spark, name, sf_dir):
    sdf = registry.SPARK_QUERIES[name](spark, sf_dir)
    assert_oracle_bit_exact(sdf, registry.ORACLE_SQL[name], sf_dir)


@needs_testdata
@pytest.mark.slow
@pytest.mark.parametrize("union_name", list(registry.UNIONS))
def test_union_parity_with_legs(spark, union_name):
    """A stat-tagged union holds every row of both legs; a join union
    (one row per shared key) holds exactly one row per leg row."""
    sf = SF_DIRS[0]
    fn = registry.SPARK_QUERIES.get(union_name) or registry.RETIRED_QUERIES[union_name]
    union_df = fn(spark, sf)
    n_legs = [
        registry.RETIRED_QUERIES[leg](spark, sf).count()
        for leg in registry.UNIONS[union_name]
    ]
    if "stat" in union_df.columns:
        assert union_df.count() == sum(n_legs)
        stats = union_df.select("stat").distinct().count()
        assert stats >= 2  # every leg contributes its own stat tag
    else:
        assert union_df.count() == n_legs[0] == n_legs[1]


def test_union_legs_retired_and_importable():
    legs = {leg for pair in registry.UNIONS.values() for leg in pair}
    for leg in legs:
        assert leg not in registry.SPARK_QUERIES
        assert callable(registry.RETIRED_QUERIES[leg])
        assert registry.RETIRED_ORACLE_SQL[leg]
    for name in registry.RETIRED_QUERIES:
        assert name in legs or name in registry.DROPPED
    assert registry.RETIRED_QUERIES.keys() == registry.RETIRED_ORACLE_SQL.keys()
    for union_name in registry.UNIONS:
        assert union_name in registry.SPARK_QUERIES or union_name in legs

