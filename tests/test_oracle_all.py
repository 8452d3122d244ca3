"""Sweep every registered query against its DuckDB oracle at sf0.001 —
the in-repo mirror of the driver's t2 gate — and check that no query
leaves a persisted frame behind once its tracked caches are released."""

from __future__ import annotations

import pytest

from ningaloo_turtle_etl_spark import registry
from ningaloo_turtle_etl_spark.operators.cache import release_tracked_caches
from tests.conftest import SF_DIR, assert_df_matches_oracle

QUERIES = registry.queries()
ORACLES = registry.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    spark.catalog.clearCache()
    assert_df_matches_oracle(QUERIES[name](spark, SF_DIR), duck, ORACLES[name])
    release_tracked_caches()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name} left a persisted frame that release_tracked_caches() does not free"
    )


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLES)
