"""Shared Spark fixture (session-scoped: one JVM for the whole test run)."""

from __future__ import annotations

import pytest

from endor_blockchain_data_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("endor-tests", shuffle_partitions=8)
    yield s
    s.stop()


def assert_df_equal(a, b, sort_cols=None):
    """Order-insensitive DataFrame equality (collected; test-sized data)."""
    cols = sorted(a.columns)
    assert sorted(b.columns) == cols, f"columns differ: {a.columns} vs {b.columns}"
    sort_cols = sort_cols or cols
    ra = [tuple(r) for r in a.select(*cols).orderBy(*sort_cols).collect()]
    rb = [tuple(r) for r in b.select(*cols).orderBy(*sort_cols).collect()]
    assert ra == rb, f"row sets differ: {len(ra)} vs {len(rb)} rows; first diff: " + str(
        next((x for x in zip(ra, rb) if x[0] != x[1]), None)
    )
