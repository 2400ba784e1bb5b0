"""Results must not depend on the session's partitioning.

A query whose aggregates are sensitive to summation order (the
one-pass ``SUM(y*y) - n*avg^2`` variance, for one) reads one value at
one core count and another at the next; the oracle comparison at the
default configuration cannot see it.
"""

from __future__ import annotations

import os

import pytest

from model_presto_spark.plans.queries import QUERIES
from model_presto_spark.testing import compare_query, duckdb_con


@pytest.fixture(scope="module")
def sf001(sf_dir):
    """The sf0.01 tables next to the test scale factor: at sf0.001
    q210's one-pass variance happened to round the same way at every
    partitioning."""
    path = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(path):
        pytest.skip(f"no sf0.01 tables at {path}")
    con = duckdb_con(path)
    yield path, con
    con.close()


@pytest.mark.parametrize("partitions", [1, 200])
def test_q210_matches_oracle_at_shuffle_partitions(spark, sf001, partitions):
    path, con = sf001
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, str(partitions))
    try:
        problems = compare_query(spark, con, QUERIES["q210_cuped"], path)
    finally:
        spark.conf.set(key, before)
    assert not problems, problems
