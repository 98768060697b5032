"""Differential correctness: every registered query vs its DuckDB
oracle at sf0.001 (the driver repeats this at sf0.01)."""

from __future__ import annotations

import pytest

from kafka_flink_spark.suite import all_queries
from tests.conftest import SF_SMALL, register_duck_views
from tests.helpers import assert_frames_match

QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    q = QUERIES[name]
    sdf = q.spark_fn(spark, SF_SMALL)
    spark_pdf = sdf.toPandas()
    if q.oracle is None:
        assert len(spark_pdf) >= 0  # rows-only check (driver parity)
        return
    register_duck_views(duck, SF_SMALL)
    oracle_pdf = duck.execute(q.oracle).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, name)


@pytest.mark.parametrize(
    "name", ["d3_minhash_lsh_pairs", "d7_dedup_clusters", "gr1_pagerank_copurchase"]
)
def test_query_matches_oracle_with_reliable_checkpoints(
    spark, duck, reliable_checkpoints, name
):
    """Pin-heavy queries (signature pins, CC rounds, PageRank rounds)
    give their oracle's rows with every pin written as a reliable
    checkpoint."""
    q = QUERIES[name]
    with reliable_checkpoints():
        spark_pdf = q.spark_fn(spark, SF_SMALL).toPandas()
    register_duck_views(duck, SF_SMALL)
    assert_frames_match(spark_pdf, duck.execute(q.oracle).fetchdf(), name)
