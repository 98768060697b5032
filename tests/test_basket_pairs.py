"""suite/relational_queries._basket_pairs — the chained-explode basket
expansion (r12) pinned against the lineitem self-join it replaced:
same pair MULTISET (weights matter for gr2/g24 support counts), same
NULL handling (collect_list drops NULLs exactly like a null-rejecting
join predicate), for all three variants (both orientations, ordered,
orderkey-carrying)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from kafka_flink_spark.suite.relational_queries import (
    _basket_pairs,
    _copurchase_edges,
)

# (l_orderkey, l_partkey): duplicate partkeys within an order (order 1
# has part 10 twice: the pair of its two equal-value OCCURRENCES is
# excluded, while the distinct-value pair (10, 11) appears with weight
# 2 — pair weights count line-level occurrence multiplicity), a
# singleton basket (order 3), and a NULL partkey (order 2) that every
# variant drops.
ROWS = [
    (1, 10),
    (1, 10),
    (1, 11),
    (2, 10),
    (2, None),
    (2, 12),
    (3, 13),
    (4, 12),
    (4, 10),
]


def _li(spark):
    return spark.createDataFrame(ROWS, "l_orderkey long, l_partkey long")


def _self_join_pairs(li, ordered: bool, with_orderkey: bool):
    a, b = li.alias("a"), li.alias("b")
    cmp = (
        F.col("a.l_partkey") < F.col("b.l_partkey")
        if ordered
        else F.col("a.l_partkey") != F.col("b.l_partkey")
    )
    cols = [
        F.col("a.l_partkey").alias("src"),
        F.col("b.l_partkey").alias("dst"),
    ]
    if with_orderkey:
        cols.insert(0, F.col("a.l_orderkey").alias("ok"))
    return a.join(
        b, (F.col("a.l_orderkey") == F.col("b.l_orderkey")) & cmp
    ).select(*cols)


def _multiset(df):
    return Counter(tuple(r) for r in df.collect())


def test_basket_pairs_both_orientations_multiset(spark):
    li = _li(spark)
    assert _multiset(_basket_pairs(li)) == _multiset(
        _self_join_pairs(li, ordered=False, with_orderkey=False)
    )


def test_basket_pairs_ordered_multiset(spark):
    li = _li(spark)
    assert _multiset(_basket_pairs(li, ordered=True)) == _multiset(
        _self_join_pairs(li, ordered=True, with_orderkey=False)
    )


def test_basket_pairs_orderkey_carry_multiset(spark):
    li = _li(spark)
    assert _multiset(_basket_pairs(li, with_orderkey=True)) == _multiset(
        _self_join_pairs(li, ordered=False, with_orderkey=True)
    )


def test_copurchase_edges_distinct_set(spark):
    li = _li(spark)
    got = {tuple(r) for r in _copurchase_edges(li).collect()}
    want = {
        tuple(r)
        for r in _self_join_pairs(li, ordered=False, with_orderkey=False)
        .distinct()
        .collect()
    }
    assert got == want
    # both orientations present, no self-loops, NULL partkey dropped
    assert all(s != d for s, d in got)
    assert {(d, s) for s, d in got} == got
    assert all(s is not None and d is not None for s, d in got)
