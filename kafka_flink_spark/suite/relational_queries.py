"""Relational operator surface (SURVEY.md §2.3, §2.6-§2.8, §2.10).

The reference has no filters, joins, sorts, or set ops (SURVEY.md
§2.3/§2.6/§2.8) — a credible engine over this domain must, so each
category is exercised on the star-schema fixtures with a DuckDB
oracle. Everything here is pure DataFrame/SQL built-ins: Catalyst owns
pushdown, pruning, join strategy (broadcast hints where the dimension
side is known-small), and AQE owns runtime repartitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_flink_spark.operators.iterative import pin
from kafka_flink_spark.sources.fixtures import load_table
from kafka_flink_spark.suite import register

_FMT = "yyyy-MM-dd HH:mm:ss"
_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# --- Exact fixed-point revenue sums ------------------------------------------
# l_extendedprice is a 2-dp decimal and (1 ± l_discount) a 2-dp factor, so
# their product is an exact 4-dp decimal; true group sums therefore land on
# half-cent boundaries often, where round(sum(...), 2) is decided by
# float summation order — i.e. by partial-agg scheduling, differently per
# engine/run. Summing exact scaled integers instead is bit-identical in any
# order (and at any scale: ~1e9 per term × 6e8 rows at 100 TB stays far
# inside int64/int128 partial sums).


def _rev_sum(factor):
    """Spark: sum(extendedprice * factor) as an exact 4-dp decimal,
    computed as an integer sum of (cents × factor·100)."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    f100 = F.round(factor * 100).cast("long")
    return F.sum(cents * f100) / 10000.0


def _rev_sum_sql(prefix: str = "", factor: str | None = None) -> str:
    """DuckDB rendering of the same exact integer sum."""
    p = f"{prefix}." if prefix else ""
    f = factor if factor is not None else f"1 - {p}l_discount"
    return (
        f"sum(CAST(round({p}l_extendedprice * 100) AS BIGINT)"
        f" * CAST(round(({f}) * 100) AS BIGINT)) / 10000.0"
    )


# --- Projections / filters (P-group; filters per §2.3 note) -----------------


@register(
    "f1_filter_project",
    oracle=f"""
SELECT event_id,
       user_id,
       strftime(ts, '{_FMT_DUCK}') AS ts,
       value,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
WHERE event_type = 'click' AND value > 5.0
""",
    doc="Filter + projection over events; predicate and column pruning "
    "push down to the parquet scan (asserted in plan tests).",
)
def f1_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "click") & (F.col("value") > 5.0))
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", _FMT).alias("ts"),
            "value",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
    )


@register(
    "p4_passthrough",
    oracle=f"""
SELECT event_id, strftime(ts, '{_FMT_DUCK}.%f') AS ts, user_id, event_type, value, props
FROM events
""",
    doc="P4/W13: identity pass-through (reference 1_transfer.py topic "
    "transfer) — batch form; the streaming topic-transfer pipeline is "
    "in streaming/transfer.py.",
)
def p4_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    return df.select(
        "event_id",
        F.date_format("ts", _FMT + ".SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


# --- Joins (§2.6 — absent in reference, required for the domain) ------------


@register(
    "j1_join_broadcast_inner",
    oracle=f"""
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_items,
       {_rev_sum_sql('l')} AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
    doc="Inner equi-join fact→dim with an explicit broadcast() hint on "
    "the small side — no shuffle of lineitem at any scale.",
)
def j1_join_broadcast_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            _rev_sum(1 - F.col("l_discount")).alias("revenue"),
        )
    )


@register(
    "j2_join_left_outer",
    oracle="""
SELECT c.c_custkey,
       c.c_name,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
       round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_spent
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_name
""",
    doc="Left outer join preserving customers with no orders.",
)
def j2_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "j3_join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
""",
    doc="Left-semi join: customers having at least one large order.",
)
def j3_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "semi").select("c_custkey", "c_name")


@register(
    "j4_join_anti",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""",
    doc="Left-anti join: customers with no order above 300k (threshold "
    "chosen so the result is non-empty at every fixture SF).",
)
def j4_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "anti").select("c_custkey", "c_name")


@register(
    "j5_join_range",
    oracle="""
SELECT o.o_orderkey,
       CAST(count(l.l_linenumber) AS BIGINT) AS shipped_within_30d
FROM orders o
LEFT JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
GROUP BY o.o_orderkey
""",
    doc="Equi + range-predicate join (lineitems shipped within 30 days "
    "of their order) — the equi key keeps it a hash join; the range "
    "condition evaluates post-match, so no nested-loop blowup.",
)
def j5_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < o.o_orderdate + F.expr("INTERVAL 30 DAYS"))
    )
    return (
        o.join(li, cond, "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_linenumber").alias("shipped_within_30d"))
    )


@register(
    "q_shipping_priority",
    oracle=f"""
SELECT l.l_orderkey,
       {_rev_sum_sql('l')} AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING' AND l.l_shipdate > o.o_orderdate
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    doc="TPC-H Q3-shaped headline: 3-way join + filter + agg + top-N. "
    "customer is broadcast onto orders BEFORE the orderkey shuffle, so "
    "the segment filter (~1/5 selectivity) shrinks the fact-fact "
    "exchange instead of running after it; ORDER BY ... LIMIT plans as "
    "TakeOrderedAndProject (no global sort of the full result).",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o_building = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return (
        li.join(o_building, li.l_orderkey == o_building.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _rev_sum(1 - F.col("l_discount")).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", _FMT).alias("o_orderdate"),
            "o_orderpriority",
        )
    )


@register(
    "q_local_supplier_volume",
    oracle=f"""
SELECT n.n_name,
       {_rev_sum_sql('l')} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
    doc="TPC-H Q5-shaped headline: 6-way snowflake join; all dimension "
    "sides broadcast, single shuffle for the final agg.",
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            _rev_sum(1 - F.col("l_discount")).alias("revenue")
        )
    )


# --- Aggregations (§2.5 A9 generalized) --------------------------------------


@register(
    "g1_pricing_summary",
    oracle=f"""
SELECT l_returnflag,
       l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)
           AS sum_base_price,
       {_rev_sum_sql()} AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round((sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0) / count(*), 4)
           AS avg_price,
       round((sum(CAST(round(l_discount * 100) AS BIGINT)) / 100.0) / count(*), 6)
           AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1-shaped pricing summary: filter + wide grouped agg; "
    "partial (map-side) aggregation makes the shuffle O(groups). "
    "round(avg)-boundary audit (r10): avg_qty is EXACT by "
    "construction — l_quantity is integer-valued (fixture-verified), "
    "so its double sum is exact below 2^53 in any order and both "
    "engines divide identical sums once; avg_price/avg_disc already "
    "use the integer-cents recipe.",
)
def g1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                / 100.0,
                2,
            ).alias("sum_base_price"),
            _rev_sum(1 - F.col("l_discount")).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(
                (F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0)
                / F.count("*"),
                4,
            ).alias("avg_price"),
            F.round(
                (F.sum(F.round(F.col("l_discount") * 100).cast("long")) / 100.0)
                / F.count("*"),
                6,
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "g2_distinct_agg",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
""",
    doc="Distinct aggregate (count distinct users per event type) — "
    "Catalyst plans the two-phase distinct expansion.",
)
def g2_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "g3_rollup",
    oracle="""
SELECT n.n_name, c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) / 100.0, 2)
           AS total_balance
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
""",
    doc="ROLLUP grouping sets over customer × nation (absent in the "
    "reference, §2.5 note; included for engine completeness).",
)
def g3_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long")) / 100.0, 2
            ).alias("total_balance"),
        )
    )


@register(
    "g4_cube",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round((sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0)
             / count(*), 4) AS avg_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="CUBE grouping sets over orders. avg_price uses the exact "
    "integer-cents recipe (o_totalprice is cents-quantized): "
    "order-independent long sum, one IEEE divide — not the "
    "round(avg(double)) cross-engine boundary trap (w14).",
)
def g4_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0)
                / F.count("*"),
                4,
            ).alias("avg_price"),
        )
    )


@register(
    "g5_having",
    oracle="""
SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 15
""",
    doc="Aggregate + HAVING (post-aggregation filter).",
)
def g5_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )


# --- OVER-window functions (§2.7) --------------------------------------------


@register(
    "w1_topk_per_group",
    oracle="""
SELECT c_custkey, o_orderkey, o_totalprice, rn
FROM (
    SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
           CAST(row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
    FROM orders
)
WHERE rn <= 3
""",
    doc="Top-3 orders per customer via row_number() — deterministic "
    "tie-break on orderkey.",
)
def w1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "w2_lag_lead",
    oracle="""
SELECT event_id, user_id, value,
       lag(value) OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       round(value - coalesce(lag(value) OVER w, value), 2) AS delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    doc="lag/lead analytics per user ordered by event time.",
)
def w2_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.round(F.col("value") - F.coalesce(F.lag("value").over(w), F.col("value")), 2).alias(
            "delta"
        ),
    )


@register(
    "w3_rank_dense_ntile",
    oracle="""
SELECT s_suppkey, s_name, s_acctbal,
       CAST(rank() OVER w AS INT) AS rnk,
       CAST(dense_rank() OVER w AS INT) AS drnk,
       CAST(ntile(4) OVER w AS INT) AS quartile
FROM supplier
WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
""",
    doc="rank/dense_rank/ntile over a global ordering (small table; a "
    "global OVER() window is intentionally exercised here — large-table "
    "rankings go through partitioned windows like w1).",
)
def w3_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    w = Window.orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return s.select(
        "s_suppkey",
        "s_name",
        "s_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


# --- Sorts / limits / set ops (§2.8) -----------------------------------------


@register(
    "s1_sort_limit",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
    doc="Global top-100 — plans as TakeOrderedAndProject, not a full sort.",
)
def s1_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "set1_union_distinct",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey FROM supplier
""",
    doc="UNION (distinct) of customer and supplier nation keys.",
)
def set1_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@register(
    "set2_intersect",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
""",
    doc="INTERSECT of customer and supplier nation keys.",
)
def set2_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "set3_except",
    oracle="""
SELECT event_id FROM events WHERE value > 10
EXCEPT
SELECT event_id FROM events WHERE event_type = 'purchase'
""",
    doc="EXCEPT: high-value events that are not purchases (non-empty at "
    "every fixture SF).",
)
def set3_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hi = e.filter(F.col("value") > 10).select("event_id")
    purch = e.filter(F.col("event_type") == "purchase").select("event_id")
    return hi.exceptAll(purch).distinct()


# --- Scalar functions (§2.10) -------------------------------------------------


@register(
    "sc1_datetime_functions",
    oracle=f"""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(month(o_orderdate) AS INT) AS order_month,
       CAST(dayofweek(o_orderdate) AS INT) + 1 AS order_dow,
       strftime(date_trunc('minute', o_orderdate), '{_FMT_DUCK}') AS order_minute,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date_str,
       CAST(epoch_ms(o_orderdate) AS BIGINT) AS epoch_ms
FROM orders
WHERE o_orderkey % 100 = 0
""",
    doc="§2.10 datetime scalar surface: year/month/dow, minute "
    "truncation (reference 5_ohlc.py:72), strftime formatting "
    "(3_ohlc.py:70), epoch-ms round-trip (P6).",
)
def sc1_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofweek("o_orderdate").alias("order_dow"),
        F.date_format(F.date_trunc("minute", "o_orderdate"), _FMT).alias("order_minute"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
        # o_orderdate is parquet TIMESTAMP_NTZ; unix_millis requires an
        # instant — the cast is identity under the engine's UTC session TZ.
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("epoch_ms"),
    )


@register(
    "sc2_string_functions",
    oracle="""
SELECT p_partkey,
       upper(p_name) AS name_upper,
       CAST(length(p_name) AS INT) AS name_len,
       substr(p_brand, 7) AS brand_num,
       regexp_extract(p_type, '^(\\w+)', 1) AS type_head,
       p_brand || '/' || p_type AS brand_type,
       replace(p_name, ' ', '_') AS name_snake
FROM part
WHERE p_size >= 40
""",
    doc="§2.10 string scalar surface: case, length, substring, regexp "
    "extraction, concat, replace.",
)
def sc2_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("int").alias("name_len"),
        F.substring("p_brand", 7, 100).alias("brand_num"),
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_head"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
    )


@register(
    "sc3_json_functions",
    oracle="""
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
""",
    doc="§2.10 JSON parse surface (reference json.loads — old/beam.py:44, "
    "old/kfk.py:32): get_json_object extraction + aggregation.",
)
def sc3_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


# --- Subqueries (absent in reference; Catalyst decorrelates) ----------------


@register(
    "sub1_scalar_subquery",
    oracle="""
SELECT p_partkey, p_name, p_retailprice
FROM part
WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
""",
    doc="Scalar subquery: parts priced above the global mean — Catalyst "
    "plans the subquery as an independent aggregate broadcast into the "
    "filter (one extra scan, no per-row evaluation).",
)
def sub1_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_retailprice
        FROM part
        WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
        """
    )


@register(
    "sub2_correlated_subquery",
    oracle="""
SELECT s.s_suppkey, s.s_name, s.s_acctbal
FROM supplier s
WHERE s.s_acctbal > (SELECT avg(s2.s_acctbal) FROM supplier s2
                     WHERE s2.s_nationkey = s.s_nationkey)
""",
    doc="Correlated scalar subquery: suppliers above their nation's mean "
    "balance — Catalyst decorrelates to an aggregate + join (no "
    "nested-loop re-execution; SURVEY.md §4.1 pushdown table).",
)
def sub2_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(
        """
        SELECT s.s_suppkey, s.s_name, s.s_acctbal
        FROM supplier s
        WHERE s.s_acctbal > (SELECT avg(s2.s_acctbal) FROM supplier s2
                             WHERE s2.s_nationkey = s.s_nationkey)
        """
    )


@register(
    "g6_percentiles",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
       round(quantile_cont(l_discount, 0.5), 4) AS median_discount
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Exact interpolated percentiles (percentile(); DuckDB "
    "quantile_cont uses the same linear interpolation). The approx "
    "sketch form for 100 TB is g7.",
)
def g6_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               round(percentile(l_extendedprice, 0.5), 4) AS p50,
               round(percentile(l_extendedprice, 0.95), 4) AS p95,
               round(percentile(l_discount, 0.5), 4) AS median_discount
        FROM lineitem
        GROUP BY l_returnflag
        """
    )


@register(
    "g7_approx_distinct_sketch",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       TRUE AS within_bound
FROM lineitem
GROUP BY l_returnflag
""",
    doc="HyperLogLog++ approximate distinct counts (the mergeable-sketch "
    "path for 100 TB cardinality estimation). Hash-green since round "
    "6: the raw HLL estimate is algorithm-specific so it cannot be "
    "oracle-matched, but the CLAIM — estimate within 2% of exact — is "
    "deterministic (HLL++ is hash-based, no RNG; same data -> same "
    "estimate). The plan computes estimate AND exact in one aggregate "
    "and emits the boolean `within_bound`; the oracle recomputes the "
    "exact side and asserts TRUE, so a drifting estimate flips the "
    "value hash red. Measured max relative error 0.86% across "
    "sf0.001/0.01/0.1 (rsd=0.01); bound 2% = >2x margin. The exact "
    "count_distinct exists only in this attestation query — the "
    "production path at 100 TB is the sketch alone.",
)
def g7_approx_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Two explicit levels instead of countDistinct+approx in ONE agg:
    # mixing a distinct aggregate with approx_count_distinct makes
    # Catalyst's distinct rewrite evaluate a partial HLL sketch per
    # (flag, orderkey) GROUP and merge millions of sketches (measured
    # 7.4 s vs 1.5 s at sf0.1). Pre-aggregating to distinct keys is
    # estimate-IDENTICAL (HLL register updates are idempotent under
    # duplicates — verified bit-equal at sf0.1) and keeps both levels
    # map-side combinable.
    lvl1 = li.groupBy("l_returnflag", "l_orderkey").agg(F.count("*").alias("c"))
    return (
        lvl1.groupBy("l_returnflag")
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("exact_orders"),
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("a"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            "exact_orders",
            (
                F.abs(F.col("a") - F.col("exact_orders"))
                <= F.col("exact_orders") * F.lit(0.02)
            ).alias("within_bound"),
        )
    )


@register(
    "g8_pivot",
    oracle="""
SELECT l_returnflag,
       round(coalesce(sum(CASE WHEN l_linestatus = 'F'
                  THEN CAST(round(l_extendedprice * 100) AS BIGINT) END), 0)
             / 100.0, 2) AS "F",
       round(coalesce(sum(CASE WHEN l_linestatus = 'O'
                  THEN CAST(round(l_extendedprice * 100) AS BIGINT) END), 0)
             / 100.0, 2) AS "O"
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Pivot: revenue by returnflag x linestatus as columns "
    "(df.groupBy().pivot() with explicit pivot values — explicit so the "
    "plan stays a single pass with no distinct-values pre-query). An "
    "empty (returnflag, linestatus) cell yields NULL from pivot, so the "
    "zero-fill coalesce happens AFTER the pivot to match the oracle's "
    "conditional-aggregation zeros at any scale factor.",
)
def g8_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                / 100.0,
                2,
            )
        )
    )
    return pivoted.select(
        "l_returnflag",
        F.coalesce(F.col("F"), F.lit(0.0)).alias("F"),
        F.coalesce(F.col("O"), F.lit(0.0)).alias("O"),
    )


@register(
    "g9_unpivot",
    oracle="""
SELECT o_orderkey, 'price' AS metric, o_totalprice AS value FROM orders
UNION ALL
SELECT o_orderkey, 'custkey' AS metric, CAST(o_custkey AS DOUBLE) AS value FROM orders
""",
    doc="Unpivot/melt: wide order columns to (metric, value) rows — "
    "df.unpivot (Spark 3.4+), a narrow zero-shuffle projection.",
)
def g9_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_custkey").cast("double").alias("custkey"),
    )
    return o.unpivot("o_orderkey", ["price", "custkey"], "metric", "value")


@register(
    "q_returned_items",
    oracle=f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       {_rev_sum_sql('l')} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-03-01'
  AND o.o_orderdate < TIMESTAMP '1996-09-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    doc="TPC-H Q10-style returned-items report: lost revenue per "
    "customer from returned lineitems in a date range — fact-fact join "
    "on orderkey, broadcast dims, order-by-limit top 20. The date "
    "filter pushes to the orders scan; AQE picks the lineitem join "
    "strategy from runtime sizes.",
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= "1996-03-01")
                & (F.col("o_orderdate") < "1996-09-01")
            ),
            li.l_orderkey == o.o_orderkey,
        )
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _rev_sum(1 - F.col("l_discount")).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "f2_null_semantics",
    oracle="""
SELECT o_orderkey,
       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_norm,
       (o_orderstatus IS NOT DISTINCT FROM 'F') AS is_final,
       CASE WHEN o_totalprice > 200000 THEN 'big'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'small' END AS bucket
FROM orders
""",
    doc="Null-semantics surface: coalesce / nullif / null-safe equality "
    "(<=> vs IS NOT DISTINCT FROM) / CASE — identical three-valued "
    "logic on both engines.",
)
def f2_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias("status_norm"),
        F.col("o_orderstatus").eqNullSafe("F").alias("is_final"),
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("bucket"),
    )


@register(
    "q_order_priority",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-04-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4-style order-priority check: EXISTS decorrelates to a "
    "left-semi join (Catalyst rewrites it; expressed directly as "
    "left_semi here), then a low-cardinality group-by. The semi join "
    "never materializes lineitem columns — at 100 TB only l_orderkey "
    "(plus the pushed returnflag filter) is read from the fact table.",
)
def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-04-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q_promo_revenue",
    oracle="""
SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                                   * CAST(round((1 - l.l_discount) * 100) AS BIGINT)
                              ELSE 0 END)
             / sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   * CAST(round((1 - l.l_discount) * 100) AS BIGINT)), 2)
       AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-05-01'
  AND l.l_shipdate < TIMESTAMP '1996-07-01'
""",
    doc="TPC-H Q14-style promotion effect: conditional-aggregate ratio "
    "over a fact-dim join. part is broadcast (2k rows/SF-invariant "
    "dimensions stay broadcastable); the shipdate range pushes to the "
    "lineitem scan so the join input is already pruned.",
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-05-01") & (F.col("l_shipdate") < "1996-07-01")
    )
    p = load_table(spark, sf_dir, "part")
    rev_e4 = F.round(F.col("l_extendedprice") * 100).cast("long") * F.round(
        (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev_e4).otherwise(F.lit(0)))
                / F.sum(rev_e4),
                2,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q_large_orders",
    oracle="""
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       o.o_totalprice, sum(l.l_quantity) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
""",
    doc="TPC-H Q18-style large-volume customers: IN over a grouped "
    "HAVING subquery = aggregate lineitem once, filter to heavy "
    "orders, semi-join back. The heavy-order set is tiny (~1% of "
    "orders) so AQE broadcasts it against orders; quantity sums are "
    "integer-valued doubles, so both engines agree exactly.",
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        o.join(heavy, o.o_orderkey == heavy.l_orderkey, "left_semi")
        .join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", _FMT).alias("o_orderdate"),
            "o_totalprice",
        )
        .agg(F.sum("l_quantity").alias("total_qty"))
    )


@register(
    "q_forecast_revenue",
    oracle=f"""
SELECT {_rev_sum_sql(factor='l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6-style forecast-revenue change: pure filter + global "
    "sum, no join and no group-by. The whole WHERE clause (date range, "
    "discount band, quantity cap) pushes down to the parquet scan and "
    "only 3 columns are read — at 100 TB this is an embarrassingly "
    "parallel scan with map-side partial sums and a single-row result.",
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_rev_sum(F.col("l_discount")).alias("revenue"))
    )


@register(
    "q_nation_trade_flows",
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS yr,
       {_rev_sum_sql('l')} AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE n1.n_name <> n2.n_name
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
""",
    doc="TPC-H Q7-style cross-nation trade flows: the nation table is "
    "joined twice under different aliases (supplier's vs customer's "
    "nation). supplier/customer/nation are broadcast; the only shuffle "
    "joins are lineitem-orders on orderkey. The inequality filter "
    "n1<>n2 runs after both broadcasts, map-side.",
)
def q_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("yr"))
        .agg(
            _rev_sum(1 - F.col("l_discount")).alias("revenue")
        )
    )


@register(
    "q_disjunctive_parts",
    oracle=f"""
SELECT {_rev_sum_sql('l')} AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size >= 1 AND p.p_size <= 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size >= 1 AND p.p_size <= 25
       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size >= 1 AND p.p_size <= 35
       AND l.l_quantity >= 20 AND l.l_quantity <= 30)
""",
    doc="TPC-H Q19-style disjunctive predicate join: an OR-of-ANDs "
    "condition that mixes columns from both sides, so it evaluates as "
    "a post-join filter on a broadcast hash join. Catalyst still "
    "derives the implied single-side prefilters (brand IN (...) on "
    "part, quantity BETWEEN 1 AND 30 on lineitem) via constraint "
    "propagation, pruning both scans before the join.",
)
def q_disjunctive_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & sz.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#2") & sz.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#3") & sz.between(1, 35) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            _rev_sum(1 - F.col("l_discount")).alias("revenue")
        )
    )


@register(
    "q_idle_rich_customers",
    oracle="""
SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
       round(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) / 100.0, 2)
           AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                                 AS DOUBLE) / (count(*) * 100.0)
                     FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_nationkey
""",
    doc="TPC-H Q22-style idle rich customers: scalar AVG subquery as "
    "the balance threshold, NOT EXISTS decorrelated to a left-anti "
    "join against orders (only o_custkey is read from the fact side), "
    "then a tiny group-by on nationkey. The anti join shuffles on "
    "custkey once; the scalar subquery is a one-row broadcast.",
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).cast("double")
            / (F.count("*") * 100.0)
        ).alias("threshold")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("threshold"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long")) / 100.0, 2
            ).alias("totacctbal"),
        )
    )


@register(
    "sc4_array_functions",
    oracle="""
WITH d AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
)
SELECT vec_id, label,
       CAST(len(v) AS INT) AS dim,
       CAST(len(list_filter(v, x -> x > 0)) AS INT) AS n_pos,
       list_max(v) AS max_val,
       list_min(v) AS min_val,
       list_reduce(list_transform(v, x -> x * x), (a, x) -> a + x) AS l2sq,
       list_max(list_zip(v, list_reverse(v)).apply(p -> p[1] * p[2])) AS max_rev_prod
FROM d
""",
    doc="Higher-order array functions (transform/filter/aggregate/"
    "zip_with + array_max/min) over the embedding column — all "
    "JVM-side codegen'd expressions, no UDF. The l2sq fold is a "
    "sequential left fold in both engines (Spark aggregate init 0.0 + "
    "DuckDB list_reduce), so IEEE results match bit-for-bit.",
)
def sc4_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    d = emb.select("vec_id", "label", v.alias("v"))
    return d.select(
        "vec_id",
        "label",
        F.size("v").alias("dim"),
        F.size(F.filter("v", lambda x: x > 0)).alias("n_pos"),
        F.array_max("v").alias("max_val"),
        F.array_min("v").alias("min_val"),
        F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x).alias("l2sq"),
        F.array_max(F.zip_with("v", F.reverse("v"), lambda x, y: x * y)).alias(
            "max_rev_prod"
        ),
    )


@register(
    "sc5_conditional_math_functions",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_returnflag = 'R' THEN 'returned'
            WHEN l_returnflag = 'A' THEN 'accepted'
            ELSE 'neither' END AS flag_class,
       CASE WHEN l_discount > 0.05 THEN 'deep' ELSE 'shallow' END AS discount_band,
       nullif(l_tax, 0.0) AS tax_or_null,
       coalesce(nullif(l_tax, 0.0), -1.0) AS tax_defaulted,
       least(l_discount, l_tax) AS min_rate,
       greatest(l_discount, l_tax) AS max_rate,
       sqrt(l_extendedprice) AS root_price,
       abs(l_discount - l_tax) AS rate_gap,
       CAST(floor(l_quantity / 7.0) AS BIGINT) AS qty_bin,
       CAST(ceil(l_discount * 100.0) AS BIGINT) AS disc_pct_ceil,
       l_orderkey % 97 AS okey_mod
FROM lineitem
WHERE l_orderkey % 89 = 0
""",
    doc="§2.10 conditional + math scalar surface (the reference's only "
    "conditionals are Python if/else inside process functions, "
    "7_ohlc.py:66-78): CASE/WHEN classification, NULLIF/COALESCE null "
    "plumbing, LEAST/GREATEST 2-arg running extremes (the reference's "
    "max(a,b)/min(a,b), 5_ohlc.py:91-92), sqrt/abs/floor/ceil/mod — "
    "all codegen'd row expressions; sqrt is IEEE correctly-rounded so "
    "doubles match DuckDB bit-for-bit (exp/ln are libm-dependent and "
    "deliberately excluded from the differential surface).",
)
def sc5_conditional_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 89 == 0)
    d, t = F.col("l_discount"), F.col("l_tax")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_returnflag") == "R", "returned")
        .when(F.col("l_returnflag") == "A", "accepted")
        .otherwise("neither")
        .alias("flag_class"),
        F.when(d > 0.05, "deep").otherwise("shallow").alias("discount_band"),
        F.nullif(t, F.lit(0.0)).alias("tax_or_null"),
        F.coalesce(F.nullif(t, F.lit(0.0)), F.lit(-1.0)).alias("tax_defaulted"),
        F.least(d, t).alias("min_rate"),
        F.greatest(d, t).alias("max_rate"),
        F.sqrt("l_extendedprice").alias("root_price"),
        F.abs(d - t).alias("rate_gap"),
        F.floor(F.col("l_quantity") / 7.0).alias("qty_bin"),
        F.ceil(d * 100.0).alias("disc_pct_ceil"),
        (F.col("l_orderkey") % 97).alias("okey_mod"),
    )


@register(
    "q_customer_distribution",
    oracle="""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
    SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
) per_cust
GROUP BY c_count
""",
    doc="TPC-H Q13-style customer order-count distribution: orders are "
    "pre-aggregated to one row per custkey BEFORE the zero-preserving "
    "left join (map-side partial counts shrink the fact-side shuffle "
    "to |customers| rows — at 100 TB that is the difference between "
    "shuffling every order and shuffling one count per customer), "
    "then coalesce(cnt, 0) restores the zero-order customers and a "
    "tiny second aggregation builds the distribution.",
)
def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust_orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_cust = c.join(per_cust_orders, c.c_custkey == F.col("o_custkey"), "left").select(
        F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q_top_supplier",
    oracle=f"""
WITH rev AS (
    SELECT l_suppkey, {_rev_sum_sql()} AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
""",
    doc="TPC-H Q15-style top supplier: quarterly revenue per supplier "
    "(exact fixed-point sum, so the max-equality predicate is safe "
    "across engines), then select the supplier(s) hitting the global "
    "max via a one-row broadcast scalar subquery. One shuffle on "
    "suppkey; the supplier dim side is broadcast.",
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy("l_suppkey").agg(_rev_sum(1 - F.col("l_discount")).alias("total_revenue"))
    max_rev = rev.agg(F.max("total_revenue").alias("mr"))
    return (
        rev.join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("mr"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q_small_qty_revenue",
    oracle="""
SELECT sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0 AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN (
    SELECT l_partkey,
           0.2 * (sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 / count(*)) AS qty_threshold
    FROM lineitem GROUP BY l_partkey
) t ON t.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1' AND l.l_quantity < t.qty_threshold
""",
    doc="TPC-H Q17-style small-quantity-order revenue: the correlated "
    "AVG(l_quantity) subquery decorrelates to a per-partkey aggregate "
    "joined back to lineitem on the same key — one shuffle feeds both "
    "the agg and the self-join under AQE. The per-part mean uses an "
    "exact integer quantity sum so the 0.2x threshold (and thus the "
    "filter) is bit-identical across engines; the part brand filter is "
    "a broadcast prefilter.",
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    qcents = F.round(F.col("l_quantity") * 100).cast("long")
    thresh = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * (F.sum(qcents) / 100.0 / F.count(F.lit(1)))).alias("qty_threshold")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(thresh, li.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((F.sum(cents) / 100.0 / 7.0).alias("avg_yearly"))
    )


@register(
    "q_market_share",
    oracle="""
SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
       sum(CASE WHEN sr.r_name = 'ASIA'
                THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * CAST(round((1 - l.l_discount) * 100) AS BIGINT)
                ELSE 0 END) * 1.0
       / sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS mkt_share
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
JOIN region cr ON cr.r_regionkey = cn.n_regionkey
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN region sr ON sr.r_regionkey = sn.n_regionkey
WHERE cr.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
  AND o.o_orderdate >= DATE '1995-01-01' AND o.o_orderdate <= DATE '1996-12-31'
GROUP BY o_year
""",
    doc="TPC-H Q8-style market share: AMERICA-region customers buying "
    "ECONOMY parts, share supplied from ASIA-region suppliers per "
    "order year. A conditional-aggregation ratio over a snowflake "
    "join: the single big shuffle is lineitem-orders on orderkey; "
    "every dimension (customer+nation+region, part, supplier+nation+ "
    "region) is broadcast. Numerator and denominator are exact "
    "fixed-point sums, so the final double ratio is deterministic.",
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") <= "1996-12-31")
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cust_region = (
        load_table(spark, sf_dir, "customer")
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region.filter(F.col("r_name") == "AMERICA"),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    supp_region = (
        load_table(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region.select(F.col("r_regionkey").alias("sr_key"),
                            F.col("r_name").alias("supp_region")),
              F.col("n_regionkey") == F.col("sr_key"))
        .select("s_suppkey", "supp_region")
    )
    amount = F.round(F.col("l_extendedprice") * 100).cast("long") * F.round(
        (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_region), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(p), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp_region), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_region") == "ASIA", amount).otherwise(F.lit(0)))
                / F.sum(amount)
            ).alias("mkt_share")
        )
    )


@register(
    "sc7_map_functions",
    oracle="""
SELECT p_partkey,
       (map {'brand': p_brand, 'type': p_type})['brand'][1] AS brand_v,
       (map {'brand': p_brand, 'type': p_type})['type'][1] AS type_v,
       CAST(cardinality(map {'brand': p_brand, 'type': p_type}) AS INT) AS n_keys,
       array_to_string(map_keys(map {'brand': p_brand, 'type': p_type}), ',') AS keys
FROM part
WHERE p_size = 1
""",
    doc="Map-type scalar surface: construction (create_map), "
    "element_at lookup, cardinality, key listing — all narrow JVM "
    "expressions; maps stay columnar structs, no shuffle.",
)
def sc7_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 1)
    m = F.create_map(F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type"))
    return p.select(
        "p_partkey",
        F.element_at(m, "brand").alias("brand_v"),
        F.element_at(m, "type").alias("type_v"),
        F.size(m).cast("int").alias("n_keys"),
        F.concat_ws(",", F.map_keys(m)).alias("keys"),
    )


@register(
    "s2_sort_null_ordering",
    oracle="""
SELECT o_orderkey,
       nullif(o_orderpriority, '5-LOW') AS pri
FROM orders
ORDER BY pri NULLS FIRST, o_orderkey
LIMIT 100
""",
    doc="Explicit null-ordering semantics in sorts (asc_nulls_first): "
    "NULLS FIRST + tie-break key + LIMIT plans as "
    "TakeOrderedAndProject — the null placement is observable through "
    "the limit, making the semantics oracle-checkable.",
)
def s2_sort_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.nullif(F.col("o_orderpriority"), F.lit("5-LOW")).alias("pri"),
        )
        .orderBy(F.col("pri").asc_nulls_first(), "o_orderkey")
        .limit(100)
    )


@register(
    "g13_approx_percentile_sketch",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS exact_p95,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS exact_p99,
       TRUE AS p50_within_bound,
       TRUE AS p95_within_bound,
       TRUE AS p99_within_bound
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Approximate percentiles via the Greenwald-Khanna sketch "
    "(approx_percentile, accuracy 10000): mergeable, single-pass, "
    "bounded-memory — the 100 TB path where exact percentile (g6) "
    "would sort each group. Hash-green since round 6: the GK estimate "
    "picks a data value (engine-specific) so the raw number cannot be "
    "oracle-matched, but the CLAIM — each estimate within 0.5% of the "
    "exact interpolated percentile — is deterministic; the plan "
    "computes both sketches in one aggregate and emits per-quantile "
    "within_bound booleans the oracle asserts TRUE. Measured max "
    "relative error 0.097% across sf0.001/0.01/0.1; bound 0.5% = >5x "
    "margin. The exact percentile exists only in this attestation "
    "query — the production path is the sketch alone.",
)
def g13_approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    approx = F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10000)
    exact = F.expr("percentile(l_extendedprice, array(0.5d, 0.95d, 0.99d))")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_rows"),
        approx.alias("a"),
        exact.alias("e"),
    )
    cols = [F.col("l_returnflag"), F.col("n_rows")]
    cols += [
        F.round(F.col("e").getItem(i), 4).alias(f"exact_p{p}")
        for i, p in enumerate((50, 95, 99))
    ]
    cols += [
        (
            F.abs(F.col("a").getItem(i) - F.col("e").getItem(i))
            <= F.col("e").getItem(i) * F.lit(0.005)
        ).alias(f"p{p}_within_bound")
        for i, p in enumerate((50, 95, 99))
    ]
    return agg.select(*cols)


from kafka_flink_spark.operators.sketches import CMS_ORACLE_SQL as _CMS_ORACLE  # noqa: E402


@register(
    "g15_count_min_freq",
    oracle=_CMS_ORACLE,
    doc="Count-min sketch frequency estimation (operators/sketches.py), "
    "completing the sketch trio (HLL=g7, GK=g13, CMS=g15). Unlike "
    "those, the CMS estimate is fully deterministic (one md5 digest "
    "per key, depth 4 buckets byte-sliced out of it, width 256), so "
    "it IS oracle-checked, not rows-only. md5 dominates sketch-build "
    "cost, so hashing once and slicing bytes is 4x cheaper than "
    "hashing per depth. The sketch table is depth*width rows regardless of "
    "input — built with one map-side-combined aggregate, broadcast "
    "back to score keys; sketches from disjoint shards merge by "
    "adding counters. Overestimate-only + error bound pinned in "
    "tests/test_llm_ops.py.",
)
def g15_count_min_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.sketches import cms_estimate

    li = load_table(spark, sf_dir, "lineitem")
    keys = li.select("l_partkey").distinct()
    return cms_estimate(li, keys, "l_partkey")


_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 2
) t
WHERE c.c_mktsegment = 'BUILDING'
"""


@register(
    "sub3_lateral_topn",
    oracle=_LATERAL_SQL,
    doc="Correlated LATERAL subquery with per-row ORDER BY + LIMIT "
    "(top-2 orders per BUILDING customer) — the SQL dialect surface "
    "for dependent joins; the identical SQL text runs on both engines. "
    "Catalyst decorrelates the lateral into a ranked window join "
    "(DecorrelateInnerQuery), so execution is the same one-shuffle "
    "top-k-per-group plan as w1, not a per-customer loop.",
)
def sub3_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_LATERAL_SQL)


_MONTH_SPINE_SPARK = """
WITH RECURSIVE months(m, hi) AS (
    SELECT date_trunc('MONTH', min(o_orderdate)),
           date_trunc('MONTH', max(o_orderdate))
    FROM orders
    UNION ALL
    SELECT m + INTERVAL '1' MONTH, hi FROM months WHERE m < hi
),
rev AS (
    SELECT date_trunc('MONTH', o_orderdate) AS m,
           round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0, 2) AS revenue,
           count(*) AS n_orders
    FROM orders
    GROUP BY date_trunc('MONTH', o_orderdate)
)
SELECT date_format(months.m, 'yyyy-MM') AS month,
       coalesce(rev.revenue, 0.0) AS revenue,
       CAST(coalesce(rev.n_orders, 0) AS BIGINT) AS n_orders
FROM months LEFT JOIN rev ON months.m = rev.m
"""

_MONTH_SPINE_ORACLE = """
WITH RECURSIVE months(m, hi) AS (
    SELECT date_trunc('month', min(o_orderdate)),
           date_trunc('month', max(o_orderdate))
    FROM orders
    UNION ALL
    SELECT m + INTERVAL '1' MONTH, hi FROM months WHERE m < hi
),
rev AS (
    SELECT date_trunc('month', o_orderdate) AS m,
           round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0, 2) AS revenue,
           count(*) AS n_orders
    FROM orders
    GROUP BY date_trunc('month', o_orderdate)
)
SELECT strftime(months.m, '%Y-%m') AS month,
       coalesce(rev.revenue, 0.0) AS revenue,
       CAST(coalesce(rev.n_orders, 0) AS BIGINT) AS n_orders
FROM months LEFT JOIN rev ON months.m = rev.m
"""


@register(
    "r1_recursive_month_spine",
    oracle=_MONTH_SPINE_ORACLE,
    doc="Recursive CTE (WITH RECURSIVE, Spark 4+): generate a complete "
    "month spine from min to max order date, then left-join monthly "
    "revenue so months without orders surface as explicit zeros — the "
    "calendar-gap-fill idiom reporting pipelines need. The recursion "
    "is driver-bounded (one row per month, ~80 iterations) while the "
    "revenue aggregation stays fully distributed; at 100 TB the spine "
    "is negligible and broadcast into the join.",
)
def r1_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_MONTH_SPINE_SPARK)


@register(
    "g16_hll_sketch_union",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
       TRUE AS within_bound
FROM orders
GROUP BY o_orderpriority
UNION ALL
SELECT 'ALL' AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
       TRUE AS within_bound
FROM orders
""",
    doc="Mergeable HLL sketches (Spark 3.5+ Datasketches functions): "
    "build one hll_sketch_agg per order-priority partition, then "
    "hll_union_agg the partial sketches into a corpus-wide distinct "
    "estimate — the two-level pattern that lets 1000 executors "
    "sketch independently and merge tiny binary images instead of "
    "shuffling raw keys. Hash-green since round 6: sketch images are "
    "engine-specific, but the CLAIM — every estimate (per-part AND "
    "the unioned ALL row) within 2.5% of exact — is deterministic; "
    "the plan computes exact distincts alongside and emits "
    "`within_bound`, asserted TRUE by the oracle. Measured max "
    "relative error 1.07% across sf0.001/0.01/0.1; bound 2.5% = >2x "
    "margin. Union==sketch-of-whole equivalence stays pinned in "
    "tests/test_llm_ops.py. The ALL row's exact distinct comes from a "
    "second scan-side aggregate crossJoined as a broadcast scalar — "
    "attestation-only cost; production keeps just the sketches.",
)
def g16_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    eps = 0.025
    parts = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("o_custkey").cast("long").alias("exact_custs"),
    )
    per_part = parts.select(
        "o_orderpriority",
        "n_rows",
        "exact_custs",
        (
            F.abs(F.hll_sketch_estimate("sk").cast("long") - F.col("exact_custs"))
            <= F.col("exact_custs") * F.lit(eps)
        ).alias("within_bound"),
    )
    exact_all = o.agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_custs")
    )
    union_row = (
        parts.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("long")
            .alias("approx_custs"),
            F.sum("n_rows").cast("long").alias("n_rows"),
        )
        .crossJoin(F.broadcast(exact_all))
        .select(
            F.lit("ALL").alias("o_orderpriority"),
            "n_rows",
            "exact_custs",
            (
                F.abs(F.col("approx_custs") - F.col("exact_custs"))
                <= F.col("exact_custs") * F.lit(eps)
            ).alias("within_bound"),
        )
    )
    return per_part.unionByName(union_row)


@register(
    "sc9_url_functions",
    oracle="""
WITH u AS (
    SELECT c_custkey,
           'https://shop' || CAST(c_nationkey AS VARCHAR)
             || '.example.com/cust/' || CAST(c_custkey AS VARCHAR)
             || '?seg=' || c_mktsegment || '&v=1' AS url
    FROM customer
)
SELECT c_custkey,
       regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
       regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, 'seg=([^&]+)', 1) AS seg
FROM u
""",
    doc="URL scalar surface: parse_url(HOST/PATH/QUERY key) over "
    "synthesized per-customer URLs — the domain-extraction primitive "
    "web-corpus pipelines group by (per-domain counts drive crawl "
    "dedup/filters). DuckDB has no parse_url, so the oracle extracts "
    "the identical components with anchored regexes — the parity is "
    "on values, not on the function name. All-narrow, fuses into the "
    "scan.",
)
def sc9_url_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("https://shop"),
        F.col("c_nationkey").cast("string"),
        F.lit(".example.com/cust/"),
        F.col("c_custkey").cast("string"),
        F.lit("?seg="),
        F.col("c_mktsegment"),
        F.lit("&v=1"),
    )
    u = c.select("c_custkey", url.alias("url"))
    return u.select(
        "c_custkey",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("seg")).alias("seg"),
    )


@register(
    "q_yoy_growth",
    oracle="""
WITH yearly AS (
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS yr,
           round(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0, 2)
               AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, year(o.o_orderdate)
)
SELECT nation, yr, revenue,
       round(revenue / lag(revenue) OVER (PARTITION BY nation ORDER BY yr) - 1, 6)
           AS yoy_growth
FROM yearly
""",
    doc="Year-over-year growth per nation: grouped yearly revenue, then "
    "lag over the (nation, year) series — the standard trend-report "
    "shape. The lag window reuses the aggregation's partitioning "
    "(nation ⊂ group key), so the whole query is one shuffle plus a "
    "broadcast of the two dims; the ratio divides already-rounded "
    "revenues, keeping it engine-reproducible.",
)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    yearly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("yr"))
        .agg(
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0,
                2,
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("nation").orderBy("yr")
    return yearly.select(
        "nation",
        "yr",
        "revenue",
        F.round(F.col("revenue") / F.lag("revenue").over(w) - 1, 6).alias("yoy_growth"),
    )


@register(
    "j8_bloom_prune_semi_join",
    oracle="""
SELECT l.l_partkey,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(l_quantity) AS BIGINT) AS total_qty
FROM lineitem l
WHERE EXISTS (SELECT 1 FROM part p
              WHERE p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#1')
GROUP BY l.l_partkey
""",
    doc="Bloom-filter join pruning (operators/bloom.py): the dim keys "
    "(parts of one brand) are summarized into a constant-size bit set; "
    "the fact side is pruned by k broadcast semi-joins on hashed bit "
    "positions BEFORE the exact semi join strips false positives. "
    "Result is exactly the plain semi join (this oracle); the point is "
    "that at 100 TB the exact join's exchange sees only Bloom "
    "survivors, not the whole fact table. Sized 2^16 bits / 3 hashes "
    "for the fixture dim (~1k keys → FP rate ~1e-4).",
)
def j8_bloom_prune_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.bloom import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    brand_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    matched = bloom_semi_join(
        li, brand_parts, "l_partkey", "p_partkey", num_bits=1 << 16, num_hashes=3
    )
    return matched.groupBy("l_partkey").agg(
        F.count("*").alias("n_items"),
        F.sum("l_quantity").cast("long").alias("total_qty"),
    )


@register(
    "sc10_variant_functions",
    oracle="""
WITH j AS (
    SELECT event_id,
           '{"id": ' || CAST(event_id AS VARCHAR)
             || ', "meta": {"type": "' || event_type
             || '", "u": ' || CAST(user_id AS VARCHAR)
             || '}, "tags": ["evt", "' || event_type || '"]}' AS doc,
           props
    FROM events
)
SELECT event_id,
       CAST(json_extract(doc, '$.id') AS BIGINT) AS vid,
       json_extract_string(doc, '$.meta.type') AS vtype,
       CAST(json_extract(doc, '$.meta.u') AS BIGINT) AS vu,
       json_extract_string(doc, '$.tags[1]') AS tag1,
       CAST(json_extract(doc, '$.missing') AS BIGINT) AS missing,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k
FROM j
""",
    doc="VARIANT semi-structured surface (Spark 4): parse_json into "
    "the binary VARIANT type, then typed variant_get path extraction "
    "(nested object fields, array index, absent path -> NULL via "
    "try_variant_get) over per-row synthesized JSON plus the fixture's "
    "props column. VARIANT is the 100 TB answer to schema-on-read "
    "telemetry: one binary-encoded column, shredded access without "
    "re-parsing text per path. DuckDB oracle extracts the same paths "
    "with its JSON functions — parity on values, not function names.",
)
def sc10_variant_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"id": '),
        F.col("event_id").cast("string"),
        F.lit(', "meta": {"type": "'),
        F.col("event_type"),
        F.lit('", "u": '),
        F.col("user_id").cast("string"),
        F.lit('}, "tags": ["evt", "'),
        F.col("event_type"),
        F.lit('"]}'),
    )
    j = ev.select("event_id", F.parse_json(doc).alias("v"), F.parse_json("props").alias("p"))
    return j.select(
        "event_id",
        F.variant_get("v", "$.id", "bigint").alias("vid"),
        F.variant_get("v", "$.meta.type", "string").alias("vtype"),
        F.variant_get("v", "$.meta.u", "bigint").alias("vu"),
        F.variant_get("v", "$.tags[1]", "string").alias("tag1"),
        F.try_variant_get("v", "$.missing", "bigint").alias("missing"),
        F.variant_get("p", "$.k", "bigint").alias("k"),
    )


@register(
    "g17_approx_top_k",
    oracle="""
SELECT event_type AS item,
       CAST(count(*) AS BIGINT) AS est
FROM events
GROUP BY event_type
""",
    doc="Heavy-hitter sketch via the approx_top_k aggregate (Spark 4): "
    "bounded-memory top-k item tracking in one pass — the built-in "
    "companion to the hand-built count-min sketch (g15). Tracked-item "
    "budget (10k) exceeds the column's cardinality here, so the "
    "estimates are exact and the whole result is oracle-checkable "
    "against a plain GROUP BY; k also exceeds the cardinality so no "
    "tie at the k boundary can change the selected set. At real "
    "cardinalities the same call degrades gracefully to approximate "
    "counts in fixed memory.",
)
def g17_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    topk = ev.agg(
        F.expr("approx_top_k(event_type, 20, 10000)").alias("tk")
    )
    return topk.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("item"), F.col("e.count").cast("long").alias("est")
    )


def _basket_pairs(
    li: DataFrame, ordered: bool = False, with_orderkey: bool = False
) -> DataFrame:
    """Multiset of per-order basket pairs ``(src, dst)`` — value-
    identical to the lineitem orderkey self-join's pair multiset but
    narrow where the self-join shuffles the fact table: baskets per
    order are bounded (TPC-H: <= 7 lineitems), so groupBy +
    per-row expansion is one exchange + codegen work.

    The expansion is two chained generators — explode the basket once
    for src, re-explode it for dst, filter — which stays inside
    WholeStageCodegen. The previous nested transform/filter/flatten
    HOF built the same pairs through interpreted lambda evaluators
    and an O(basket^2) struct array per row (measured r12: 1.0s vs
    1.4-1.7s warm at sf0.1 for the distinct edge build, identical
    pair sets).

    ``ordered=True`` keeps ``src < dst`` only (canonical orientation,
    gr2/gr3/gr8); default keeps both orientations (``src != dst``).
    ``with_orderkey=True`` carries ``l_orderkey`` as ``ok`` (the
    support-counting variant gr6 needs)."""
    per_order = li.groupBy("l_orderkey").agg(
        F.collect_list("l_partkey").alias("ps")
    )
    head = ["ok"] if with_orderkey else []
    expanded = per_order.select(
        F.col("l_orderkey").alias("ok"),
        F.explode("ps").alias("src"),
        F.col("ps"),
    ).select(*head, "src", F.explode("ps").alias("dst"))
    cond = (
        F.col("src") < F.col("dst") if ordered else F.col("src") != F.col("dst")
    )
    return expanded.filter(cond)


def _copurchase_edges(li: DataFrame, with_orderkey: bool = False) -> DataFrame:
    """Directed co-purchase edge set (both orientations, src != dst,
    distinct) via :func:`_basket_pairs` — same pair set as the
    orderkey self-join, fact table never self-joins."""
    pairs = _basket_pairs(li, with_orderkey=with_orderkey)
    if with_orderkey:
        return pairs.select("ok", "src", "dst").distinct()
    return pairs.select("src", "dst").distinct()


def _pagerank_oracle(iters: int = 5) -> str:
    from kafka_flink_spark.operators.graph import PR_DAMP_DEN, PR_DAMP_NUM, PR_SCALE

    base = f"(SELECT ({PR_SCALE} * {PR_DAMP_DEN - PR_DAMP_NUM}) // ({PR_DAMP_DEN} * n) FROM nn)"
    levels = []
    for k in range(iters):
        levels.append(
            f"""pr{k + 1} AS (
    SELECT nd.id, CAST({base} + coalesce(s.c, 0) AS BIGINT) AS pr
    FROM nodes nd LEFT JOIN (
        SELECT e.dst AS id,
               sum(({PR_DAMP_NUM} * p.pr) // ({PR_DAMP_DEN} * d.deg)) AS c
        FROM pr{k} p JOIN edges e ON e.src = p.id JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    ) s ON s.id = nd.id
)"""
        )
    chain = ",\n".join(levels)
    return f"""
WITH pairs AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
edges AS (SELECT src, dst FROM pairs),
nodes AS (SELECT DISTINCT l_partkey AS id FROM lineitem),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM nodes),
pr0 AS (SELECT id, {PR_SCALE} // (SELECT n FROM nn) AS pr FROM nodes),
{chain}
SELECT id AS part_id, pr AS pr_e12 FROM pr{iters}
"""


@register(
    "gr1_pagerank_copurchase",
    oracle=_pagerank_oracle(5),
    doc="PageRank over the part co-purchase graph (parts sharing an "
    "order are neighbors), 5 power iterations in INTEGER fixed point "
    "(operators/graph.py: scaled-long ranks, every update an integer "
    "multiply/divide) — bit-reproducible under any partitioning or "
    "engine, so an iterative float algorithm becomes fully "
    "oracle-checkable (unrolled-SQL oracle). Pregel cost model: one "
    "edges-ranks join + one aggregation per round, lineage truncated "
    "per round with pin.",
)
def gr1_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Edge build via per-order basket expansion (_copurchase_edges:
    # same pair set as the orderkey self-join, no fact-table
    # self-join). pagerank pins the edge relation before
    # deriving degrees, so the build + distinct executes exactly once
    # regardless of how many downstream consumers read it.
    edges = _copurchase_edges(li)
    nodes = li.select(F.col("l_partkey").alias("id")).distinct()
    pr = pagerank(nodes, edges, "id", iterations=5)
    return pr.select(F.col("id").alias("part_id"), F.col("pr").alias("pr_e12"))


@register(
    "sc11_collation_group",
    oracle="""
WITH v AS (
    SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                ELSE lower(c_mktsegment) END AS seg
    FROM customer
)
SELECT lower(seg) AS segment, CAST(count(*) AS BIGINT) AS n_customers
FROM v
GROUP BY lower(seg)
""",
    doc="Collation-aware grouping (Spark 4 string collations): a "
    "mixed-case segment column grouped under UTF8_LCASE merges case "
    "variants WITHOUT rewriting the data — the collation is a type "
    "property the whole comparison/aggregation machinery respects "
    "(vs the lower() rewrite the oracle uses), which at 100 TB means "
    "case-insensitive joins and groupBys without materializing "
    "normalized copies of string columns. Group representative is "
    "normalized with lower() for engine-independent comparison.",
)
def sc11_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    v = c.select(
        F.when(F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment"))
        .otherwise(F.lower("c_mktsegment"))
        .alias("seg")
    )
    return (
        v.groupBy(F.expr("collate(seg, 'UTF8_LCASE')").alias("cseg"))
        .agg(F.count("*").cast("long").alias("n_customers"))
        .select(
            F.lower(F.col("cseg").cast("string")).alias("segment"), "n_customers"
        )
    )


@register(
    "gr2_triangle_count",
    oracle="""
WITH co AS (
    SELECT least(a.l_partkey, b.l_partkey) AS src,
           greatest(a.l_partkey, b.l_partkey) AS dst,
           count(*) AS w
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
),
e AS (SELECT DISTINCT src, dst FROM co WHERE w >= 2),
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
wedges AS (
    SELECT e1.dst AS b, e2.dst AS c
    FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
),
tris AS (SELECT count(*) AS n FROM wedges w JOIN e ON w.b = e.src AND w.c = e.dst)
SELECT CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT n FROM tris) AS BIGINT) AS n_triangles
""",
    doc="Triangle counting over the strong co-purchase graph (parts "
    "co-ordered at least twice) via canonical low-to-high edge "
    "orientation (operators/graph.triangle_count): orientation caps "
    "per-node wedge fan-out near sqrt(|E|) under degree skew — the "
    "standard distributed-triangles trick. Two edge-keyed shuffle "
    "joins + scalar aggregates; the graph-clustering signal next to "
    "PageRank (gr1).",
)
def gr2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # oriented basket pairs via groupBy + per-row expansion (same
    # rationale as gr1: the basket per order is bounded, so pair
    # expansion is narrow and the fact table never self-joins)
    # collect_list (not set): the pair weight counts LINE-level
    # co-occurrences, same multiset as the a.l_partkey < b.l_partkey
    # line self-join the oracle mirrors
    pairs = _basket_pairs(li, ordered=True)
    strong = (
        pairs.groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    return triangle_count(strong)


@register(
    "gr3_connected_components",
    oracle="""
WITH RECURSIVE co AS (
    SELECT least(a.l_partkey, b.l_partkey) AS src,
           greatest(a.l_partkey, b.l_partkey) AS dst,
           count(*) AS w
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
),
e AS (SELECT DISTINCT src, dst FROM co WHERE w >= 2),
ee AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
nodes AS (SELECT DISTINCT l_partkey AS id FROM lineitem),
reach(a, b) AS (
    SELECT id, id FROM nodes
    UNION
    SELECT r.a, ee.dst FROM reach r JOIN ee ON r.b = ee.src
),
comp AS (
    SELECT a AS part_id, CAST(min(b) AS BIGINT) AS component_id
    FROM reach GROUP BY a
)
SELECT part_id, component_id,
       CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT)
           AS component_size
FROM comp
""",
    doc="Weakly-connected components over the strong co-purchase "
    "graph (parts co-ordered at least twice, gr2's edge set; parts "
    "never co-ordered twice are singleton components) via the public "
    "operators/graph.connected_components wrapper around the min-"
    "label pointer-doubling core (operators/dedup.dedup_clusters): "
    "O(log diameter) rounds, one edge join + min-aggregate each, "
    "lineage cut per round. The most-requested graph primitive after "
    "PageRank; iterative, so the oracle is a recursive CTE.",
)
def gr3_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.graph import connected_components

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = _basket_pairs(li, ordered=True)
    strong = (
        pairs.groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    nodes = li.select(F.col("l_partkey").alias("id")).distinct()
    cc = connected_components(nodes, strong, "id")
    return cc.select(
        F.col("id").alias("part_id"), "component_id", "component_size"
    )


@register(
    "j10_range_join_binned",
    oracle="""
WITH e AS (SELECT event_id, epoch_us(ts) AS us FROM events)
SELECT a.event_id AS id_a, b.event_id AS id_b,
       CAST(b.us - a.us AS BIGINT) AS dt_us
FROM e a JOIN e b
  ON a.event_id < b.event_id AND abs(a.us - b.us) <= 60 * 1000000
""",
    doc="Big×big range join via bucket binning (operators/rangejoin."
    "temporal_proximity_pairs): all event pairs within 60 s of each "
    "other. Spark plans a bare |Δt|<=r predicate as a broadcast-"
    "nested-loop; the rewrite bins both sides at the radius, explodes "
    "the left to bin±1 and equi-joins on the RIGHT row's own bin — a "
    "partition-parallel shuffled hash join emitting each qualifying "
    "pair exactly once, fan-in per bin bounded by event density × "
    "radius (salt hot bins with operators/skew.py under spikes).",
)
def j10_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.rangejoin import temporal_proximity_pairs

    ev = load_table(spark, sf_dir, "events")
    return temporal_proximity_pairs(ev, radius_seconds=60).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), F.col("dt_us").cast("long")
    )


@register(
    "g18_exact_percentiles",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
       round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Exact interpolated percentiles per group (linear/type-7, the "
    "definition Spark's percentile and DuckDB's quantile_cont share). "
    "The exact-answer twin of the GK sketch (g13): exact needs a "
    "per-group sort — at 100 TB reach for g13 unless the group "
    "cardinality bounds the sort; both live in the registry so the "
    "trade-off is a one-line swap.",
)
def g18_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # One array-argument percentile aggregate: the exact aggregate
    # buffers + sorts each group's values once per aggregate call, so
    # folding the three quartiles into one call does the work once
    # (the fe4 measurement; bit-identical values).
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
            ).alias("_q"),
            F.count("*").cast("long").alias("n"),
        )
        .select(
            "l_returnflag",
            F.round(F.col("_q")[0], 6).alias("p25"),
            F.round(F.col("_q")[1], 6).alias("p50"),
            F.round(F.col("_q")[2], 6).alias("p75"),
            "n",
        )
    )


@register(
    "j11_fuzzy_name_match",
    oracle="""
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
""",
    doc="Blocked fuzzy matching (entity resolution): part names "
    "compared by Levenshtein edit distance WITHIN brand blocks — the "
    "blocking-key equi-join is what keeps the quadratic comparison "
    "confined to block-sized groups instead of the full cross "
    "product; at 100 TB the blocking key (brand, sorted-token "
    "prefix, phonetic code...) is the design choice, the dataflow is "
    "this one. Distance evaluates in codegen (built-in levenshtein), "
    "pairs emitted once via key ordering.",
)
def j11_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(dist <= 2)
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            dist.cast("long").alias("edit_dist"),
        )
    )


@register(
    "w5_distribution_ranks",
    oracle="""
SELECT s_suppkey,
       CAST(s_nationkey AS BIGINT) AS s_nationkey,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
""",
    doc="Distribution-rank window surface (percent_rank / cume_dist / "
    "ntile quartiles) over supplier balances per nation — the "
    "percentile-position analytics w3's rank family doesn't cover. "
    "Fully-qualified ordering (balance, suppkey) makes every value "
    "deterministic. One hash exchange on the partition key; all three "
    "functions share the single per-nation sort.",
)
def w5_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return s.select(
        "s_suppkey",
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "g19_mode_median_minmax_by",
    oracle="""
WITH qc AS (
    SELECT l_returnflag, l_quantity, count(*) AS c
    FROM lineitem GROUP BY l_returnflag, l_quantity
),
ranked AS (
    SELECT l_returnflag, l_extendedprice,
           row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
                        l_quantity, l_extendedprice) AS rn,
           count(*) OVER (PARTITION BY l_returnflag) AS cnt
    FROM lineitem
),
fl AS (
    SELECT l_returnflag,
           round(max(CASE WHEN rn = 1 THEN l_extendedprice END), 6) AS first_price,
           round(max(CASE WHEN rn = cnt THEN l_extendedprice END), 6) AS last_price
    FROM ranked GROUP BY l_returnflag
),
mm AS (
    SELECT l_returnflag, round(median(l_extendedprice), 6) AS median_price
    FROM lineitem GROUP BY l_returnflag
)
SELECT mm.l_returnflag,
       CAST((SELECT min(l_quantity) FROM qc
             WHERE l_returnflag = mm.l_returnflag
               AND c = (SELECT max(c) FROM qc WHERE l_returnflag = mm.l_returnflag))
            AS BIGINT) AS mode_qty,
       mm.median_price, fl.first_price, fl.last_price
FROM mm JOIN fl ON mm.l_returnflag = fl.l_returnflag
""",
    doc="Mode / median / min_by / max_by aggregate surface with "
    "DETERMINISTIC tie semantics: Spark's mode() picks an arbitrary "
    "value on tied counts, so the mode here is max_by over "
    "(count, -value) — smallest value among the most frequent — "
    "identical in both engines; median() is the exact interpolated "
    "percentile; min_by/max_by pick the price of the first/last "
    "lineitem by the total (orderkey, linenumber) order. All four are "
    "single-exchange grouped aggregates (mode pre-aggregates "
    "(flag, qty) counts first — two map-side-combined exchanges "
    "total, never a per-group sort).",
)
def g19_mode_median_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qc = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("c"))
    mode = qc.groupBy("l_returnflag").agg(
        F.max_by(
            "l_quantity", F.struct(F.col("c"), (-F.col("l_quantity")).alias("nv"))
        )
        .cast("long")
        .alias("mode_qty")
    )
    # (orderkey, linenumber) alone is NOT unique in the synthetic
    # fixture; the full 6-tuple is (verified at every SF) — total
    # order makes first/last engine-independent
    pos = F.struct(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice",
    )
    rest = li.groupBy("l_returnflag").agg(
        F.round(F.median("l_extendedprice"), 6).alias("median_price"),
        F.round(F.min_by("l_extendedprice", pos), 6).alias("first_price"),
        F.round(F.max_by("l_extendedprice", pos), 6).alias("last_price"),
    )
    return rest.join(F.broadcast(mode), "l_returnflag").select(
        "l_returnflag", "mode_qty", "median_price", "first_price", "last_price"
    )


@register(
    "set4_bag_semantics",
    oracle="""
WITH c AS (SELECT c_nationkey AS k FROM customer),
s AS (SELECT s_nationkey AS k FROM supplier),
ia AS (SELECT k FROM c INTERSECT ALL SELECT k FROM s),
ea AS (SELECT k FROM c EXCEPT ALL SELECT k FROM s)
SELECT 'intersect_all' AS op, CAST(k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n
FROM ia GROUP BY k
UNION ALL
SELECT 'except_all' AS op, CAST(k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n
FROM ea GROUP BY k
""",
    doc="Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL — "
    "the multiset forms set1-set3's distinct variants don't cover): "
    "duplicate multiplicities follow the SQL standard min(m,n) / "
    "max(m-n,0) rules. Catalyst plans both as aggregate+join on "
    "per-side counts — no row-pairing blowup; the result is grouped "
    "to (op, key, multiplicity) so the oracle compare is "
    "order-insensitive.",
)
def set4_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    ia = (
        c.intersectAll(s)
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.lit("intersect_all").alias("op"), F.col("k").cast("long"), "n")
    )
    ea = (
        c.exceptAll(s)
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.lit("except_all").alias("op"), F.col("k").cast("long"), "n")
    )
    return ia.unionByName(ea)


@register(
    "g20_bitmap_distinct",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(DISTINCT CAST(ceil(user_id / 32768.0) AS BIGINT)) AS BIGINT)
           AS n_buckets_touched
FROM events
GROUP BY event_type
""",
    doc="Bitmap-aggregate distinct counting (Spark 3.5 bitmap family: "
    "bitmap_bit_position / bitmap_construct_agg / bitmap_count, with "
    "bitmap_or_agg merging per-bucket partials): each 32k-id bucket "
    "becomes a fixed 4KB bitmap, so the exact-distinct state is "
    "bounded and MERGEABLE — the exact-answer sibling of the HLL "
    "sketch (g7) for id spaces you can afford to bitmap, and the "
    "standard warehouse pattern for pre-aggregated distinct rollups. "
    "The oracle checks the bitmap path against plain count(DISTINCT) "
    "— equal by construction, which is the point.",
)
def g20_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # two-level build proves mergeability: shard-local bitmaps first
    # (construct_agg), then OR-merged per bucket (or_agg) — exactly how
    # pre-aggregated daily bitmaps roll up to monthly distincts
    per_shard = (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
            F.pmod("user_id", F.lit(4)).alias("shard"),
        )
        .groupBy("event_type", "bucket", "shard")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    per_bucket = per_shard.groupBy("event_type", "bucket").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    return per_bucket.groupBy("event_type").agg(
        F.expr("sum(bitmap_count(bm))").cast("long").alias("n_users"),
        F.count("*").cast("long").alias("n_buckets_touched"),
    )


@register(
    "sc12_try_functions",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_orderkey % 5 = 0 THEN NULL
            ELSE round(o_totalprice / (o_orderkey % 5), 6) END AS safe_div,
       TRY_CAST(CASE WHEN o_orderkey % 3 = 0 THEN 'oops'
                     ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT) AS safe_cast,
       CASE WHEN o_orderkey % 7 = 0 THEN NULL
            ELSE CAST(9223372036854775807 - o_orderkey AS BIGINT) END AS safe_add
FROM orders
WHERE o_orderkey <= 2000
""",
    doc="Error-safe expression surface (ANSI try_* family): "
    "try_divide NULLs division-by-zero, try_cast NULLs malformed "
    "input, try_add NULLs LONG overflow — instead of failing the "
    "whole 100 TB job on one bad row (ANSI mode) or silently wrapping "
    "(legacy mode). The oracle mirrors each NULL-production rule with "
    "explicit CASE guards, which is precisely the semantics contract: "
    "errors become NULLs, values are otherwise untouched.",
)
def sc12_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter("o_orderkey <= 2000")
    return o.select(
        "o_orderkey",
        F.round(F.expr("try_divide(o_totalprice, o_orderkey % 5)"), 6).alias("safe_div"),
        F.expr(
            "try_cast(CASE WHEN o_orderkey % 3 = 0 THEN 'oops' "
            "ELSE CAST(o_orderkey AS STRING) END AS BIGINT)"
        ).alias("safe_cast"),
        F.expr(
            "CASE WHEN o_orderkey % 7 = 0 "
            "THEN try_add(9223372036854775807, o_orderkey + 1) "
            "ELSE try_add(9223372036854775807, -o_orderkey) END"
        ).alias("safe_add"),
    )


_BOM_SQL = """
WITH RECURSIVE bom AS (
    SELECT CAST(0 AS BIGINT) AS part_key, 0 AS depth
    UNION ALL
    SELECT p.p_partkey AS part_key, b.depth + 1 AS depth
    FROM part p JOIN bom b
      ON CAST(floor(p.p_partkey / 3) AS BIGINT) = b.part_key
     AND p.p_partkey > 0
)
SELECT depth,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(min(part_key) AS BIGINT) AS min_key,
       CAST(max(part_key) AS BIGINT) AS max_key
FROM bom
WHERE depth > 0
GROUP BY depth
"""


@register(
    "r2_recursive_bom_explosion",
    oracle=_BOM_SQL,
    doc="Recursive CTE graph walk (the bill-of-materials explosion "
    "idiom, beside r1's linear date spine): a synthetic assembly "
    "forest parent(k) = floor(k/3) over part keys is traversed "
    "top-down — each recursion step is a fully DISTRIBUTED join of "
    "the frontier against the part table, depth ~ log3(|part|) "
    "iterations (the frontier grows 3x per level, never revisits a "
    "node: acyclic by construction). Per-level counts + key ranges "
    "come out; identical WITH RECURSIVE text runs on both engines.",
)
def r2_recursive_bom_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_BOM_SQL)


@register(
    "g21_listagg_ordered",
    oracle="""
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       CAST(count(*) AS BIGINT) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    doc="Ordered string aggregation (Spark 4 listagg WITHIN GROUP / "
    "DuckDB string_agg ORDER BY): deterministic because the WITHIN "
    "GROUP ordering is total — without it, concatenation order would "
    "be partition-dependent and the whole query non-reproducible. "
    "Use bounded groups only: the aggregate state is the "
    "concatenated string itself (this is the one aggregate whose "
    "state does NOT stay constant-size - at 100 TB cap group "
    "cardinality or use collect_list+slice).",
)
def g21_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return j.groupBy("r_name").agg(
        F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias("nations"),
        F.count("*").cast("long").alias("n_nations"),
    )


@register(
    "w6_null_aware_window_nav",
    oracle="""
WITH base AS (
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE o_totalprice END AS p
    FROM orders WHERE o_orderkey <= 4000
)
SELECT o_orderkey,
       round(first_value(p IGNORE NULLS) OVER w, 2) AS first_nn,
       round(last_value(p IGNORE NULLS) OVER w, 2) AS last_nn,
       round(nth_value(p, 2 IGNORE NULLS) OVER w, 2) AS second_nn,
       round(lag(p IGNORE NULLS) OVER
           (PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS prev_nn
FROM base
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    doc="Null-aware window navigation (IGNORE NULLS forms of "
    "first_value / last_value / nth_value / lag) — the "
    "last-known-good / previous-non-null-reading idiom sensor and "
    "finance pipelines rely on, which the plain navigation functions "
    "(w2/w3) cannot express. Every spec shares one hash exchange + "
    "per-custkey sort.",
)
def w6_null_aware_window_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").filter("o_orderkey <= 4000")
    base = o.select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 4 == 0, F.lit(None)).otherwise(
            F.col("o_totalprice")
        ).alias("p"),
    )
    w_full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_lag = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return base.select(
        "o_orderkey",
        F.round(F.first("p", ignorenulls=True).over(w_full), 2).alias("first_nn"),
        F.round(F.last("p", ignorenulls=True).over(w_full), 2).alias("last_nn"),
        F.round(F.nth_value("p", 2, ignoreNulls=True).over(w_full), 2).alias("second_nn"),
        # pyspark's F.lag has no ignorenulls kwarg; the SQL form does
        F.round(F.expr("lag(p) IGNORE NULLS").over(w_lag), 2).alias("prev_nn"),
    )


@register(
    "sub4_not_in_null_semantics",
    oracle="""
SELECT 'not_in_with_null' AS variant,
       CAST((SELECT count(*) FROM customer
             WHERE c_custkey NOT IN
                   (SELECT CASE WHEN o_orderkey % 50 = 0 THEN NULL
                                ELSE o_custkey END
                    FROM orders)) AS BIGINT) AS n_rows
UNION ALL
SELECT 'not_in_null_free',
       CAST((SELECT count(*) FROM customer
             WHERE c_custkey NOT IN
                   (SELECT o_custkey FROM orders
                    WHERE o_orderkey % 50 <> 0)) AS BIGINT)
UNION ALL
SELECT 'not_exists_equivalent',
       CAST((SELECT count(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
""",
    doc="NOT IN three-valued-logic semantics - the classic SQL "
    "correctness trap an engine must implement exactly: one NULL in "
    "the subquery list makes every NOT IN row UNKNOWN, so the "
    "with-null variant returns 0 rows while the null-free variant "
    "returns the real complement, and NOT EXISTS (null-immune) gives "
    "the intent. Catalyst plans NOT IN as null-aware anti join "
    "(NAAJ); identical ANSI semantics on both engines.",
)
def sub4_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
SELECT 'not_in_with_null' AS variant,
       CAST((SELECT count(*) FROM customer
             WHERE c_custkey NOT IN
                   (SELECT CASE WHEN o_orderkey % 50 = 0 THEN NULL
                                ELSE o_custkey END
                    FROM orders)) AS BIGINT) AS n_rows
UNION ALL
SELECT 'not_in_null_free',
       CAST((SELECT count(*) FROM customer
             WHERE c_custkey NOT IN
                   (SELECT o_custkey FROM orders
                    WHERE o_orderkey % 50 <> 0)) AS BIGINT)
UNION ALL
SELECT 'not_exists_equivalent',
       CAST((SELECT count(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
"""
    )


@register(
    "j12_salted_skew_join",
    oracle=f"""
SELECT CAST(s_nationkey AS BIGINT) AS nation,
       CAST(count(*) AS BIGINT) AS n_items,
       {_rev_sum_sql()} AS revenue
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
""",
    doc="Explicitly salted skew join (operators/skew.py): the fact "
    "side carries a deterministic xxhash64 row salt, the dimension "
    "side replicates once per salt value, and the join key becomes "
    "(key, salt) — a formerly-hot reducer key fans out over "
    "num_salts evenly-loaded ones. Semantically identical to the "
    "plain equi-join (this oracle), which is the point: salting is a "
    "physical rewrite, not a semantic one. At 100 TB this is the "
    "tool for the skew AQE splitting can't fix — every split of a "
    "hot partition still joins the FULL matching build side, whereas "
    "the salt spreads the probe rows themselves. Deterministic salt "
    "(hash of row content, never rand()) keeps retried/speculated "
    "tasks exactly-once.",
)
def j12_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(li, sup, on="l_suppkey", num_salts=8)
    return joined.groupBy(F.col("s_nationkey").cast("long").alias("nation")).agg(
        F.count("*").cast("long").alias("n_items"),
        _rev_sum(1 - F.col("l_discount")).alias("revenue"),
    )


@register(
    "g22_hot_key_distinct_twophase",
    oracle="""
SELECT o_orderpriority,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderpriority
""",
    doc="Exact two-phase distinct count over HOT grouping keys "
    "(operators/skew.two_phase_agg): 5 priority values over the whole "
    "orders table means a naive count(DISTINCT) funnels everything "
    "into 5 reducers. Phase 1 groups on (priority, salt) — the salt "
    "is a deterministic hash of the projected (priority, custkey) "
    "row, so EVERY occurrence of a given custkey within a priority "
    "lands in the SAME salt bucket; per-bucket distinct sets are "
    "therefore disjoint and phase 2's sum-of-counts is exact, not "
    "approximate. The disjointness precondition is structural: "
    "project the frame to (keys, distinct-col) BEFORE salting so the "
    "whole-row hash depends on nothing else. At 100 TB this turns 5 "
    "distinct-state reducers into 5 × num_salts bounded ones; plain "
    "counts ride along in the same pass (sum-of-counts algebra).",
)
def g22_hot_key_distinct_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.skew import two_phase_agg

    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    return two_phase_agg(
        o,
        keys=["o_orderpriority"],
        partial_aggs=[
            F.count_distinct("o_custkey").alias("_nd"),
            F.count("*").alias("_n"),
        ],
        final_aggs=[
            F.sum("_nd").alias("n_customers"),
            F.sum("_n").alias("n_orders"),
        ],
        num_salts=16,
    )


def _lpa_oracle(iters: int = 2) -> str:
    return f"""
WITH {_lpa_cte_chain(iters)}
SELECT id AS part_id,
       CAST(label AS BIGINT) AS community_id,
       CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
FROM l{iters}
"""


def _lpa_cte_chain(iters: int = 2) -> str:
    """The LPA unrolled-CTE body (edges/nodes/l0..l{iters}) shared by
    gr4's oracle and gr9's modularity tail."""
    levels = []
    for k in range(iters):
        levels.append(
            f"""m{k + 1} AS (
    SELECT id, label, count(*) AS n FROM (
        SELECT e.src AS id, l.label FROM edges e JOIN l{k} l ON e.dst = l.id
        UNION ALL SELECT id, label FROM l{k}
    ) GROUP BY 1, 2
),
p{k + 1} AS (
    SELECT id, label FROM (
        SELECT id, label,
               row_number() OVER (PARTITION BY id ORDER BY n DESC, label) AS rn
        FROM m{k + 1}
    ) WHERE rn = 1
),
l{k + 1} AS (
    SELECT nd.id, coalesce(p.label, l.label) AS label
    FROM nodes nd
    JOIN l{k} l ON l.id = nd.id
    LEFT JOIN p{k + 1} p ON p.id = nd.id
)"""
        )
    chain = ",\n".join(levels)
    return f"""edges AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
nodes AS (SELECT DISTINCT l_partkey AS id FROM lineitem),
l0 AS (SELECT id, id AS label FROM nodes),
{chain}"""


@register(
    "gr4_label_propagation",
    oracle=_lpa_oracle(2),
    doc="Label-propagation community detection over the part "
    "co-purchase graph (LPA, Raghavan et al. 2007) — 2 fully "
    "synchronous SELF-INCLUSIVE rounds with min-label tie-break, "
    "which make the normally order-randomized algorithm "
    "deterministic (the self-vote anchors the synchronous scheme's "
    "bipartite oscillation) and oracle-checkable via unrolled SQL "
    "(the gr1 technique). "
    "operators/graph.label_propagation: per round one edge-keyed "
    "join + a (node, label) count + an integer-exact argmax (min "
    "over a (-count, label) struct), lineage truncated per round — "
    "the same Pregel cost model as PageRank, no floats anywhere. "
    "Completes the graph family: ranking (gr1), motifs (gr2), "
    "connectivity (gr3), communities (gr4).",
)
def gr4_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # basket-expansion edge build (_copurchase_edges: same pair set
    # as the orderkey self-join, no fact-table self-join)
    edges = _copurchase_edges(li)
    nodes = li.select(F.col("l_partkey").alias("id")).distinct()
    lp = label_propagation(nodes, edges, "id", iterations=2)
    return lp.select(
        F.col("id").alias("part_id"), "community_id", "community_size"
    )


@register(
    "g23_pareto_frontier",
    oracle="""
WITH p AS (
    SELECT p_partkey,
           CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
           p_size
    FROM part
)
SELECT q.p_partkey, q.price_cents, q.p_size
FROM p q
WHERE NOT EXISTS (
    SELECT 1 FROM p d
    WHERE d.price_cents <= q.price_cents AND d.p_size >= q.p_size
      AND (d.price_cents < q.price_cents OR d.p_size > q.p_size)
)
""",
    doc="2D skyline / Pareto frontier over part (minimize price, "
    "maximize size): the parts for which no other part is both "
    "cheaper-or-equal and larger-or-equal with one strict — the "
    "classic dominance query (SKYLINE OF). operators/skyline."
    "skyline_2d: the single-machine sort + running-min identity "
    "distributed as equal-width value buckets (one broadcast span "
    "row), a bucket-parallel RANGE-frame prev-min window, and a "
    "B-row exclusive cumulative-min handoff broadcast back — one "
    "shuffle of the rows, no self-join, where the naive NOT EXISTS "
    "plan (the oracle, fine at fixture scale) is quadratic. "
    "Duplicate (price, size) points co-survive on both engines.",
)
def g23_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.skyline import skyline_2d

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        "p_size",
    )
    sky = skyline_2d(
        p.withColumn("_negsize", -F.col("p_size")), "price_cents", "_negsize"
    )
    return sky.select("p_partkey", "price_cents", "p_size")


def _bfs_oracle(hops: int = 3) -> str:
    inf = 1 << 40
    levels = []
    for k in range(hops):
        levels.append(
            f"""nb{k + 1} AS (
    SELECT e.src AS id, min(d.dist) + 1 AS nb
    FROM edges e JOIN d{k} d ON e.dst = d.id
    WHERE d.dist IS NOT NULL GROUP BY 1
),
d{k + 1} AS (
    SELECT d.id,
           nullif(least(coalesce(d.dist, {inf}), coalesce(n.nb, {inf})), {inf})
               AS dist
    FROM d{k} d LEFT JOIN nb{k + 1} n ON n.id = d.id
)"""
        )
    chain = ",\n".join(levels)
    return f"""
WITH edges AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
nodes AS (SELECT DISTINCT l_partkey AS id FROM lineitem),
seed AS (
    SELECT DISTINCT l_partkey AS id FROM lineitem
    WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
),
d0 AS (
    SELECT n.id, CASE WHEN s.id IS NOT NULL THEN CAST(0 AS BIGINT) END AS dist
    FROM nodes n LEFT JOIN seed s ON s.id = n.id
),
{chain}
SELECT id AS part_id, CAST(dist AS BIGINT) AS hops FROM d{hops}
"""


@register(
    "gr5_bfs_levels",
    oracle=_bfs_oracle(3),
    doc="Multi-source BFS hop distances over the part co-purchase "
    "graph, seeded by the parts of the FIRST order (min orderkey): "
    "per part, hops to the nearest seed within 3 rounds, NULL if "
    "unreached — the path-finding primitive (impact radius / blast "
    "zone). operators/graph.bfs_levels: the gr1/gr4 Pregel loop — "
    "per round one edge-keyed join + a map-side-combinable min "
    "aggregate + a least() merge, lineage truncated per round; the "
    "frontier never materializes separately because min(dist)+1 is "
    "monotone (re-relaxing settled nodes is absorbed by the "
    "aggregate). Integer distances, unrolled-SQL oracle. The graph "
    "family is now ranking (gr1), motifs (gr2), connectivity (gr3), "
    "communities (gr4), paths (gr5).",
)
def gr5_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.graph import bfs_levels

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # basket-expansion edge build (_copurchase_edges: same pair set
    # as the orderkey self-join, no fact-table self-join)
    edges = _copurchase_edges(li)
    nodes = li.select(F.col("l_partkey").alias("id")).distinct()
    first_order = li.agg(F.min("l_orderkey").alias("k"))
    seed = (
        li.join(F.broadcast(first_order), li.l_orderkey == F.col("k"))
        .select(F.col("l_partkey").alias("id"))
        .distinct()
    )
    d = bfs_levels(nodes, edges, seed, "id", max_hops=3)
    return d.select(F.col("id").alias("part_id"), F.col("dist").alias("hops"))


@register(
    "fe1_decile_binning",
    oracle="""
WITH edges AS (
    SELECT [round(e, 6) FOR e IN
            quantile_cont(l_extendedprice,
                          [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])] AS es
    FROM lineitem
),
binned AS (
    SELECT CAST(1 + CAST(l.l_extendedprice > es[1] AS INT) + CAST(l.l_extendedprice > es[2] AS INT) + CAST(l.l_extendedprice > es[3] AS INT) + CAST(l.l_extendedprice > es[4] AS INT) + CAST(l.l_extendedprice > es[5] AS INT) + CAST(l.l_extendedprice > es[6] AS INT) + CAST(l.l_extendedprice > es[7] AS INT) + CAST(l.l_extendedprice > es[8] AS INT) + CAST(l.l_extendedprice > es[9] AS INT) AS BIGINT) AS bin,
           l.l_extendedprice, l.l_returnflag
    FROM lineitem l, edges
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n,
       min(l_extendedprice) AS lo,
       max(l_extendedprice) AS hi,
       round((sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0)
             / count(*), 6) AS avg_price,
       round(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS return_rate
FROM binned
GROUP BY bin
""",
    doc="Equal-frequency decile binning (ML feature discretization) "
    "WITHOUT a global sort: the 9 interior decile edges come from one "
    "exact-percentile aggregate (type-7 interpolation, the definition "
    "Spark percentile and DuckDB quantile_cont share — g18's proven "
    "portability), broadcast as a single row, and bin assignment is "
    "nine codegen comparisons per row — where ntile() would range-"
    "shuffle and totally sort the fact table, this plan touches it "
    "with one scan + one bin-keyed exchange carrying 10 partial "
    "aggregates. The 100 TB variant swaps the exact percentile for "
    "approx_percentile and keeps the identical dataflow. Edges "
    "rounded to 6 dp on both engines before comparison so the "
    "interpolated boundary is the same double bit pattern on both "
    "sides; bin = 1 + count(edges < price) is deterministic for "
    "boundary-valued rows.",
)
def fe1_decile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_returnflag"
    )
    probs = F.array(*[F.lit(i / 10) for i in range(1, 10)])
    edges = li.agg(F.percentile("l_extendedprice", probs).alias("es_raw")).select(
        F.transform(F.col("es_raw"), lambda e: F.round(e, 6)).alias("es")
    )
    p = F.col("l_extendedprice")
    bin_expr = F.lit(1)
    for i in range(9):
        bin_expr = bin_expr + (p > F.col("es")[i]).cast("int")
    return (
        li.crossJoin(F.broadcast(edges))
        .select(
            bin_expr.cast("long").alias("bin"),
            "l_extendedprice",
            "l_returnflag",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
            # exact integer-cents mean + exact integer return count:
            # order-independent sums, one IEEE divide each (the w14
            # recipe — round(avg(double)) is the latent boundary trap)
            F.round(
                (F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0)
                / F.count("*"),
                6,
            ).alias("avg_price"),
            F.round(
                F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
                * F.lit(1.0)
                / F.count("*"),
                6,
            ).alias("return_rate"),
        )
    )


@register(
    "fe2_target_encoding",
    oracle="""
WITH b AS (
    SELECT p.p_brand,
           count(*) AS n,
           sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS r
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
),
g AS (SELECT p_brand, n, r,
             sum(n) OVER () AS n_all, sum(r) OVER () AS r_all
      FROM b)
SELECT p_brand,
       CAST(n AS BIGINT) AS n_items,
       CAST(r AS BIGINT) AS n_returns,
       round(r * 1.0 / n, 6) AS raw_rate,
       round((r + 50.0 * (r_all * 1.0 / n_all)) / (n + 50), 6) AS encoded_rate
FROM g
""",
    doc="Smoothed target encoding (the categorical-feature workhorse "
    "for tabular ML): per-brand return rate shrunk toward the global "
    "rate with pseudo-count m=50 — enc = (r + m*g)/(n + m) — so rare "
    "categories don't memorize noise. One broadcast dimension join "
    "(part is the small side), ONE pass over the fact table: the "
    "global rate derives from the already-aggregated per-brand "
    "relation (sum of its n/r columns), not a second fact scan, and "
    "joins back as a broadcast single row. At 100 TB this is a scan + "
    "one brand-keyed partial-aggregable exchange; the leakage-safe "
    "leave-one-out variant subtracts the row's own contribution from "
    "the same two broadcast aggregates at apply time — identical "
    "dataflow.",
)
def fe2_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("r"),
        )
    )
    # global totals as a window over the brand-count-sized aggregate:
    # one pass, no second fact scan, no pin needed (25 rows move to
    # one partition for the unpartitioned window — trivially cheap at
    # category cardinality)
    wall = Window.partitionBy()
    g = b.select(
        "p_brand",
        "n",
        "r",
        F.sum("n").over(wall).alias("n_all"),
        F.sum("r").over(wall).alias("r_all"),
    )
    return g.select(
        "p_brand",
        F.col("n").cast("long").alias("n_items"),
        F.col("r").cast("long").alias("n_returns"),
        F.round(F.col("r") * F.lit(1.0) / F.col("n"), 6).alias("raw_rate"),
        F.round(
            (F.col("r") + F.lit(50.0) * (F.col("r_all") * F.lit(1.0) / F.col("n_all")))
            / (F.col("n") + F.lit(50)),
            6,
        ).alias("encoded_rate"),
    )


def _kcore_oracle(k: int = 3, rounds: int = 3) -> str:
    lvls = []
    for r in range(1, rounds + 1):
        lvls.append(
            f"""d{r} AS (
    SELECT e.src AS id, count(*) AS deg FROM edges e
    JOIN a{r - 1} s ON e.src = s.id
    JOIN a{r - 1} t ON e.dst = t.id
    GROUP BY 1
),
a{r} AS (SELECT id, deg FROM d{r} WHERE deg >= {k})"""
        )
    chain = ",\n".join(lvls)
    return f"""
WITH co AS (
    SELECT DISTINCT a.l_orderkey, a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
edges AS (
    SELECT src, dst FROM co GROUP BY src, dst HAVING count(*) >= 2
),
nodes AS (SELECT DISTINCT l_partkey AS id FROM lineitem),
a0 AS (SELECT id FROM nodes),
{chain}
SELECT id AS part_id, CAST(deg AS BIGINT) AS core_degree
FROM a{rounds}
"""


@register(
    "gr6_kcore_peeling",
    oracle=_kcore_oracle(3, 3),
    doc="k-core peeling (Seidman 1983; parallel peel per Montresor et "
    "al. 2013) over the SUPPORT-FILTERED co-purchase graph: parts are "
    "linked only when they share >= 2 distinct orders (the support "
    "threshold that turns the dense co-occurrence graph into the "
    "meaningful affinity graph), then 3 synchronous rounds delete "
    "every node with alive-degree < 3; survivors carry their last-"
    "measured core degree. Fixed round count => deterministic and "
    "unrolled-SQL-checkable (the gr1/gr4 technique); with rounds >= "
    "peel depth this IS the 3-core. operators/graph.kcore: per round "
    "two alive-set semi-joins of the pinned edge list + one map-side-"
    "combinable degree count, lineage truncated per round — the same "
    "Pregel cost model as gr1/gr4/gr5. Completes the graph family "
    "with density decomposition: ranking (gr1), motifs (gr2), "
    "connectivity (gr3), communities (gr4), paths (gr5), cores (gr6).",
)
def gr6_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.graph import kcore

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # basket-expansion build of the order-carrying pair relation —
    # same (ok, src, dst) distinct set as the orderkey self-join
    # (_copurchase_edges rationale), fact table never self-joins
    co = _copurchase_edges(li, with_orderkey=True)
    edges = (
        co.groupBy("src", "dst")
        .agg(F.count("*").alias("_sup"))
        .filter(F.col("_sup") >= 2)
        .select("src", "dst")
    )
    nodes = li.select(F.col("l_partkey").alias("id")).distinct()
    core = kcore(nodes, edges, "id", k=3, rounds=3)
    return core.select(F.col("id").alias("part_id"), "core_degree")


def _ppr_oracle(iters: int = 5) -> str:
    from kafka_flink_spark.operators.graph import PR_DAMP_DEN, PR_DAMP_NUM, PR_SCALE

    base = (
        f"CASE WHEN nd.is_seed = 1 THEN "
        f"(SELECT ({PR_SCALE} * {PR_DAMP_DEN - PR_DAMP_NUM}) // ({PR_DAMP_DEN} * n) FROM ns) "
        f"ELSE 0 END"
    )
    levels = []
    for k in range(iters):
        levels.append(
            f"""pr{k + 1} AS (
    SELECT nd.id, CAST({base} + coalesce(s.c, 0) AS BIGINT) AS pr
    FROM marked nd LEFT JOIN (
        SELECT e.dst AS id,
               sum(({PR_DAMP_NUM} * p.pr) // ({PR_DAMP_DEN} * d.deg)) AS c
        FROM pr{k} p JOIN edges e ON e.src = p.id JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    ) s ON s.id = nd.id
)"""
        )
    chain = ",\n".join(levels)
    return f"""
WITH pairs AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
edges AS (SELECT src, dst FROM pairs),
nodes AS (SELECT DISTINCT l_partkey AS id FROM lineitem),
seeds AS (
    SELECT DISTINCT l_partkey AS id FROM lineitem
    WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
),
ns AS (SELECT count(*) AS n FROM seeds),
marked AS (
    SELECT nd.id, CASE WHEN s.id IS NOT NULL THEN 1 ELSE 0 END AS is_seed
    FROM nodes nd LEFT JOIN seeds s ON s.id = nd.id
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
pr0 AS (
    SELECT id, CASE WHEN is_seed = 1
                    THEN {PR_SCALE} // (SELECT n FROM ns) ELSE 0 END AS pr
    FROM marked
),
{chain}
SELECT id AS part_id, pr AS ppr_e12 FROM pr{iters}
"""


@register(
    "gr7_personalized_pagerank",
    oracle=_ppr_oracle(5),
    doc="Personalized PageRank / random walk with restart (Haveliwala "
    "2002) over the part co-purchase graph, restarting to the first "
    "order's basket as the seed set — proximity TO those parts, the "
    "'customers who bought this also bought' primitive recommenders "
    "actually serve, where global PageRank (gr1) only answers "
    "'popular overall'. operators/graph.personalized_pagerank: gr1's "
    "integer fixed-point recurrence with teleport mass confined to "
    "seeds via a 0/1 integer flag — every round stays pure integer "
    "arithmetic, so the 5-iteration unrolled-SQL oracle matches "
    "bit-for-bit. Same Pregel cost model and pin lineage "
    "control; completes the graph family: ranking global (gr1) and "
    "seeded (gr7), motifs (gr2), connectivity (gr3), communities "
    "(gr4), paths (gr5), cores (gr6).",
)
def gr7_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.graph import personalized_pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # basket-expansion edge build (_copurchase_edges: same pair set
    # as the orderkey self-join, no fact-table self-join)
    edges = _copurchase_edges(li)
    nodes = li.select(F.col("l_partkey").alias("id")).distinct()
    first_order = li.agg(F.min("l_orderkey").alias("k"))
    seeds = (
        li.join(F.broadcast(first_order), li.l_orderkey == F.col("k"))
        .select(F.col("l_partkey").alias("id"))
        .distinct()
    )
    ppr = personalized_pagerank(nodes, edges, seeds, "id", iterations=5)
    return ppr.select(F.col("id").alias("part_id"), F.col("pr").alias("ppr_e12"))


@register(
    "gr8_link_prediction",
    oracle="""
WITH co AS (
    SELECT least(a.l_partkey, b.l_partkey) AS src,
           greatest(a.l_partkey, b.l_partkey) AS dst,
           count(*) AS w
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
),
e0 AS (SELECT src AS a, dst AS b FROM co WHERE w >= 2),
und AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
deg AS (SELECT src, count(*) AS d FROM und GROUP BY src),
wedge AS (
    SELECT e1.dst AS u, e2.dst AS w, sum(1000000000000 // dg.d) AS ra
    FROM und e1
    JOIN und e2 ON e1.src = e2.src AND e1.dst < e2.dst
    JOIN deg dg ON dg.src = e1.src
    GROUP BY 1, 2
),
cand AS (
    SELECT u, w, CAST(ra AS BIGINT) AS ra_e12 FROM wedge
    WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.a = u AND e0.b = w)
)
SELECT u AS part_u, w AS part_w, ra_e12
FROM cand ORDER BY ra_e12 DESC, u, w LIMIT 50
""",
    doc="Resource-Allocation link prediction (Zhou, Lü & Zhang 2009) "
    "over the part co-purchase graph: the top-50 part pairs never "
    "bought together whose shared co-purchase neighbors — weighted "
    "1/deg(v), promiscuous hubs discounted — most strongly predict a "
    "future edge; the recommender 'missing link' primitive beside "
    "gr7's seeded proximity. operators/graph.link_prediction_ra: "
    "integer fixed-point contributions (RA_SCALE div deg, gr1's "
    "discipline) make the scores engine-bit-identical; wedges self-"
    "join the symmetric adjacency on the apex, existing edges leave "
    "via a left-anti join, and the top-k plans as "
    "TakeOrderedAndProject (no global sort). The graph is gr3/gr6's "
    "STRONG co-purchase graph (pairs co-ordered >= 2 times): a raw "
    "single-co-order graph is near-clique-dense on basket data and "
    "its wedge quadratic is all noise-signal — the support filter is "
    "the standard densification guard, and max_wedge_degree remains "
    "for power-law hubs; exact on the strong graph, matching the "
    "exact oracle at any SF.",
)
def gr8_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.graph import link_prediction_ra

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = _basket_pairs(li, ordered=True)
    edges = (
        pairs.groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    return link_prediction_ra(edges, k=50).select(
        F.col("u").alias("part_u"), F.col("w").alias("part_w"), "ra_e12"
    )


@register(
    "fe5_rfm_segmentation",
    oracle="""
WITH cust AS (
    SELECT o_custkey,
           max(o_orderdate) AS last_ts,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS spend_cents
    FROM orders GROUP BY o_custkey
),
gmax AS (SELECT max(o_orderdate) AS mx FROM orders),
base AS (
    SELECT c.o_custkey,
           date_diff('day', c.last_ts, g.mx) AS recency_days,
           c.n_orders, c.spend_cents
    FROM cust c, gmax g
),
edges AS (
    SELECT [round(e, 6) FOR e IN
            quantile_cont(recency_days, [0.25, 0.5, 0.75])] AS re,
           [round(e, 6) FOR e IN
            quantile_cont(n_orders, [0.25, 0.5, 0.75])] AS fe,
           [round(e, 6) FOR e IN
            quantile_cont(spend_cents, [0.25, 0.5, 0.75])] AS me
    FROM base
),
scored AS (
    SELECT b.*,
           CAST(4 - CAST(b.recency_days > re[1] AS INT)
                  - CAST(b.recency_days > re[2] AS INT)
                  - CAST(b.recency_days > re[3] AS INT) AS BIGINT) AS r_score,
           CAST(1 + CAST(b.n_orders > fe[1] AS INT)
                  + CAST(b.n_orders > fe[2] AS INT)
                  + CAST(b.n_orders > fe[3] AS INT) AS BIGINT) AS f_score,
           CAST(1 + CAST(b.spend_cents > me[1] AS INT)
                  + CAST(b.spend_cents > me[2] AS INT)
                  + CAST(b.spend_cents > me[3] AS INT) AS BIGINT) AS m_score
    FROM base b, edges
)
SELECT o_custkey,
       CAST(recency_days AS BIGINT) AS recency_days,
       CAST(n_orders AS BIGINT) AS n_orders,
       spend_cents,
       r_score, f_score, m_score,
       r_score * 100 + f_score * 10 + m_score AS rfm_code,
       CASE WHEN r_score = 4 AND f_score >= 3 AND m_score >= 3
                THEN 'champion'
            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
            WHEN r_score = 1 AND f_score = 1 THEN 'hibernating'
            ELSE 'regular' END AS segment
FROM scored
""",
    doc="RFM customer segmentation (Hughes 1994, the canonical "
    "marketing-analytics composite): per customer, Recency (days "
    "since last order vs the corpus clock), Frequency (order count) "
    "and Monetary (lifetime spend, integer cents) are each cut into "
    "population quartiles and composed into the familiar 111-444 "
    "code plus a named segment (champion / at_risk / hibernating). "
    "Quartile scores use fe1's broadcast-edges technique — exact "
    "interpolated quartile edges from ONE aggregate over the "
    "customer relation, 6-dp-rounded on both engines, then three "
    "codegen comparisons per dimension — where the textbook ntile() "
    "would globally sort the customer table three times. Plan: one "
    "(custkey) aggregation exchange off the orders scan, one "
    "edges aggregate, broadcast back; no global sort anywhere; "
    "recency scored against max(o_orderdate) so the query is "
    "deterministic, not wall-clock-dependent.",
)
def fe5_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_ts"),
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("spend_cents"),
    )
    gmax = o.agg(F.max("o_orderdate").alias("mx"))
    base = cust.crossJoin(F.broadcast(gmax)).select(
        "o_custkey",
        F.datediff("mx", "last_ts").cast("long").alias("recency_days"),
        "n_orders",
        "spend_cents",
    )
    probs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    rnd6 = lambda col: F.transform(col, lambda e: F.round(e, 6))  # noqa: E731
    edges = base.agg(
        rnd6(F.percentile("recency_days", probs)).alias("re"),
        rnd6(F.percentile("n_orders", probs)).alias("fe"),
        rnd6(F.percentile("spend_cents", probs)).alias("me"),
    )

    def quart(col: str, edge: str, invert: bool):
        s = F.lit(4) if invert else F.lit(1)
        for i in range(3):
            term = (F.col(col) > F.col(edge)[i]).cast("int")
            s = (s - term) if invert else (s + term)
        return s.cast("long")

    scored = base.crossJoin(F.broadcast(edges)).select(
        "o_custkey",
        "recency_days",
        "n_orders",
        "spend_cents",
        quart("recency_days", "re", invert=True).alias("r_score"),
        quart("n_orders", "fe", invert=False).alias("f_score"),
        quart("spend_cents", "me", invert=False).alias("m_score"),
    )
    return scored.select(
        "*",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).alias(
            "rfm_code"
        ),
        F.when(
            (F.col("r_score") == 4) & (F.col("f_score") >= 3) & (F.col("m_score") >= 3),
            F.lit("champion"),
        )
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), F.lit("at_risk"))
        .when((F.col("r_score") == 1) & (F.col("f_score") == 1), F.lit("hibernating"))
        .otherwise(F.lit("regular"))
        .alias("segment"),
    )


@register(
    "g24_association_rules",
    oracle="""
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem),
item AS (SELECT l_partkey AS i, count(*) AS ni FROM baskets GROUP BY 1),
pair AS (
    SELECT a.l_partkey AS ante, b.l_partkey AS cons, count(*) AS w
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2
),
rules AS (
    SELECT p.ante, p.cons, p.w,
           ia.ni AS n_ante, ic.ni AS n_cons, o.n,
           round(p.w * 1.0 / o.n, 6) AS support,
           round(p.w * 1.0 / ia.ni, 6) AS confidence,
           round(p.w * 1.0 * o.n / (ia.ni * ic.ni), 6) AS lift
    FROM pair p
    JOIN item ia ON ia.i = p.ante
    JOIN item ic ON ic.i = p.cons
    CROSS JOIN n_orders o
    WHERE p.w >= 2
)
SELECT ante, cons, CAST(w AS BIGINT) AS w, support, confidence, lift
FROM rules
ORDER BY lift DESC, ante, cons LIMIT 50
""",
    doc="Market-basket association rules (Agrawal-Srikant 1994, the "
    "a-priori pair pass): for every DIRECTED part pair co-ordered at "
    "least twice, support (co-baskets / baskets), confidence "
    "(co-baskets / antecedent baskets) and lift (observed / expected "
    "under independence) — the rule metrics behind every 'frequently "
    "bought together' widget, complementing gr8's topological "
    "missing-link view with probabilistic strength on EXISTING "
    "links. All three metrics are single divisions of exact integer "
    "counts (round 6); top-50 by lift plans as "
    "TakeOrderedAndProject. Scale shape: baskets dedupe once; the "
    "pair pass is the same bounded per-order expansion as gr1/gr8 "
    "(baskets are small by contract — a-priori's own assumption); "
    "item counts broadcast onto the pair relation; the support >= 2 "
    "floor is the standard noise guard and bounds the rule relation.",
)
def g24_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.distinct()
    n_orders = baskets.agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    item = baskets.groupBy(F.col("l_partkey").alias("i")).agg(
        F.count("*").alias("ni")
    )
    pair = (
        _basket_pairs(baskets)
        .select(F.col("src").alias("ante"), F.col("dst").alias("cons"))
        .groupBy("ante", "cons")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
    )
    rules = (
        pair.join(
            F.broadcast(item.withColumnsRenamed({"i": "ante", "ni": "n_ante"})), "ante"
        )
        .join(
            F.broadcast(item.withColumnsRenamed({"i": "cons", "ni": "n_cons"})), "cons"
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "ante",
            "cons",
            F.col("w").cast("long").alias("w"),
            F.round(F.col("w") / F.col("n"), 6).alias("support"),
            F.round(F.col("w") / F.col("n_ante"), 6).alias("confidence"),
            F.round(
                F.col("w") * F.col("n") / (F.col("n_ante") * F.col("n_cons")), 6
            ).alias("lift"),
        )
    )
    return rules.orderBy(F.desc("lift"), "ante", "cons").limit(50)


from kafka_flink_spark.operators.sketches import (  # noqa: E402
    KMV_HASH_SPACE as _KMV_SPACE,
    KMV_ORACLE_SQL as _KMV_ORACLE,
)


@register(
    "g25_kmv_theta_intersection",
    oracle=_KMV_ORACLE,
    doc="KMV / bottom-k (theta) sketch set-INTERSECTION estimation "
    "(operators/sketches.kmv_intersection_estimates) — the sketch "
    "capability HLL lacks: HLL registers union but cannot intersect "
    "(inclusion-exclusion blows up relative error), while a KMV "
    "bottom-k sample IS a uniform hash sample of the set, so audience "
    "overlap / segment intersection is estimable by filtering the "
    "merged samples below theta = min(theta_A, theta_B) and scaling "
    "by the sample rate (Dasgupta et al. 2016, the Apache DataSketches "
    "theta estimator). Deterministic md5 hashing end-to-end, so the "
    "ESTIMATE itself is oracle-checked (the g15 discipline, vs g7/g16 "
    "bound-assertions). Sets smaller than k are estimated exactly "
    "(the sample is the whole set). Emits est + exact + within_bound "
    "(rel err <= 0.15; measured worst 7.7% at sf0.1, ~2x margin); the "
    "exact column exists only to make the bound auditable — at 100 TB "
    "one runs only the sketch side: per-set bottom-k plans as "
    "WindowGroupLimit (per-partition heaps before the exchange), "
    "8-byte hashes shuffle instead of members, and everything after "
    "the bottom-k is <= k rows per set.",
)
def g25_kmv_theta_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.sketches import kmv_intersection_estimates

    ev = load_table(spark, sf_dir, "events")
    est = kmv_intersection_estimates(ev, "event_type", "user_id")
    return kmv_report_tail(ev, est)


def kmv_report_tail(ev: DataFrame, est: DataFrame) -> DataFrame:
    """Audit assembly shared by the batch (g25) and streaming (w34)
    KMV queries: every unordered event-type pair, the sketch estimate,
    the exact intersection, and the within_bound flag (rel err <=
    0.15 vs max(exact, 1))."""
    dm = (
        ev.filter(F.col("user_id").isNotNull())
        .select(F.col("event_type").alias("s"), F.col("user_id").alias("m"))
        .distinct()
    )
    types = dm.select("s").distinct()
    pairs = (
        types.alias("ta")
        .join(types.alias("tb"), F.col("ta.s") < F.col("tb.s"))
        .select(F.col("ta.s").alias("set_a"), F.col("tb.s").alias("set_b"))
    )
    exact = (
        dm.alias("a")
        .join(dm.alias("b"), F.col("a.m") == F.col("b.m"))
        .filter(F.col("a.s") < F.col("b.s"))
        .groupBy(F.col("a.s").alias("set_a"), F.col("b.s").alias("set_b"))
        .agg(F.count("*").alias("exact_common"))
    )
    est_c = F.coalesce("est_common", F.lit(0.0))
    exact_c = F.coalesce("exact_common", F.lit(0))
    return (
        pairs.join(F.broadcast(est), ["set_a", "set_b"], "left")
        .join(F.broadcast(exact), ["set_a", "set_b"], "left")
        .select(
            "set_a",
            "set_b",
            est_c.alias("est_common"),
            exact_c.cast("long").alias("exact_common"),
            (
                F.abs(est_c - exact_c) / F.greatest(exact_c, F.lit(1)) <= 0.15
            ).alias("within_bound"),
        )
    )


def _gr9_oracle() -> str:
    return f"""
WITH {_lpa_cte_chain(2)},
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
lab AS (SELECT id, label FROM l2),
eintra AS (
    SELECT la.label AS c, CAST(count(*) AS BIGINT) AS e_c
    FROM und u JOIN lab la ON u.a = la.id JOIN lab lb ON u.b = lb.id
    WHERE la.label = lb.label GROUP BY 1
),
deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
dcom AS (SELECT la.label AS c, CAST(sum(d.d) AS BIGINT) AS d_c
         FROM deg d JOIN lab la ON d.id = la.id GROUP BY 1),
percom AS (
    SELECT dc.c, coalesce(e.e_c, 0) AS e_c, dc.d_c
    FROM dcom dc LEFT JOIN eintra e ON e.c = dc.c
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_communities,
           CAST(sum(4 * (SELECT m FROM mm) * e_c - d_c * d_c) AS BIGINT) AS q_num
    FROM percom
)
SELECT n_communities, (SELECT m FROM mm) AS m_edges, q_num,
       round(CAST(q_num AS DOUBLE)
             / CAST(4 * (SELECT m FROM mm) * (SELECT m FROM mm) AS DOUBLE), 6)
           AS modularity
FROM agg
"""


@register(
    "gr9_modularity",
    oracle=_gr9_oracle(),
    doc="Newman-Girvan modularity of gr4's LPA partition over the "
    "part co-purchase graph (operators/graph.modularity) — the "
    "evaluate-your-own-output metric for community detection, "
    "completing the pattern of cl2 (silhouette for k-means) and "
    "v10/d10 (recall for ANN/LSH): Q = sum_c [e_c/m - (d_c/2m)^2], "
    "how much denser the communities are than a degree-preserving "
    "random rewiring. Everything folds to ONE integer numerator "
    "q_num = sum_c(4*m*e_c - d_c^2) over exact longs; modularity is "
    "ONE IEEE division of two exactly-representable integers (< 2^53 "
    "through ~30M edges), bit-identical in any engine. Intra-edge "
    "counts are one canonical-edge join against the label relation; "
    "degree sums are node-sized; the oracle replays LPA through the "
    "shared unrolled-CTE chain and the same fold.",
)
def gr9_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.graph import label_propagation, modularity

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # basket-expansion edge build (_copurchase_edges: same pair set
    # as the orderkey self-join, no fact-table self-join)
    edges = pin(_copurchase_edges(li))  # read by LPA + modularity
    nodes = li.select(F.col("l_partkey").alias("id")).distinct()
    lp = label_propagation(nodes, edges, "id", iterations=2)
    labels = lp.select("id", F.col("community_id").alias("label"))
    return modularity(labels, edges)
