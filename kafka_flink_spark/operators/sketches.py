"""Mergeable frequency sketches — the count-min sketch, built from
plain DataFrame aggregates.

Completes the engine's sketch trio (HyperLogLog distinct counts =
``g7``, Greenwald-Khanna percentiles = ``g13``, CMS frequencies =
``g15``): the three bounded-memory summaries a 100 TB engine needs for
cardinality / quantiles / heavy-hitter frequency without exact
grouping.

Unlike HLL/GK (whose estimates are algorithm-implementation-specific),
a CMS built on explicit md5 hash rows is **fully deterministic**, so
the estimate itself is oracle-checkable in DuckDB: estimate(key) =
min over depths d of counter[d][byte d of md5_60bit('cms:' || key)].

Scale design: the sketch table is ``depth x width`` rows (a few KB)
regardless of input size — produced by one map-side-combined
aggregation over the (row x depth) fan-out, then **broadcast** back to
score any key set. Sketches from disjoint data shards merge by adding
counters (the same groupBy), which is the property that matters on a
1000-executor cluster: no single-point exact count, constant-size
state, one narrow scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_flink_spark.functions.hashing import duckdb_md5_long, md5_long

CMS_DEPTH = 4
CMS_WIDTH = 256


def _key_hash(key: Column) -> Column:
    """One 60-bit md5 per key; every depth's bucket slices out of it."""
    return md5_long(key.cast("string"), salt="cms:")


def _buckets(h: Column, depth: int, width: int) -> Column:
    """Array of per-depth counter indices: byte d of the single md5
    digest (width must be a power of two <= 256 so the byte masks to a
    uniform bucket). One digest per row instead of one per (row,
    depth) — md5 dominates the sketch build cost, and the md5 bytes
    are independent uniform hashes, the standard CMS implementation
    trick."""
    if 256 % width != 0:
        raise ValueError(f"width ({width}) must divide 256 (byte-sliced buckets)")
    if depth > 7:
        raise ValueError(f"depth ({depth}) > 7 exhausts the 60-bit digest's bytes")
    return F.array(
        *[F.shiftright(h, 8 * d).bitwiseAND(F.lit(width - 1)) for d in range(depth)]
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Build the count-min sketch table: one row per (d, bucket) with
    its collision-summed count. Each input row fans out to ``depth``
    (d, bucket) pairs (narrow explode), partial aggregation collapses
    them map-side, and the shuffled result is at most depth*width rows
    — constant-size whatever the input."""
    return (
        df.select(_key_hash(df[key_col]).alias("_h"))
        .select(F.posexplode(_buckets(F.col("_h"), depth, width)).alias("d", "bucket"))
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("c"))
    )


def cms_estimate(
    df: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Estimate each key's frequency from the sketch: min over depths
    of the key's counter. The sketch side is depth*width rows —
    broadcast — so scoring any key set is a narrow map-side join plus
    a groupBy on the key. Guarantees: estimate >= true count always;
    estimate <= true + e/width * N with probability 1 - exp(-depth)
    (error bound pinned in tests/test_llm_ops.py)."""
    sketch = cms_build(df, key_col, depth, width)
    return cms_score(sketch, keys, key_col, depth, width)


def cms_score(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Score a key set against an already-built sketch table (d,
    bucket, c) — the tail shared by the batch estimator (g15) and the
    streaming sketch (w35), whose final state IS such a table (CMS
    counters merge by addition, so the stream's counters equal the
    batch build's exactly)."""
    probes = keys.select(
        F.col(key_col), _key_hash(F.col(key_col)).alias("_h")
    ).select(
        key_col, F.posexplode(_buckets(F.col("_h"), depth, width)).alias("d", "bucket")
    )
    # LEFT join + coalesce 0: a (d, bucket) cell with no sketch row
    # means NO key in the build data hashed there — its counter is 0,
    # and the min must see it (an inner join would silently exclude
    # empty depths and overestimate out-of-corpus keys, violating the
    # CMS contract; in-corpus keys always populate their own cells, so
    # existing callers were unaffected).
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(
            F.min(F.coalesce("c", F.lit(0))).cast("long").alias("cms_est")
        )
    )


# ---------------------------------------------------------------------------
# KMV / bottom-k (theta) sketch — distinct-count AND set-intersection
# estimation. The capability HLL fundamentally lacks: HLL registers can
# union but not intersect (inclusion-exclusion on HLLs explodes the
# relative error for small overlaps); a KMV sample IS a uniform hash
# sample of the set, so any set expression — intersection, difference,
# Jaccard — is estimable by filtering the merged sample below theta.
# Like the CMS (and unlike HLL/GK), the estimate is a pure function of
# md5 over the data, so it is fully deterministic and oracle-checkable.
# ---------------------------------------------------------------------------

KMV_K = 256
KMV_HASH_SPACE = 1 << 60


def kmv_bottom_k(
    df: DataFrame, set_col: str, member_col: str, k: int = KMV_K
) -> DataFrame:
    """Per-set bottom-k sample: the ``k`` smallest distinct 60-bit md5
    hashes over each set's members. Returns (set_col, h) rows, at most
    ``k`` per set.

    Scale shape: distinct (set, hash) is one map-side-combinable
    aggregate over a narrow hash projection (members never shuffle as
    raw values — 8-byte hashes do); the rank filter plans as
    WindowGroupLimit, i.e. per-partition top-k heaps BEFORE the
    exchange, so the shuffle carries at most ``k`` rows per set per
    input partition, not the set. Samples from disjoint shards merge
    by re-ranking the union (bottom-k of a union = bottom-k of the
    per-shard bottom-k's) — the mergeability that matters on a
    1000-executor cluster."""
    from pyspark.sql.window import Window

    hashed = (
        df.select(F.col(set_col).alias("s"), F.col(member_col).alias("m"))
        # NULL members are ignored (a NULL hash would sort NULLS FIRST
        # in Spark but NULLS LAST in most SQL engines — pin the
        # semantics instead of inheriting an ordering accident).
        .filter(F.col("m").isNotNull())
        .select(
            "s",
            md5_long(F.col("m").cast("string"), salt="kmv:").alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("s").orderBy("h")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col("s").alias(set_col), "h")
    )


def kmv_intersection_estimates(
    df: DataFrame, set_col: str, member_col: str, k: int = KMV_K
) -> DataFrame:
    """Pairwise set-intersection estimates from per-set KMV samples
    (the theta-sketch estimator, Dasgupta et al. 2016): for each set
    pair A < B, theta = min(theta_A, theta_B) where theta_S is the
    k-th smallest hash of S (or the full hash space when |S| < k —
    the sample IS the set and the estimate is exact); the merged
    sample's hashes present in BOTH samples and strictly below theta
    are a uniform sample of A∩B at rate theta/HASH_SPACE, so
    ``est = count * HASH_SPACE / theta``.

    Everything after the per-set bottom-k (kmv_bottom_k, the only
    corpus-scale stage) runs on <= k rows per set: the pair join,
    theta table, and estimates are broadcast-sized regardless of input
    volume. Deterministic: md5 hashing + integer thetas + one IEEE
    double division at the end, identical in any engine.

    Returns (set_a, set_b, est_common) with est_common rounded to 3
    decimals; pair with an exact count to assert error bounds (the
    registered g25 query emits est + exact + within_bound)."""
    sample = kmv_bottom_k(df, set_col, member_col, k).select(
        F.col(set_col).alias("s"), "h"
    )
    return kmv_pairwise_from_samples(sample, k)


def kmv_pairwise_from_samples(sample: DataFrame, k: int = KMV_K) -> DataFrame:
    """Pairwise intersection estimates from already-built bottom-k
    samples — ``sample`` is (s, h) rows, at most ``k`` per set. The
    tail shared by the batch estimator (g25) and the streaming sketch
    state (w34), whose final state IS such a sample (bottom-k is
    mergeable, so batch and stream samples coincide)."""
    stats = sample.groupBy("s").agg(
        F.max("h").alias("kth"), F.count("*").alias("nk")
    )
    theta = stats.select(
        "s",
        F.when(F.col("nk") < k, F.lit(KMV_HASH_SPACE))
        .otherwise(F.col("kth"))
        .alias("theta"),
    )
    a = sample.select(F.col("s").alias("set_a"), "h")
    b = sample.select(F.col("s").alias("set_b"), "h")
    common = a.join(b, "h").filter(F.col("set_a") < F.col("set_b"))
    ta = theta.select(F.col("s").alias("set_a"), F.col("theta").alias("_ta"))
    tb = theta.select(F.col("s").alias("set_b"), F.col("theta").alias("_tb"))
    return (
        common.join(F.broadcast(ta), "set_a")
        .join(F.broadcast(tb), "set_b")
        .withColumn("_theta", F.least("_ta", "_tb"))
        .filter(F.col("h") < F.col("_theta"))
        .groupBy("set_a", "set_b", "_theta")
        .agg(F.count("*").alias("_c"))
        .select(
            "set_a",
            "set_b",
            F.round(
                F.col("_c").cast("double")
                * F.lit(float(KMV_HASH_SPACE))
                / F.col("_theta").cast("double"),
                3,
            ).alias("est_common"),
        )
    )


# DuckDB reference implementation of the pairwise theta estimator over
# the events fixture (event_type sets of user_id members, k=256) plus
# the exact-intersection audit columns — the shared oracle for the
# batch query (g25) and its streaming twin (w34, whose final state
# equals the batch sample by mergeability). Lives next to the operator
# so both suite modules can import it without cross-registering.
KMV_ORACLE_SQL = f"""
WITH dm AS (SELECT DISTINCT event_type AS s, user_id AS m FROM events
            WHERE user_id IS NOT NULL),
hashed AS (
    SELECT DISTINCT s,
           {duckdb_md5_long("CAST(m AS VARCHAR)", salt="kmv:")} AS h
    FROM dm
),
ranked AS (SELECT s, h, row_number() OVER (PARTITION BY s ORDER BY h) AS rn FROM hashed),
sample AS (SELECT s, h FROM ranked WHERE rn <= {KMV_K}),
stats AS (SELECT s, max(h) AS kth, count(*) AS nk FROM sample GROUP BY s),
theta AS (SELECT s, CASE WHEN nk < {KMV_K} THEN {KMV_HASH_SPACE} ELSE kth END AS theta FROM stats),
common AS (
    SELECT a.s AS set_a, b.s AS set_b, a.h
    FROM sample a JOIN sample b ON a.h = b.h AND a.s < b.s
),
est AS (
    SELECT c.set_a, c.set_b,
           round(CAST(count(*) AS DOUBLE) * {float(KMV_HASH_SPACE)}
                 / CAST(least(ta.theta, tb.theta) AS DOUBLE), 3) AS est_common
    FROM common c JOIN theta ta ON ta.s = c.set_a JOIN theta tb ON tb.s = c.set_b
    WHERE c.h < least(ta.theta, tb.theta)
    GROUP BY c.set_a, c.set_b, least(ta.theta, tb.theta)
),
types AS (SELECT DISTINCT s FROM dm),
pairs AS (SELECT a.s AS set_a, b.s AS set_b FROM types a JOIN types b ON a.s < b.s),
exact AS (
    SELECT a.s AS set_a, b.s AS set_b, count(*) AS exact_common
    FROM dm a JOIN dm b ON a.m = b.m AND a.s < b.s
    GROUP BY 1, 2
)
SELECT p.set_a, p.set_b,
       coalesce(e.est_common, 0.0) AS est_common,
       CAST(coalesce(x.exact_common, 0) AS BIGINT) AS exact_common,
       abs(coalesce(e.est_common, 0.0) - coalesce(x.exact_common, 0))
           / greatest(coalesce(x.exact_common, 0), 1) <= 0.15 AS within_bound
FROM pairs p
LEFT JOIN est e ON e.set_a = p.set_a AND e.set_b = p.set_b
LEFT JOIN exact x ON x.set_a = p.set_a AND x.set_b = p.set_b
"""


# DuckDB reference implementation of the CMS frequency estimator over
# the lineitem fixture (l_partkey frequencies) — shared by the batch
# query (g15) and its streaming twin (w35, whose final counters equal
# the batch build's exactly: CMS counters merge by addition).
_CMS_HASH_SQL = duckdb_md5_long("CAST(l_partkey AS VARCHAR)", salt="cms:")
CMS_ORACLE_SQL = f"""
WITH hashed AS (SELECT l_partkey, {_CMS_HASH_SQL} AS h FROM lineitem),
fanned AS (
    SELECT l_partkey, d, (h >> CAST(8 * d AS INT)) & {CMS_WIDTH - 1} AS bucket
    FROM hashed, range({CMS_DEPTH}) t(d)
),
sketch AS (SELECT d, bucket, count(*) AS c FROM fanned GROUP BY 1, 2),
kb AS (SELECT DISTINCT l_partkey, d, bucket FROM fanned)
SELECT kb.l_partkey, CAST(min(s.c) AS BIGINT) AS cms_est
FROM kb JOIN sketch s ON kb.d = s.d AND kb.bucket = s.bucket
GROUP BY 1
"""
