"""Distributed k-means (Lloyd iterations) over embedding columns.

The similarity family (operators/similarity.py) buckets vectors with
assignment-only centroids (hash-derived cells); this module TRAINS
centroids — the missing piece for learned IVF cells, semantic-dedup
cluster quality, and corpus topic binning in a training-data pipeline.

Scale design (per Lloyd iteration):

* **Assignment is a zero-exchange narrow pass.** The k centroids are
  collapsed into ONE row holding an ``array<struct<cid,c>>`` and
  broadcast; each vector computes its argmin cluster with an
  ``array_min(transform(...))`` expression over that array — no join
  shuffle, no window, no ``collect()`` to the driver (the whole loop
  stays a lazy plan; Spark MLlib's implementation round-trips
  centroids through the driver each iteration — this one never does).
* **The centroid update shuffles k x dim rows, not n.** posexplode of
  the assigned vectors feeds ``groupBy(cid, pos).avg`` whose map-side
  partial aggregation collapses every task's contribution to at most
  k x dim cells before the exchange — the shuffle is centroid-sized
  regardless of corpus size.
* **Determinism.** Init centroids are the k lowest-id vectors
  (cluster_id = rank in that order); distance ties break on cid;
  per-iteration centroid means are rounded to 9 decimals so the
  DuckDB oracle (same recipe, unrolled CTEs) converges identically.

Reference parity: the reference has no clustering operator — this is
part of the LLM-training-data extension surface (SURVEY.md "beyond
the reference" block), like operators/dedup.py and similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_flink_spark.operators.iterative import pin
from kafka_flink_spark.operators.similarity import _as_double


def _d2(v: Column, c: Column) -> Column:
    """Squared euclidean distance between two double arrays (
    left-to-right fold, same order as the oracle's list_sum)."""
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _centroid_array(cents: DataFrame) -> DataFrame:
    """Collapse the k-row centroid relation into one row holding
    array<struct<cid,c>> sorted by cid — the broadcastable literal the
    assignment pass maps over."""
    return cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("cs")
    )


def _assign(df: DataFrame, cents: DataFrame, id_col: str, round_d2: int | None = None) -> DataFrame:
    """(id, v) x centroids -> (id, v, cid, d2): argmin over the
    broadcast centroid array; ties break on cid. Narrow — the only
    'join' is a broadcast of one row."""
    scored = df.crossJoin(F.broadcast(_centroid_array(cents))).withColumn(
        "_best",
        F.array_min(
            F.transform(
                "cs",
                lambda s: F.struct(
                    _d2(F.col("v"), s["c"]).alias("d2"), s["cid"].alias("cid")
                ),
            )
        ),
    )
    return scored.select(
        F.col(id_col),
        "v",
        F.col("_best.cid").alias("cid"),
        F.col("_best.d2").alias("d2"),
    )


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids: element-wise mean per cluster. posexplode ->
    partial-aggregated (cid, pos) means -> re-assembled arrays."""
    return (
        assigned.select("cid", F.posexplode("v").alias("pos", "val"))
        .groupBy("cid", "pos")
        # Exact-integer mean (the w14 recipe): nano-quantize each
        # coordinate, sum the longs (order-independent), ONE IEEE
        # divide, round back to the 9-dp centroid grid. A raw
        # round(avg(double), 9) is order-dependent within an ulp and
        # can straddle the 9-dp boundary differently in Spark vs the
        # unrolled DuckDB oracle at larger SFs.
        .agg(
            F.round(
                F.sum(F.round(F.col("val") * 1e9).cast("long")).cast("double")
                / (F.count("*") * 1e9),
                9,
            ).alias("m")
        )
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cid", F.transform("pm", lambda s: s["m"]).alias("c"))
    )


def _fit(
    base: DataFrame,
    k: int,
    iterations: int,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared Lloyd loop: returns (final centroids, final assignment)."""
    w = Window.orderBy(id_col)
    cents = (
        base.orderBy(id_col)
        .limit(k)
        .withColumn("cid", (F.row_number().over(w) - F.lit(1)).cast("int"))
        .select("cid", F.col("v").alias("c"))
    )
    assigned = _assign(base, cents, id_col)
    for it in range(iterations):
        cents = _update(assigned)
        # Lineage control for deep runs: each round nests the previous
        # round's centroid aggregation inside the next assignment plan,
        # so beyond a few iterations analysis/codegen cost compounds.
        # The centroid relation is k rows — checkpointing it every 4
        # rounds is ~free and keeps the plan depth bounded; the default
        # iterations=2 never pays it.
        if (it + 1) % 4 == 0 and it != iterations - 1:
            cents = pin(cents)
        assigned = _assign(base, cents, id_col)
    return cents, assigned


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means: returns the final (id, cid, d2) assignment.

    Init: the k lowest-``id_col`` vectors, cluster_id = 0..k-1 in that
    order. Each iteration assigns (narrow) and updates (centroid-sized
    shuffle); the chain is a single lazy plan — nothing touches the
    driver. Empty clusters drop out (both engines omit them
    identically).
    """
    base = df.select(F.col(id_col), _as_double(vec_col).alias("v"))
    return _fit(base, k, iterations, id_col)[1]


def kmeans_centroids(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The trained centroid relation (cid, c) after ``iterations``
    Lloyd rounds — the learned coarse quantizer that plugs into
    ``similarity.ivf_topk(centroids=...)`` in place of its
    assignment-only lowest-id cells."""
    base = df.select(F.col(id_col), _as_double(vec_col).alias("v"))
    return _fit(base, k, iterations, id_col)[0]


def kmeans_profile(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster profile after ``iterations`` Lloyd rounds: size, inertia
    (sum of squared distances, rounded), and the smallest member id —
    the summary a corpus-binning pipeline reports per topic cell."""
    assigned = kmeans_fit(df, k, iterations, id_col, vec_col)
    return assigned.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count("*").cast("long").alias("n_members"),
        # micro-quantized exact sum (w14 recipe): a raw
        # round(sum(double), 4) over member distances is float-sum-order
        # dependent and can straddle the 4-dp boundary differently per
        # engine at larger member counts
        F.round(
            F.sum(F.round(F.col("d2") * 1e6).cast("long")).cast("double") / 1e6,
            4,
        ).alias("inertia"),
        F.min(id_col).alias("min_member"),
    )
