"""Embedding similarity search over ``array<float>`` columns.

Two paths, per the standard ANN playbook:

* **Brute-force cosine top-k** — the exact baseline: a broadcast join
  of the (tiny) query set against the corpus, dot products via
  ``zip_with``/``aggregate`` higher-order expressions (JVM-side, no
  Python), then a per-query top-k via window rank. One scan, one
  small shuffle of (query, candidate, score) triples.
* **Random-hyperplane LSH buckets** — the scale path: P deterministic
  pseudo-random hyperplanes (md5-derived components, so the DuckDB
  oracle reproduces them bit-for-bit); sign-bit bucket per vector;
  candidates only within the query's bucket. Probing across corpora
  of billions of vectors touches only matching buckets; recall tunes
  with P and multi-probe.

An IVF variant (k-means coarse quantizer) would follow the same
dataflow with learned centroids instead of hyperplanes; hyperplanes
keep round-1 deterministic and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_flink_spark.functions.hashing import md5_long, md5_long_value
from kafka_flink_spark.operators.iterative import pin

EMBED_DIM = 64
NUM_PLANES = 8


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product (bit-reproducible across engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with PRE-COMPUTED norms: ``dot(a,b) / (na*nb)`` where
    ``na``/``nb`` are ``norm()`` columns carried on each vector's own
    relation. Value-identical to :func:`cosine` — the norm expression
    and its operand rows are the same, it just evaluates once per
    VECTOR instead of once per scored PAIR — which removes two thirds
    of the per-pair fold work in pair-scoring joins (guide §1.2
    step 2: make the per-task work cheaper without changing the
    distributed shape)."""
    return dot(a, b) / (na * nb)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is broadcast (a handful of vectors); scores compute in
    one pass over the corpus; the final top-k is a rank over
    (query, score) — shuffle size = |corpus| × |queries| score rows,
    never the embeddings themselves.
    """
    # Norms computed in each side's OWN projection (once per vector
    # row) rather than per scored pair — value-identical (cosine_pre).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("qv"),
        norm(_as_double(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("cv"),
        norm(_as_double(vec_col)).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


def plane_component(p: int, i: int) -> float:
    """Deterministic hyperplane component in [-1, 1): derived from
    md5(f"plane:{p}:{i}") so any engine reproduces it. Python-side
    constant (planes are tiny); baked into the plan as literals."""
    h = md5_long_value(f"plane:{p}:{i}")
    return (h % 2_000_000) / 1_000_000.0 - 1.0


def lsh_bucket(vec_col: Column, num_planes: int = NUM_PLANES, dim: int = EMBED_DIM) -> Column:
    """Sign-bit bucket id: bit p = 1 iff dot(vec, plane_p) > 0."""
    bucket = F.lit(0).cast("long")
    for p in range(num_planes):
        plane = F.array(*[F.lit(plane_component(p, i)) for i in range(dim)])
        bit = F.when(dot(vec_col, plane) > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit
    return bucket


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = NUM_PLANES,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine rank within it. Bucket assignment is a
    narrow projection; the join key is the bucket id."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("cv"),
        norm(_as_double(vec_col)).alias("cn"),
    ).withColumn("bucket", lsh_bucket(F.col("cv"), num_planes))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("qv"),
        norm(_as_double(vec_col)).alias("qn"),
    ).withColumn("bucket", lsh_bucket(F.col("qv"), num_planes))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    min_cosine: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (all pairs ≥ threshold),
    computed as a BLOCKED MATRIX-MULTIPLY similarity join.

    The corpus is hash-split into ``num_blocks`` blocks; each of the
    B(B+1)/2 block pairs becomes one group whose vectors cross to
    Python ONCE (Arrow) and whose similarities are one numpy
    ``A @ B.T`` — BLAS throughput instead of a per-pair expression.
    The row-at-a-time all-pairs join ran interpreted higher-order
    folds per pair: 105s at sf0.1 (5k vectors); this form is ~100x
    faster and is the shape that scales out — replication factor is
    ``num_blocks`` per side (tune so a block pair fits executor
    memory), groups schedule independently, and the quadratic work is
    inside dense GEMM.

    Exact (no bucketing/recall loss); pre-filtering with lsh_bucket
    remains the sub-quadratic path when thresholds are high.
    """
    import pandas as pd

    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).cast("int")
    base = df.select(
        F.col(id_col).alias("vid"), _as_double(vec_col).alias("v"), blk.alias("blk")
    )
    # A row in block b serves as the LEFT side of pairs (b, j>=b) and
    # the RIGHT side of pairs (i<=b, b); same-block pairs get the row
    # on both sides (the id_a < id_b filter dedupes inside the group).
    def assignments(b_col):
        sides = []
        for j in range(num_blocks):
            sides.append(
                F.when(
                    b_col <= j,
                    F.struct(
                        b_col.alias("b1"), F.lit(j).alias("b2"), F.lit("L").alias("side")
                    ),
                )
            )
            sides.append(
                F.when(
                    b_col >= j,
                    F.struct(
                        F.lit(j).alias("b1"), b_col.alias("b2"), F.lit("R").alias("side")
                    ),
                )
            )
        return F.array_compact(F.array(*sides))

    tagged = base.select(
        "vid", "v", F.explode(assignments(F.col("blk"))).alias("a")
    ).select("vid", "v", "a.b1", "a.b2", "a.side")

    out_schema = "id_a long, id_b long, cos_sim double"

    def gemm(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        left = pdf[pdf["side"] == "L"]
        right = pdf[pdf["side"] == "R"]
        if left.empty or right.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        A = np.stack(left["v"].to_numpy()).astype("float64")
        B = np.stack(right["v"].to_numpy()).astype("float64")
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        B /= np.linalg.norm(B, axis=1, keepdims=True)
        sims = np.round(A @ B.T, 6)
        ia, ib = np.nonzero(sims >= min_cosine)
        ida = left["vid"].to_numpy()[ia]
        idb = right["vid"].to_numpy()[ib]
        if key[0] == key[1]:
            # same-block group: every unordered pair appears in both
            # orientations — keep one, drop self-pairs
            keep = ida < idb
            ida, idb, vals = ida[keep], idb[keep], sims[ia, ib][keep]
        else:
            # cross-block group: each unordered pair appears exactly
            # once — orient by id
            vals = sims[ia, ib]
            ida, idb = np.minimum(ida, idb), np.maximum(ida, idb)
        return pd.DataFrame({"id_a": ida, "id_b": idb, "cos_sim": vals})

    return tagged.groupBy("b1", "b2").applyInPandas(gemm, out_schema)


N_CELLS = 16
N_PROBE = 4


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN top-k: coarse-quantize the corpus into
    ``n_cells`` cells, probe each query against its ``n_probe`` nearest
    cells, exact-rank within the probed candidates.

    The default coarse centroids are assignment-only: the ``n_cells``
    lowest-id corpus vectors, chosen deterministically so the DuckDB
    oracle reproduces the index bit-for-bit. Pass ``centroids`` (a
    (cid, c) relation, e.g. ``clustering.kmeans_centroids``) to use a
    LEARNED quantizer in the identical dataflow — better-balanced
    cells, same plan shape.

    Scale shape: centroids broadcast (tiny); assignment is one
    broadcast-join + max_by aggregation (|corpus| × n_cells score rows,
    combined map-side); the candidate join touches only probed cells —
    ~n_probe/n_cells of the corpus per query instead of all of it.
    """
    if centroids is not None:
        cents = centroids.select(
            F.col("cid").cast("long").alias("cid"),
            F.col("c").alias("centroid"),
            norm(F.col("c")).alias("cen"),
        )
    else:
        cents = (
            corpus.orderBy(id_col)
            .limit(n_cells)
            .select(
                F.col(id_col).alias("cid"),
                _as_double(vec_col).alias("centroid"),
                norm(_as_double(vec_col)).alias("cen"),
            )
        )
    # Deterministic argmax-cosine assignment: max cos, ties to low cid.
    order_key = lambda cos_col: F.struct(  # noqa: E731
        cos_col.alias("cos"), (-F.col("cid")).cast("double").alias("tb")
    )
    c_scored = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(vec_col).alias("cv"),
            norm(_as_double(vec_col)).alias("cn"),
        )
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "cos_c",
            F.round(
                cosine_pre(F.col("cv"), F.col("centroid"), F.col("cn"), F.col("cen")),
                6,
            ),
        )
    )
    assigned = c_scored.groupBy("neighbor_id").agg(
        F.max_by("cid", order_key(F.col("cos_c"))).alias("cell")
    )
    corpus_cells = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("cv"),
        norm(_as_double(vec_col)).alias("cn"),
    ).join(assigned, "neighbor_id")

    q_scored = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(vec_col).alias("qv"),
            norm(_as_double(vec_col)).alias("qn"),
        )
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "cos_c",
            F.round(
                cosine_pre(F.col("qv"), F.col("centroid"), F.col("qn"), F.col("cen")),
                6,
            ),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cos_c"), F.asc("cid")
    )
    probes = (
        q_scored.withColumn("prn", F.row_number().over(wq))
        .filter(F.col("prn") <= n_probe)
        .select("query_id", "qv", "qn", F.col("cid").alias("cell"))
    )
    scored = (
        corpus_cells.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
            ).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    min_cosine: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = N_CELLS,
) -> DataFrame:
    """SemDeDup-style semantic dedup: coarse-cluster the corpus, then
    find near-duplicate pairs (cosine ≥ threshold) WITHIN each cluster
    only — the quadratic work is bounded by cluster size instead of
    corpus size, which is the published SemDeDup recipe for
    billion-document training sets (cluster with k-means, dedup within
    cells).

    Centroids are assignment-only and deterministic (the ``n_cells``
    lowest-id vectors), so the DuckDB oracle reproduces the clustering
    bit-for-bit; a learned k-means quantizer plugs into the identical
    dataflow. Scale shape: centroid assignment is one broadcast
    cross-score + max_by aggregation (no corpus self-join), the
    within-cell self-join shuffles on ``cell`` — at production scale
    swap the per-pair cosine fold for the blocked-GEMM kernel of
    ``embedding_near_dup_pairs`` applied per cell.

    Returns (id_a, id_b, cell, cos_sim) with id_a < id_b.
    """
    cents = (
        corpus.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).alias("cid"),
            _as_double(vec_col).alias("centroid"),
            norm(_as_double(vec_col)).alias("cen"),
        )
    )
    scored = (
        corpus.select(
            F.col(id_col).alias("vid"),
            _as_double(vec_col).alias("v"),
            norm(_as_double(vec_col)).alias("nv"),
        )
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "cos_c",
            F.round(
                cosine_pre(F.col("v"), F.col("centroid"), F.col("nv"), F.col("cen")),
                6,
            ),
        )
    )
    # Deterministic argmax-cosine assignment: max cos, ties to low cid.
    assigned = scored.groupBy("vid").agg(
        F.max_by(
            "cid",
            F.struct(
                F.col("cos_c").alias("cos"), (-F.col("cid")).cast("double").alias("tb")
            ),
        ).alias("cell")
    )
    clustered = (
        corpus.select(
            F.col(id_col).alias("vid"),
            _as_double(vec_col).alias("v"),
            norm(_as_double(vec_col)).alias("nv"),
        )
        .join(assigned, "vid")
    )
    a = clustered.select(
        F.col("cell"), F.col("vid").alias("id_a"), F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    b = clustered.select(
        F.col("cell"), F.col("vid").alias("id_b"), F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
    )
    return (
        a.join(b, ["cell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            F.round(
                cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6
            ),
        )
        .filter(F.col("cos_sim") >= min_cosine)
        .select("id_a", "id_b", "cell", "cos_sim")
    )


def multiprobe_lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = NUM_PLANES,
) -> DataFrame:
    """Multi-probe LSH ANN: each query also probes the ``num_planes``
    buckets at Hamming distance 1 from its own (flip one sign bit) —
    the standard recall lever that avoids building more tables.
    Candidates ≈ (num_planes + 1) buckets per query instead of 1;
    corpus is still bucketed ONCE and never duplicated — only the tiny
    query side explodes, so the join stays |corpus|-linear at 100 TB.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("cv"),
        norm(_as_double(vec_col)).alias("cn"),
    ).withColumn("bucket", lsh_bucket(F.col("cv"), num_planes))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("qv"),
        norm(_as_double(vec_col)).alias("qn"),
    ).withColumn("bucket", lsh_bucket(F.col("qv"), num_planes))
    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << p).cast("long"))
            for p in range(num_planes)
        ],
    )
    q_probed = q.select(
        "query_id", "qv", "qn", F.explode(probes).alias("bucket")
    )
    scored = (
        c.join(F.broadcast(q_probed), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
            ).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


def knn_graph(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int = 8,
) -> DataFrame:
    """Exact k-nearest-neighbor graph over the whole corpus (every
    vector → its top-k cosine neighbors) — the neighbor-graph build
    behind semantic dedup, curriculum sampling, and graph clustering.

    Two-stage top-k over the blocked-GEMM join: each block-pair group
    emits every member's block-local top-k (computed from one numpy
    ``A @ B.T``), then a global window rank reduces the ≤ k·B
    candidates per vector to the true top-k. Block-local ranking uses
    the same (cos DESC, neighbor ASC) order as the global rank, so a
    global winner is always inside its block's top-k — the reduction
    is exact, including ties. Shuffled volume is candidates
    (n·k·num_blocks rows of three scalars), never vectors.
    """
    import pandas as pd

    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).cast("int")
    base = df.select(
        F.col(id_col).alias("vid"), _as_double(vec_col).alias("v"), blk.alias("blk")
    )

    def assignments(b_col):
        sides = []
        for j in range(num_blocks):
            sides.append(
                F.when(
                    b_col <= j,
                    F.struct(
                        b_col.alias("b1"), F.lit(j).alias("b2"), F.lit("L").alias("side")
                    ),
                )
            )
            sides.append(
                F.when(
                    b_col >= j,
                    F.struct(
                        F.lit(j).alias("b1"), b_col.alias("b2"), F.lit("R").alias("side")
                    ),
                )
            )
        return F.array_compact(F.array(*sides))

    tagged = base.select(
        "vid", "v", F.explode(assignments(F.col("blk"))).alias("a")
    ).select("vid", "v", "a.b1", "a.b2", "a.side")

    def block_topk(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        left = pdf[pdf["side"] == "L"]
        right = pdf[pdf["side"] == "R"]
        if left.empty or right.empty:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "cos_sim": []})
        A = np.stack(left["v"].to_numpy()).astype("float64")
        B = np.stack(right["v"].to_numpy()).astype("float64")
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        B /= np.linalg.norm(B, axis=1, keepdims=True)
        ids_l = left["vid"].to_numpy()
        ids_r = right["vid"].to_numpy()
        sims = np.round(A @ B.T, 6)
        out_q, out_n, out_s = [], [], []

        def emit(qids, nids, S):
            # per row: top-k by (cos DESC, neighbor id ASC), self excluded
            for r in range(S.shape[0]):
                row = S[r]
                mask = nids != qids[r]
                cand_ids, cand = nids[mask], row[mask]
                if cand.size == 0:
                    continue
                order = np.lexsort((cand_ids, -cand))[:k]
                out_q.extend([qids[r]] * len(order))
                out_n.extend(cand_ids[order])
                out_s.extend(cand[order])

        if key[0] == key[1]:
            emit(ids_l, ids_r, sims)  # same block: one direction covers all
        else:
            emit(ids_l, ids_r, sims)
            emit(ids_r, ids_l, sims.T)
        return pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cos_sim": out_s})

    cand_schema = "query_id long, neighbor_id long, cos_sim double"
    candidates = tagged.groupBy("b1", "b2").applyInPandas(block_topk, cand_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        candidates.dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rn").cast("int").alias("rn"))
    )


def ann_knn_graph(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = NUM_PLANES,
    num_probes: int = 0,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """APPROXIMATE k-nearest-neighbor graph — the scale path next to
    the exact ``knn_graph`` baseline (which is inherently quadratic:
    every vector against every vector; SCALING.md measures 10× input →
    ~33× wall). Here every vector is LSH-bucketed (sign-bit random
    hyperplanes, same md5-derived planes as ``lsh_ann_topk``) and the
    exact GEMM top-k runs only WITHIN each bucket, so total work is
    Σ|bucket|² ≈ n²/2^planes — linear in n at constant occupancy when
    ``num_planes`` grows with log₂(n). ``num_probes`` > 0 additionally
    probes each vector's hamming-1 buckets on the query side (recall
    knob, ×(1+probes) shuffle).

    Shuffle carries (id, vector, bucket) — one row per vector plus one
    per probe; candidates leaving the GEMM are k-sized. A pathological
    bucket (many near-identical embeddings) concentrates work the same
    way any LSH bucket does — raise ``num_planes`` or pre-collapse
    exact-duplicate vectors (exact_dedup on a vector fingerprint).
    """
    import pandas as pd

    base = df.select(
        F.col(id_col).alias("vid"), _as_double(vec_col).alias("v")
    ).withColumn("bucket", lsh_bucket(F.col("v"), num_planes, dim))
    c = base.select("vid", "v", "bucket", F.lit("C").alias("side"))
    probes = [F.col("bucket")] + [
        F.col("bucket").bitwiseXOR(F.lit(1 << p).cast("long"))
        for p in range(min(num_probes, num_planes))
    ]
    q = base.select(
        "vid", "v", F.explode(F.array(*probes)).alias("bucket"),
        F.lit("Q").alias("side"),
    )

    def bucket_topk(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        qs = pdf[pdf["side"] == "Q"]
        cs = pdf[pdf["side"] == "C"]
        if qs.empty or cs.empty:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "cos_sim": []})
        A = np.stack(qs["v"].to_numpy()).astype("float64")
        B = np.stack(cs["v"].to_numpy()).astype("float64")
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        B /= np.linalg.norm(B, axis=1, keepdims=True)
        qids = qs["vid"].to_numpy()
        nids = cs["vid"].to_numpy()
        sims = np.round(A @ B.T, 6)
        out_q, out_n, out_s = [], [], []
        for r in range(sims.shape[0]):
            mask = nids != qids[r]
            cand_ids, cand = nids[mask], sims[r][mask]
            if cand.size == 0:
                continue
            order = np.lexsort((cand_ids, -cand))[:k]
            out_q.extend([qids[r]] * len(order))
            out_n.extend(cand_ids[order])
            out_s.extend(cand[order])
        return pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cos_sim": out_s})

    candidates = q.unionByName(c).groupBy("bucket").applyInPandas(
        bucket_topk, "query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rn").cast("int").alias("rn"))
    )


def scalar_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """int8 scalar quantization: per-dimension corpus min/max define a
    linear grid; each float maps to floor((v - lo) * 256 / (hi - lo))
    clamped to [0, 255], stored centered as [-128, 127].

    floor (not round) keeps the codes engine-exact: round() half-way
    tie-breaking differs between engines, floor of an identical IEEE
    expression never does. A constant dimension (hi == lo) codes to 0.

    Scale design: this is the memory lever for GEMM-based similarity —
    4x smaller vectors than float32 (16x vs float64), int8 dot
    products. The per-dim stats are one narrow posexplode +
    64-row aggregate, broadcast back; encoding is a per-row
    projection. Returns (id, qv: array<int> centered codes).
    """
    stats = (
        df.select(F.posexplode(_as_double(vec_col)).alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )
    rng = stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "lo"))), lambda s: s["lo"]
        ).alias("los"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "hi"))), lambda s: s["hi"]
        ).alias("his"),
    )
    v = _as_double(vec_col)
    code = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.when(
            F.element_at(F.col("his"), d + 1) == F.element_at(F.col("los"), d + 1),
            F.lit(0).cast("long"),
        ).otherwise(
            F.least(
                F.floor(
                    (F.element_at(v, d + 1) - F.element_at(F.col("los"), d + 1))
                    * 256.0
                    / (
                        F.element_at(F.col("his"), d + 1)
                        - F.element_at(F.col("los"), d + 1)
                    )
                ),
                F.lit(255).cast("long"),
            )
        )
        - 128,
    )
    return df.crossJoin(F.broadcast(rng)).select(
        F.col(id_col), code.alias("qv")
    )


def quantized_topk(
    corpus: DataFrame,
    queries_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Top-k by int8-quantized dot product — the compressed-domain
    scoring pass of a quantized ANN index (recall vs exact cosine
    pinned in tests). All-integer scores (max |code| product * dim =
    128*128*64 ≈ 2^20, exact in any engine), deterministic rank by
    (q_dot DESC, neighbor_id ASC)."""
    q8 = scalar_quantize(corpus, id_col, vec_col, dim)
    q = q8.filter(F.col(id_col).isin(*queries_ids)).select(
        F.col(id_col).alias("query_id"), F.col("qv").alias("qq")
    )
    c = q8.select(F.col(id_col).alias("neighbor_id"), "qv")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with("qq", "qv", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, p: acc + p,
            ).alias("q_dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("q_dot"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "q_dot", F.col("rn").cast("int").alias("rn"))
    )


def rp_component(j: int, i: int) -> float:
    """Deterministic Johnson-Lindenstrauss projection component in
    [-1, 1): md5(f"rp:{j}:{i}") — same public recipe as
    plane_component, distinct salt so projections and LSH planes stay
    independent."""
    h = md5_long_value(f"rp:{j}:{i}")
    return (h % 2_000_000) / 1_000_000.0 - 1.0


def random_projection(
    emb: DataFrame,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection d → out_dim: each output
    coordinate is a sequential-order dot product against a
    deterministic literal plane (rp_component) — the cheap
    dimensionality-reduction preprocessing step before clustering /
    ANN when d is large.

    Scale design: a pure narrow projection — the planes are literals
    baked into the plan, no shuffle, no join, one pass over the
    vectors. (For very large out_dim×d a blocked-GEMM pandas UDF à la
    embedding_near_dup_pairs would win on raw FLOPs, but the
    sequential fold keeps the result bit-reproducible against the SQL
    oracle, and at out_dim ≤ 32 the fold is scan-dominated anyway.)
    """
    v = _as_double(vec_col)
    return emb.select(
        F.col(id_col),
        *[
            F.round(
                dot(v, F.array(*[F.lit(rp_component(j, i)) for i in range(dim)])), 6
            ).alias(f"rp{j}")
            for j in range(out_dim)
        ],
    )


def ann_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = NUM_PLANES,
) -> DataFrame:
    """Recall@k evaluation of the LSH ANN index against the exact
    brute-force ranking — the measurement every ANN deployment runs
    before trusting an index (and re-runs as the corpus drifts).

    Per query: n_exact (ground-truth neighbors returned, ≤ k),
    n_hits (ANN results that appear in the ground truth), and
    recall = n_hits / n_exact.

    Scale design: the expensive side (exact top-k) is the v1
    broadcast-query shape — one corpus pass; the ANN side touches one
    bucket per query. Both result relations are queries × k rows, so
    the semi-join and the per-query aggregate are driver-trivial but
    fully distributed. For corpora where exact ground truth is too
    expensive, run it on a fixed held-out sample of queries — the
    operator is agnostic to how ``queries`` was drawn.
    """
    exact = cosine_topk(corpus, queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    approx = lsh_ann_topk(corpus, queries, k, id_col, vec_col, num_planes).select(
        "query_id", "neighbor_id"
    )
    hits = approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
    n_exact = exact.groupBy("query_id").agg(F.count("*").cast("long").alias("n_exact"))
    n_hits = hits.groupBy("query_id").agg(F.count("*").cast("long").alias("n_hits"))
    return (
        n_exact.join(n_hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        )
        .withColumn(
            "recall",
            F.round(F.col("n_hits") / F.greatest(F.col("n_exact"), F.lit(1)), 6),
        )
    )


def _pq_subspaces(vec: Column, n_subspaces: int, sub: int) -> Column:
    """Explode a vector into (s, v) sub-vector structs."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("s"),
                    F.slice(vec, s * sub + 1, sub).alias("v"),
                )
                for s in range(n_subspaces)
            ]
        )
    )


def _d2_scaled(a: Column, b: Column) -> Column:
    """Squared L2 via the proven diff->dot fold, integer-scaled to
    1e-9 units so downstream sums are order-independent LONGs."""
    diff = F.zip_with(a, b, lambda x, y: x - y)
    return F.round(dot(diff, diff) * 1e9, 0).cast("long")


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    n_codes: int = 16,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Product-quantization ANN top-k with asymmetric distance
    computation (ADC; Jégou et al. 2011 — the FAISS `PQ` index):
    vectors are split into ``n_subspaces`` sub-vectors, each encoded
    as its nearest of ``n_codes`` codewords (1 byte/subspace — an 8x64
    float vector compresses to 8 bytes), and queries score candidates
    by summing per-subspace distances to the CODEWORDS, never touching
    the original vectors.

    Codebook: sub-vectors of the ``n_codes`` lowest-id corpus vectors
    — assignment-only and deterministic (the v3/ivf recipe), so the
    DuckDB oracle reproduces the index bit-for-bit; swap in k-means
    sub-codebooks for a learned variant with the same dataflow.

    Exactness discipline: sub-distances are squared-L2 via the proven
    diff→dot fold (bit-identical across engines), scaled to integer
    1e-9 units BEFORE the cross-subspace sum, so the ADC total is an
    order-independent LONG sum under any partitioning.

    Scale shape: the codebook (n_codes × dim) broadcasts; encoding is
    one broadcast join + min_by aggregate (corpus × n_codes rows,
    combined map-side); the code table that shuffles is n_subspaces
    LONGS per vector — the 8-byte compression is literally the
    exchange payload; the ADC join probes the (tiny) query distance
    tables broadcast against the codes.
    """
    sub = dim // n_subspaces
    subspaces = lambda vec: _pq_subspaces(vec, n_subspaces, sub)  # noqa: E731
    d2_scaled = _d2_scaled

    cb = (
        corpus.orderBy(id_col)
        .limit(n_codes)
        .select(F.col(id_col).alias("code_id"), _as_double(vec_col).alias("cwv"))
    )
    cb_sub = cb.select("code_id", subspaces(F.col("cwv")).alias("p")).select(
        F.col("code_id").cast("long").alias("code_id"), "p.s", F.col("p.v").alias("cw")
    )
    c_sub = corpus.select(
        F.col(id_col).alias("neighbor_id"), subspaces(_as_double(vec_col)).alias("p")
    ).select("neighbor_id", "p.s", F.col("p.v").alias("vs"))
    codes = (
        c_sub.join(F.broadcast(cb_sub), "s")
        .withColumn("d2s", d2_scaled(F.col("vs"), F.col("cw")))
        .groupBy("neighbor_id", "s")
        .agg(F.min_by("code_id", F.struct("d2s", "code_id")).alias("code_id"))
    )
    qtab = (
        queries.select(
            F.col(id_col).alias("query_id"), subspaces(_as_double(vec_col)).alias("p")
        )
        .select("query_id", "p.s", F.col("p.v").alias("qs"))
        .join(F.broadcast(cb_sub), "s")
        .select("query_id", "s", "code_id", d2_scaled(F.col("qs"), F.col("cw")).alias("dq"))
    )
    adc = (
        codes.join(F.broadcast(qtab), ["s", "code_id"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("dq").cast("long").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "adc_d2", F.col("rn").cast("int").alias("rn"))
    )


def ivfpq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_probe: int = 2,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """IVF+PQ ANN top-k — the production FAISS ``IVFx,PQy`` index
    composed from this module's parts: a coarse inverted file (min-L2
    assignment to ``n_cells`` centroids) prunes the corpus to
    ``n_probe`` probed cells per query, and residual product
    quantization (vector − its centroid, PQ-encoded) scores the
    survivors from 1-byte codes via asymmetric distance, never
    touching the original vectors at query time.

    Deterministic, oracle-reproducible index (the v3/v11 recipe):
    centroids = the ``n_cells`` lowest-id corpus vectors; shared PQ
    codebook = residual sub-vectors of the ``n_codes`` lowest-id
    vectors. Residuals are exact float subtractions; all distances go
    through the diff→dot sequential fold and are integer-scaled
    BEFORE any cross-subspace sum.

    Scale shape: centroids + codebook broadcast (tiny); assignment and
    encoding are broadcast joins with map-side-combined argmins; what
    shuffles per vector is (cell, 8 codes) — ~9 longs; the ADC join
    probes broadcast per-(query, cell) distance tables, touching only
    probed cells' code rows. This is the layout that serves
    billion-vector corpora: cells partition storage, codes compress
    the scan, nothing corpus-sized is exchanged at query time.
    """
    sub = dim // n_subspaces
    cents = (
        corpus.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).cast("long").alias("cid"), _as_double(vec_col).alias("c")
        )
    )
    base = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    assigned = (
        base.crossJoin(F.broadcast(cents))
        .withColumn("d2s", _d2_scaled(F.col("cv"), F.col("c")))
        .groupBy("neighbor_id")
        .agg(F.min_by("cid", F.struct("d2s", "cid")).alias("cell"))
    )
    resid = (
        base.join(assigned, "neighbor_id")
        .join(F.broadcast(cents.select(F.col("cid").alias("cell"), "c")), "cell")
        .select(
            "neighbor_id",
            "cell",
            F.zip_with("cv", "c", lambda x, y: x - y).alias("rv"),
        )
    )
    # shared residual codebook: lowest-id vectors' residuals
    cb_sub = (
        resid.orderBy("neighbor_id")
        .limit(n_codes)
        .select(
            F.col("neighbor_id").cast("long").alias("code_id"),
            _pq_subspaces(F.col("rv"), n_subspaces, sub).alias("p"),
        )
        .select("code_id", "p.s", F.col("p.v").alias("cw"))
    )
    codes = (
        resid.select(
            "neighbor_id", "cell", _pq_subspaces(F.col("rv"), n_subspaces, sub).alias("p")
        )
        .select("neighbor_id", "cell", "p.s", F.col("p.v").alias("vs"))
        .join(F.broadcast(cb_sub), "s")
        .withColumn("d2s", _d2_scaled(F.col("vs"), F.col("cw")))
        .groupBy("neighbor_id", "cell", "s")
        .agg(F.min_by("code_id", F.struct("d2s", "code_id")).alias("code_id"))
    )
    # query side: probe n_probe nearest cells, per-cell residual tables
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    wq = Window.partitionBy("query_id").orderBy("qd2", "cid")
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("qd2", _d2_scaled(F.col("qv"), F.col("c")))
        .withColumn("prn", F.row_number().over(wq))
        .filter(F.col("prn") <= n_probe)
        .select(
            "query_id",
            F.col("cid").alias("cell"),
            F.zip_with("qv", "c", lambda x, y: x - y).alias("qr"),
        )
    )
    qtab = (
        probes.select(
            "query_id", "cell", _pq_subspaces(F.col("qr"), n_subspaces, sub).alias("p")
        )
        .select("query_id", "cell", "p.s", F.col("p.v").alias("qs"))
        .join(F.broadcast(cb_sub), "s")
        .select(
            "query_id",
            "cell",
            "s",
            "code_id",
            _d2_scaled(F.col("qs"), F.col("cw")).alias("dq"),
        )
    )
    adc = (
        codes.join(F.broadcast(qtab), ["cell", "s", "code_id"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("dq").cast("long").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id", "neighbor_id", "adc_d2", F.col("rn").cast("int").alias("rn")
        )
    )


def ivfpq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **ivfpq_kwargs,
) -> DataFrame:
    """Two-stage retrieval — the full production ANN serving shape:
    stage 1 shortlists ``n_candidates`` per query with :func:`ivfpq_
    adc_topk` (compressed 8-byte codes, asymmetric distance, probed
    cells only), stage 2 re-scores ONLY the shortlist against the
    original full-precision vectors with exact cosine and emits the
    true top-``k`` of the shortlist. This is FAISS's
    ``index.search`` + refine / the retrieval-then-rerank split every
    vector database ships: ADC recall losses come almost entirely
    from score quantization ORDER errors near the cut, which exact
    rerank of a modestly larger candidate set repairs for the cost of
    |queries| x n_candidates full-vector reads.

    Scale shape: the candidate list (query, neighbor) is
    queries-sized — it BROADCASTS back onto the corpus, so stage 2 is
    a broadcast semi-probe + per-candidate dot product; the corpus's
    full vectors are read only for shortlisted ids, nothing
    corpus-sized shuffles in either stage.
    """
    cand = ivfpq_adc_topk(
        corpus, queries, k=n_candidates, id_col=id_col, vec_col=vec_col, **ivfpq_kwargs
    ).select("query_id", "neighbor_id")
    # NOTE: no norm-carry here (unlike the corpus-scoring ops) — the
    # rescore touches only |queries| x n_candidates rows AFTER the
    # broadcast semi-probe, so per-pair cosine is already the cheaper
    # side; a norm column in the base projection would evaluate for
    # every corpus row instead (measured +16% at sf0.1).
    base = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    scored = (
        base.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


def nn_descent(
    df: DataFrame,
    k: int = 5,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """NN-descent k-NN-graph refinement (Dong, Moses & Li, WWW 2011),
    made deterministic: initialize each node ``u`` with ``k``
    pseudo-random neighbors ``md5("nnd:u:j") mod n`` for ``j`` in
    ``1..k`` (requires contiguous ids ``0..n-1``, which the embeddings
    fixture has — the hash is reduced mod n back into the id space),
    then repeat ``rounds`` times: every two nodes sharing a neighbor
    in the symmetrized graph become a candidate pair, candidates are
    scored with exact cosine, and each node keeps its top-k by
    (cos DESC, id ASC). The hash init is a pure function of (u, j),
    so the unrolled-SQL oracle reproduces it exactly, while giving the
    long-range mixing random init provides (a ring/lattice init is the
    algorithm's worst case: neighborhoods expand arithmetically, not
    multiplicatively).

    The principle ("a neighbor of a neighbor is likely a neighbor")
    converges to near-exact k-NN graphs in O(log n)-ish rounds with
    O(n·k²) candidate work per round — the scale path when the O(n²)
    blocked-GEMM build (:func:`knn_graph`) is unaffordable: at 1B
    vectors, n·k² (25B candidate pairs at k=5, spread over rounds and
    executors) is tractable; n² (10¹⁸) is not. Fixed round count +
    min-id tie-breaks keep every round a pure function of the data, so
    the whole refinement is oracle-checkable as unrolled SQL (the
    gr1/gr4 technique).

    Plan shape per round: one apex self-join of the symmetrized id
    graph (2nk rows, two shuffles), one distinct over candidate pairs,
    one vector-lookup join per pair side, one WindowGroupLimit top-k.
    Vectors travel only to score candidate pairs — n·k² rows of two
    ids, never a corpus-wide vector shuffle. Lineage truncated per
    round (``operators.iterative.pin``).
    """
    from pyspark.sql.window import Window

    if k < 1 or rounds < 1:
        raise ValueError(f"k and rounds must be >= 1: k={k} rounds={rounds}")
    # The norm rides the pinned vector relation: computed ONCE per
    # vector at materialization instead of once per scored pair
    # (cosine_pre — value-identical; the scoring joins are the
    # O(n·k²)-pairs-per-round hot path).
    base_v = _as_double(vec_col)
    vecs = df.select(
        F.col(id_col).alias("vid"), base_v.alias("v"), norm(base_v).alias("nv")
    ).transform(pin)
    n = vecs.count()
    va = vecs.select(
        F.col("vid").alias("_ida"), F.col("v").alias("_va"), F.col("nv").alias("_na")
    )
    vb = vecs.select(
        F.col("vid").alias("_idb"), F.col("v").alias("_vb"), F.col("nv").alias("_nb")
    )

    def score(pairs: DataFrame) -> DataFrame:
        """Exact cosine for canonical (a < b) id pairs."""
        return (
            pairs.join(va, pairs.a == va._ida)
            .join(vb, pairs.b == vb._idb)
            .select(
                "a",
                "b",
                F.round(
                    cosine_pre(
                        F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
                    ),
                    6,
                ).alias("c"),
            )
        )

    # Deterministic pseudo-random init: neighbor j of node u is
    # md5(u:j) mod n — the standard random init (a ring/lattice init
    # is NN-descent's worst case: no long-range mixing, neighborhoods
    # expand arithmetically instead of multiplicatively), made a pure
    # function of (u, j) so the unrolled-SQL oracle reproduces it.
    ring = (
        vecs.select(
            F.col("vid").alias("u"),
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("_j"),
        )
        .select(
            "u",
            F.pmod(
                md5_long(
                    F.concat(
                        F.lit("nnd:"),
                        F.col("u").cast("string"),
                        F.lit(":"),
                        F.col("_j").cast("string"),
                    )
                ),
                F.lit(n),
            ).alias("w"),
        )
        .filter(F.col("u") != F.col("w"))  # hash may land on self
    )
    init_pairs = ring.select(
        F.least("u", "w").alias("a"), F.greatest("u", "w").alias("b")
    ).distinct()
    # directed scored graph: (u, w, c). Pin the scored canonical pairs
    # before expanding: both direction legs read them, and without the
    # checkpoint the scoring join executes once per leg.
    init_scored = pin(score(init_pairs))
    g = (
        init_scored.select(F.col("a").alias("u"), F.col("b").alias("w"), "c")
        .unionByName(
            init_scored.select(F.col("b").alias("u"), F.col("a").alias("w"), "c")
        )
        .join(ring, ["u", "w"], "left_semi")
        .transform(pin)
    )
    topw = Window.partitionBy("u").orderBy(F.desc("c"), F.asc("w"))
    # Running set of canonical pairs that BOTH endpoints have already
    # ranked (ids only). Each round anti-joins its candidates against
    # it, so such a pair is never re-scored (measured r12: round 2
    # re-scored 38% of its candidates at the bench corpus). Value-
    # identical: for a pair in ``seen``, each endpoint either still
    # holds the edge in g (its score re-enters via the g union) or
    # rejected it against k neighbors that persist in g — so the edge
    # can never re-enter any top-k, and rows ranked below it were
    # already filtered. Seeding uses only init pairs whose ring edges
    # exist in BOTH directions — one-directional init pairs were never
    # ranked by the reverse endpoint and must stay re-scorable.
    seen = (
        g.join(
            g.select(F.col("w").alias("u"), F.col("u").alias("w")),
            ["u", "w"],
            "left_semi",
        )
        .filter(F.col("u") < F.col("w"))
        .select(F.col("u").alias("a"), F.col("w").alias("b"))
    )
    for _ in range(rounds):
        sym = g.select("u", "w").unionByName(
            g.select(F.col("w").alias("u"), F.col("u").alias("w"))
        )
        p, q = sym.alias("p"), sym.alias("q")
        cands = (
            p.join(q, (F.col("p.u") == F.col("q.u")) & (F.col("p.w") < F.col("q.w")))
            .select(F.col("p.w").alias("a"), F.col("q.w").alias("b"))
            .distinct()
        )
        fresh = cands.join(seen, ["a", "b"], "left_anti")
        scored = pin(score(fresh))  # read by both direction legs
        # Dedup vs g via an anti-join on the node-sized g (broadcastable)
        # instead of dropDuplicates over the unioned edge relation — the
        # widest shuffle of the round. Colliding rows carry the same c
        # (same vectors, same rounding), so keeping g's copy is exactly
        # the dropDuplicates result.
        new_legs = (
            scored.select(F.col("a").alias("u"), F.col("b").alias("w"), "c")
            .unionByName(
                scored.select(F.col("b").alias("u"), F.col("a").alias("w"), "c")
            )
            .join(g.select("u", "w"), ["u", "w"], "left_anti")
        )
        directed = new_legs.unionByName(g)
        g = (
            directed.withColumn("rn", F.row_number().over(topw))
            .filter(F.col("rn") <= k)
            .select("u", "w", "c")
            .transform(pin)
        )
        seen = seen.unionByName(scored.select("a", "b"))
    return (
        g.withColumn("rn", F.row_number().over(topw))
        .select(
            F.col("u").alias("query_id"),
            F.col("w").alias("neighbor_id"),
            F.col("c").alias("cos_sim"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


def graph_ann_search(
    df: DataFrame,
    query_ids: tuple[int, ...],
    k: int = 10,
    k_graph: int = 8,
    beam: int = 8,
    rounds: int = 4,
    n_entries: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    graph: DataFrame | None = None,
) -> DataFrame:
    """ANN QUERY over a k-NN-graph index — greedy beam search (the
    HNSW/NSG serving principle on a flat graph): start at a fixed
    entry node, repeatedly expand the current beam's graph neighbors,
    score candidates against the query exactly, and keep the best
    ``beam`` nodes; answer with the top-``k`` of everything visited.
    Completes the index family's QUERY paths: LSH buckets (v2/v4),
    IVF cells (v3/v8), PQ codes (v11–v13) — and now the graph index
    that v5/v7/v14 only BUILT.

    Deterministic and unroll-oracle-able: ``n_entries`` md5-derived
    entry points per query (``md5('gann:q:j') mod n`` — the
    nn_descent init technique; requires contiguous ids 0..n-1), fixed
    round count, beam ties broken (cos DESC, id ASC), so every
    frontier is a pure function of the data.

    Multi-entry is the DiskANN/NSG medoid-plus-random-starts recipe,
    and on THIS fixture it is load-bearing: the synthetic embeddings
    are i.i.d. random, so the k-NN graph has no navigable manifold
    structure and a single greedy walk stalls in a local optimum at
    recall ~0.15; eight entries × beam 8 × 4 rounds measure recall
    0.53 visiting ~35% of the 500-vector fixture (the recall-floor
    test pins ≥0.4). On real embedding corpora — clustered by
    construction — the same parameters converge in far fewer visits;
    graph ANN's premise IS that structure, which random fixtures
    deliberately lack (same honesty discipline as v10/d10's measured
    LSH recall).

    Scale shape: per query per round the work is ``beam × k_graph``
    id-joins against the edge relation plus that many exact scores —
    independent of corpus size; the corpus-scale cost lives in the
    one-time index build. The query vectors broadcast; candidate
    relations stay (query, node, cos) triples. At 100 TB the edge
    relation is the only big join side and it is id-keyed, so the
    expansion joins shuffle candidate-sized, never corpus-sized.
    """
    from pyspark.sql.window import Window

    # Norm carried on each side's own relation (cosine_pre): computed
    # once per vector row per scan, not once per (query, candidate).
    base_v = _as_double(vec_col)
    base = df.select(
        F.col(id_col).alias("nid"), base_v.alias("v"), norm(base_v).alias("nv")
    )
    g = graph if graph is not None else knn_graph(df, k=k_graph, id_col=id_col, vec_col=vec_col)
    # Pin the edge relation: every round joins it, and without the
    # checkpoint the final DAG re-embeds the whole index-build subtree
    # once per round (measured 22% warm / 3x cold at sf0.1). The pin
    # is index-sized (n x k_graph id pairs), never vectors.
    edges = g.select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    ).transform(pin)
    qv = base.filter(F.col("nid").isin(*query_ids)).select(
        F.col("nid").alias("query_id"), F.col("v").alias("qv"), F.col("nv").alias("qn")
    )

    def scored(cands: DataFrame) -> DataFrame:
        """exact cosine for distinct (query_id, node) pairs"""
        return (
            cands.distinct()
            .join(F.broadcast(qv), "query_id")
            .join(base, F.col("node") == F.col("nid"))
            .select(
                "query_id",
                "node",
                F.round(
                    cosine_pre(F.col("qv"), F.col("v"), F.col("qn"), F.col("nv")), 6
                ).alias("cs"),
            )
        )

    n = base.count()
    entry = (
        qv.select(
            "query_id",
            F.explode(F.sequence(F.lit(1), F.lit(n_entries))).alias("_j"),
        )
        .select(
            "query_id",
            F.pmod(
                md5_long(
                    F.concat(
                        F.lit("gann:"),
                        F.col("query_id").cast("string"),
                        F.lit(":"),
                        F.col("_j").cast("string"),
                    )
                ),
                F.lit(n),
            ).alias("node"),
        )
        .filter(F.col("node") != F.col("query_id"))
        .distinct()
    )
    frontier = entry
    # Per-round lineage truncation (operators/iterative.py rationale):
    # `sc` feeds BOTH the next round's frontier and the visited union,
    # and the frontier chain nests per round — without the checkpoint
    # the final DAG re-embeds round r's scoring subtree ~2^(rounds-r)
    # times (the r10 shuffle census measured this plan at 62
    # Exchanges), so analysis + codegen cost grows exponentially in
    # the round count. Each checkpoint is beam/visited-sized (ids +
    # one double per row), never vectors; values are unchanged.
    visited = pin(scored(entry))
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("node"))
    for _ in range(rounds):
        expanded = (
            frontier.join(edges, frontier.node == edges.src)
            .select("query_id", F.col("dst").alias("node"))
            .unionByName(frontier.select("query_id", "node"))
            .filter(F.col("node") != F.col("query_id"))
        )
        sc = pin(scored(expanded))
        frontier = (
            sc.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= beam)
            .select("query_id", "node")
        )
        visited = visited.unionByName(sc)
    final = visited.filter(F.col("node") != F.col("query_id")).distinct()
    return (
        final.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            F.col("node").alias("neighbor_id"),
            F.col("cs").alias("cos_sim"),
            F.col("rn").cast("int").alias("rn"),
        )
    )
