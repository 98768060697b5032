"""Graph analytics over relation-derived edge sets — the iterative
family next to connected components (``operators/dedup.dedup_clusters``).

PageRank here is **integer fixed-point**: ranks are scaled longs
(SCALE = 1e12) and every update is integer multiply / integer divide —
``base + Σ (85 * pr_nbr) div (100 * deg_nbr)`` — so the result is
bit-identical under any partitioning, aggregation order, or engine
(float PageRank drifts in the last ulps per iteration and can't be
hash-compared against an oracle). The damping redistribution of
dangling-node mass is deliberately dropped (isolated nodes keep the
base rank only); both the operator and its oracle implement the same
simplified recurrence.

Scale shape: per iteration one join (edges ⋈ ranks) and one
aggregation — the Pregel cost model measured for ``dedup_clusters``
in SCALING.md (rounds × shuffle, flat in corpus mass at fixed round
count). The node-sided relation in that join (ranks / labels /
distances / alive set) auto-broadcasts below BROADCAST_NODE_LIMIT
nodes, so the edge relation — the side that is actually big at
100 TB — is shuffled ZERO times per round (one node-sized map-side-
combined exchange remains); above the limit the loop falls back to
shuffle joins (``broadcast_ranks`` overrides either way, values
identical). Per-round lineage truncation (otherwise the classic
iterative-Spark trap) goes through ``operators.iterative.pin``: the
executor-loss-safe reliable ``checkpoint()`` once the context has a
checkpoint directory (``spark.checkpoint.dir`` or
``SparkContext.setCheckpointDir``), the faster ``localCheckpoint``
otherwise; results are identical either way. Fixed iteration count
(no convergence test) keeps the oracle expressible as unrolled SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_flink_spark.operators.iterative import pin

PR_SCALE = 10**12
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100

# Auto-broadcast ceiling for the NODE-sized relation inside Pregel
# loops (ranks / labels / distances / alive set). Each round joins the
# edge relation against a node-sized table; below this many nodes the
# node side broadcasts (~16-24 B/row -> <=100 MB, well inside executor
# memory and Spark's broadcast limit), so the EDGE relation — the bulk
# of the data, and the thing that explodes at 100 TB — is never
# shuffled after its one pinning materialization: each round costs one
# map-side-combined exchange of node-sized partial aggregates instead
# of an edge-sized shuffle. Above the ceiling (billion-node graphs)
# the loop falls back to shuffle joins, which is the correct plan
# there. Override per call with ``broadcast_ranks=True/False``.
BROADCAST_NODE_LIMIT = 4_000_000


def _node_side(df: DataFrame, broadcast: bool) -> DataFrame:
    return F.broadcast(df) if broadcast else df


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    iterations: int = 10,
    checkpoint_every: int = 2,
    broadcast_ranks: bool | None = None,
) -> DataFrame:
    """Fixed-point PageRank: ``nodes`` one row per node (column
    ``id_col``), ``edges`` directed (columns ``src``/``dst``; pass
    both directions for an undirected graph). Returns (id, pr) with
    pr a long in units of 1/PR_SCALE.

    ``checkpoint_every`` trades lineage depth for job count: a
    checkpoint per round = one materialization job per iteration;
    every-2 fuses two join+agg rounds into each materialized job
    (measured ~30% faster at the bench graph: 6.9 s → 4.8 s for 10
    iterations) while keeping recompute-on-failure spans to two
    rounds. Results are identical for any cadence — integer
    arithmetic is associativity-free.

    ``broadcast_ranks`` (None = auto below BROADCAST_NODE_LIMIT
    nodes): broadcast the node-sized rank relation into each round's
    joins so the edge relation never shuffles after its pinning
    materialization — per round ONE node-sized map-side-combined
    exchange instead of an edge-sized shuffle. Values identical
    either way; this is purely the physical join strategy."""
    # Pin the node relation once: it is re-read INSIDE every
    # iteration's update join, and callers often pass it as a derived
    # plan (a distinct over an edge self-join) that would otherwise
    # recompute per materialization job — doubly so with fused rounds.
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    nodes = pin(nodes)
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank needs at least one node")
    base = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * n)
    # Pin edges once: the relation is read by the deg aggregate and by
    # every iteration's contribution join; for a derived edge set
    # (e.g. the co-purchase basket expansion + distinct) one checkpoint
    # bounds the dominant build cost to exactly one execution.
    edges = pin(edges)
    # Node-sized out-degree relation, pinned once. The per-edge
    # contribution (85*pr) div (100*deg) depends only on the SOURCE
    # node, so it is computed per source on this relation and joined
    # onto the raw edge list — the edge relation never re-joins deg,
    # which removes the edge-sized out_e materialization the previous
    # shape pinned up front (measured r12: out_e checkpoint alone was
    # ~2.1s of gr1's 5.3s at sf0.1). Value-identical: same integer
    # division, evaluated once per src instead of once per edge.
    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).transform(pin)
    pr = nodes.select(
        F.col(id_col), F.lit(PR_SCALE // n).cast("long").alias("pr")
    ).transform(pin)
    if broadcast_ranks is None:
        broadcast_ranks = n <= BROADCAST_NODE_LIMIT
    for it in range(iterations):
        fac = deg.join(
            _node_side(pr, broadcast_ranks), deg.src == pr[id_col]
        ).select(
            deg.src,
            F.expr(f"({PR_DAMP_NUM} * pr) div ({PR_DAMP_DEN} * deg)").alias("_f"),
        )
        contrib = (
            edges.join(_node_side(fac, broadcast_ranks), "src")
            .groupBy("dst")
            .agg(F.sum("_f").alias("s"))
        )
        contrib = _node_side(contrib, broadcast_ranks)
        pr = nodes.join(contrib, nodes[id_col] == contrib.dst, "left").select(
            F.col(id_col),
            (F.lit(base) + F.coalesce(F.col("s"), F.lit(0))).cast("long").alias("pr"),
        )
        if (it + 1) % checkpoint_every == 0 or it == iterations - 1:
            pr = pin(pr)
    return pr


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected edge set (columns
    ``src``/``dst``, any orientation, duplicates tolerated).

    Degree-ordered orientation (the standard distributed-triangles
    trick): orient every edge from its lower-(degree, id) endpoint to
    the higher one, enumerate wedges by self-joining oriented edges on
    their apex, and close wedges against the oriented edge set. Wedge
    count is Σ out-degree², and degree-ordering caps out-degrees at
    O(sqrt(|E|)) even under power-law skew — a hub's edges all point
    INTO it, so the hub contributes no wedges (plain id-ordering has
    no such bound; the triangle COUNT is orientation-invariant, which
    is also why the oracle can orient by id). Three shuffle joins
    (degree annotate, wedge, close), one scalar aggregate; nothing
    driver-side.

    Returns one row: (n_nodes, n_edges, n_triangles).
    """
    e0 = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # Pinned: e0 is referenced three times in the one plan the
        # persist below materializes (twice under the degree union,
        # once as the annotate probe); without this a caller-derived
        # edge set (gr2's basket expansion + weight filter) executes
        # per reference.
        .transform(pin)
    )
    deg = (
        e0.select(F.col("a").alias("id"))
        .unionByName(e0.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    annotated = (
        e0.join(deg.withColumnsRenamed({"id": "a", "d": "da"}), "a")
        .join(deg.withColumnsRenamed({"id": "b", "d": "db"}), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    e = annotated.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dst_d"),
    ).persist()
    e.count()
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    # wedge endpoints compared in the SAME (degree, id) order, so the
    # closing edge (b -> c) matches the stored orientation exactly
    b_before_c = (F.col("e1.dst_d") < F.col("e2.dst_d")) | (
        (F.col("e1.dst_d") == F.col("e2.dst_d")) & (F.col("e1.dst") < F.col("e2.dst"))
    )
    wedges = e1.join(
        e2, (F.col("e1.src") == F.col("e2.src")) & b_before_c
    ).select(F.col("e1.dst").alias("wb"), F.col("e2.dst").alias("wc"))
    tris = wedges.join(
        e3, (F.col("wb") == F.col("e3.src")) & (F.col("wc") == F.col("e3.dst"))
    )
    # broadcast hints: each side is a 1-row global aggregate, but a
    # fresh aggregate has no size stats at planning time — without the
    # hint Spark can plan a CartesianProduct instead of the 1-row
    # broadcast nested loop.
    return (
        deg.agg(F.count("*").cast("long").alias("n_nodes"))
        .crossJoin(F.broadcast(e.agg(F.count("*").cast("long").alias("n_edges"))))
        .crossJoin(
            F.broadcast(tris.agg(F.count("*").cast("long").alias("n_triangles")))
        )
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    max_iterations: int = 20,
) -> DataFrame:
    """Weakly-connected components: every node in ``nodes`` gets a
    ``component_id`` = the smallest LISTED node id reachable through
    the (undirected) edge set (columns ``src``/``dst``, any
    orientation; isolated nodes are their own component) plus the
    component's size (count of listed members). Edge endpoints absent
    from ``nodes`` act as RELAYS: connectivity propagates through
    them, but they get no output row and their ids are not component
    labels. The most-requested graph
    primitive after PageRank — the public face of the min-label
    pointer-doubling core that near-dup clustering (d7) already runs:
    O(log diameter) rounds, each one edge-keyed join + min-aggregate,
    lineage truncated per round, driver reads only a changed-count
    scalar (operators/dedup.dedup_clusters).

    Reference parity note: the reference engine (PyFlink/Beam drafts)
    has no graph surface; this extends the engine's superset the same
    way PageRank (gr1) and triangles (gr2) do.
    """
    from kafka_flink_spark.operators.dedup import dedup_clusters

    from pyspark.sql.window import Window

    pairs = edges.select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    labels = dedup_clusters(
        nodes.select(F.col(id_col).alias("doc_id")),
        pairs,
        "doc_id",
        max_iterations,
    )
    return labels.select(
        F.col("doc_id").alias(id_col),
        F.col("cluster_id").alias("component_id"),
        F.count("*")
        .over(Window.partitionBy("cluster_id"))
        .cast("long")
        .alias("component_size"),
    )


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    iterations: int = 2,
    broadcast_ranks: bool | None = None,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA,
    Raghavan/Albert/Kumara 2007, made deterministic): every node
    starts as its own label; each round, every node adopts the most
    frequent label among its neighbors AND itself (the self-inclusive
    vote), ties broken toward the SMALLEST label; nodes with no
    neighbors keep their current label. Fixed ``iterations`` of fully
    synchronous updates + the min tie-break make the algorithm order-
    independent and therefore oracle-checkable. Classic LPA randomizes
    update order to break the synchronous scheme's bipartite
    OSCILLATION (a star's hub and leaves swap labels forever); the
    self-vote is the deterministic fix — the hub's own label anchors
    the tie and the star stabilizes on it in one round.

    Pregel cost model, same as :func:`pagerank`: per round ONE
    edge-keyed join (neighbor label lookup) + one (node, label) count
    + one per-node argmax — all map-side combinable — with lineage
    truncated by ``pin`` so the plan never grows with the
    round count. Edges must list both orientations (symmetric input,
    as the co-purchase builder emits); the argmax is min over a
    (-count, label) struct, an integer-exact total order — no floats
    anywhere, bit-reproducible under any partitioning.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1: {iterations}")
    # Pin the (possibly expensive) caller-derived relations: each is
    # read once per round.
    edges = edges.select("src", "dst").transform(pin)
    nodes = nodes.select(F.col(id_col)).transform(pin)
    labels = nodes.select(F.col(id_col), F.col(id_col).alias("label"))
    if broadcast_ranks is None:
        broadcast_ranks = nodes.count() <= BROADCAST_NODE_LIMIT
    for _ in range(iterations):
        msgs = edges.join(
            _node_side(
                labels.select(F.col(id_col).alias("dst"), "label"),
                broadcast_ranks,
            ),
            "dst",
        ).select(F.col("src").alias(id_col), "label").unionByName(labels)
        best = (
            msgs.groupBy(id_col, "label")
            .agg(F.count("*").alias("_n"))
            .groupBy(id_col)
            .agg(
                F.min(
                    F.struct((-F.col("_n")).alias("neg"), F.col("label"))
                ).alias("_s")
            )
            .select(F.col(id_col), F.col("_s.label").alias("_new"))
        )
        labels = (
            labels.join(_node_side(best, broadcast_ranks), id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce("_new", "label").alias("label"),
            )
            .transform(pin)
        )
    from pyspark.sql.window import Window

    return labels.select(
        F.col(id_col),
        F.col("label").alias("community_id"),
        F.count("*")
        .over(Window.partitionBy("label"))
        .cast("long")
        .alias("community_size"),
    )


_BFS_INF = 1 << 40


def bfs_levels(
    nodes: DataFrame,
    edges: DataFrame,
    sources: DataFrame,
    id_col: str = "id",
    max_hops: int = 3,
    broadcast_ranks: bool | None = None,
) -> DataFrame:
    """Multi-source BFS: per node, the hop distance to the nearest
    source (0 for sources themselves), NULL if unreached within
    ``max_hops`` — the path-finding primitive (impact radius, blast
    zone, friend-of-friend reach). ``sources`` is a one-column
    DataFrame of ``id_col`` seeds; edges must list both orientations.

    Same Pregel loop as :func:`pagerank` / :func:`label_propagation`:
    per round ONE edge-keyed join + a min-aggregate (map-side
    combinable) + a least() merge with the standing distances,
    lineage truncated per round. The frontier never materializes
    separately — min(dist)+1 over neighbors is monotone, so re-
    relaxing settled nodes is a no-op the aggregate absorbs. Integer
    distances end-to-end; the unreachable sentinel stays internal
    (NULL leaves the operator)."""
    edges = edges.select("src", "dst").transform(pin)
    dist = (
        nodes.select(F.col(id_col))
        .join(
            sources.select(F.col(id_col)).withColumn("_d", F.lit(0)),
            id_col,
            "left",
        )
        .select(F.col(id_col), F.col("_d").cast("long").alias("dist"))
        .transform(pin)
    )
    if broadcast_ranks is None:
        broadcast_ranks = dist.count() <= BROADCAST_NODE_LIMIT
    for _ in range(max_hops):
        nbr = (
            edges.join(
                _node_side(
                    dist.filter(F.col("dist").isNotNull()).select(
                        F.col(id_col).alias("dst"), "dist"
                    ),
                    broadcast_ranks,
                ),
                "dst",
            )
            .groupBy(F.col("src").alias(id_col))
            .agg((F.min("dist") + 1).alias("_nb"))
        )
        dist = (
            dist.join(_node_side(nbr, broadcast_ranks), id_col, "left")
            .select(
                F.col(id_col),
                F.nullif(
                    F.least(
                        F.coalesce("dist", F.lit(_BFS_INF)),
                        F.coalesce("_nb", F.lit(_BFS_INF)),
                    ),
                    F.lit(_BFS_INF),
                ).alias("dist"),
            )
            .transform(pin)
        )
    return dist


def kcore(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    k: int = 3,
    rounds: int = 3,
    broadcast_ranks: bool | None = None,
) -> DataFrame:
    """Synchronous k-core peeling (Seidman 1983 cores; the parallel
    peel of Montresor et al. 2013): each round simultaneously deletes
    every node whose degree within the currently-alive subgraph is
    below ``k``; survivors of round r are scored by their degree
    measured in round r-1's subgraph. A FIXED ``rounds`` count makes
    the operator deterministic and oracle-checkable by unrolled SQL
    (the gr1/gr4 technique); with rounds >= the peel depth the result
    is the true k-core (the maximal subgraph with min degree >= k) —
    the peel converges in O(peel-depth) synchronous rounds, typically
    a handful on real graphs.

    Same Pregel cost model as :func:`label_propagation`: per round two
    semi-joins of the pinned edge list against the alive set + one
    src-keyed count — map-side combinable, no floats, lineage
    truncated per round with ``pin`` so the plan is
    round-count-independent. Edges must list both orientations
    (symmetric input, as the co-purchase builder emits); degree is
    out-degree over the symmetric list = undirected degree.
    """
    if k < 1 or rounds < 1:
        raise ValueError(f"k and rounds must be >= 1: k={k} rounds={rounds}")
    edges = edges.select("src", "dst").transform(pin)
    alive = nodes.select(F.col(id_col)).transform(pin)
    if broadcast_ranks is None:
        broadcast_ranks = alive.count() <= BROADCAST_NODE_LIMIT
    deg = None
    for _ in range(rounds):
        deg = (
            edges.join(
                _node_side(alive.select(F.col(id_col).alias("src")), broadcast_ranks),
                "src",
            )
            .join(
                _node_side(alive.select(F.col(id_col).alias("dst")), broadcast_ranks),
                "dst",
            )
            .groupBy("src")
            .agg(F.count("*").alias("deg"))
        )
        alive = (
            deg.filter(F.col("deg") >= k)
            .select(F.col("src").alias(id_col), F.col("deg"))
            .transform(pin)
        )
    return alive.select(F.col(id_col), F.col("deg").cast("long").alias("core_degree"))


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    id_col: str = "id",
    iterations: int = 10,
    checkpoint_every: int = 2,
    broadcast_ranks: bool | None = None,
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED set
    — Haveliwala 2002's topic-sensitive PageRank): identical integer
    fixed-point recurrence to :func:`pagerank` except the teleport
    mass lands only on ``seeds`` — ``base_i = (1-d)·SCALE/|S|`` for
    seeds, 0 elsewhere; ranks start as ``SCALE/|S|`` on the seeds.
    The result is proximity TO the seed set — the "related items /
    people also bought" primitive recommender systems actually run,
    where global PageRank answers only "popular overall".

    Same Pregel cost model, same ``checkpoint_every`` lineage
    control, same bit-reproducibility: the seed flag enters the
    update as an integer 0/1 multiplier, so every round stays pure
    integer arithmetic and the unrolled-SQL oracle holds exactly.
    """
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    nodes = pin(nodes)
    seeds = seeds.select(F.col(id_col)).distinct().transform(pin)
    ns = seeds.count()
    if ns == 0:
        raise ValueError("personalized_pagerank needs at least one seed")
    base_seed = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * ns)
    marked = nodes.join(
        seeds.withColumn("_seed", F.lit(1)), id_col, "left"
    ).select(
        F.col(id_col), F.coalesce("_seed", F.lit(0)).alias("_seed")
    ).transform(pin)
    edges = pin(edges)
    # Same degree-factored contribution as pagerank(): the per-edge
    # term depends only on src, so it is computed on the node-sized
    # deg relation and joined onto the raw edge list — no edge-sized
    # out_e materialization.
    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).transform(pin)
    pr = marked.select(
        F.col(id_col),
        (F.col("_seed") * F.lit(PR_SCALE // ns)).cast("long").alias("pr"),
    ).transform(pin)
    if broadcast_ranks is None:
        # marked is node-sized; same auto rule as pagerank.
        broadcast_ranks = marked.count() <= BROADCAST_NODE_LIMIT
    for it in range(iterations):
        fac = deg.join(
            _node_side(pr, broadcast_ranks), deg.src == pr[id_col]
        ).select(
            deg.src,
            F.expr(f"({PR_DAMP_NUM} * pr) div ({PR_DAMP_DEN} * deg)").alias("_f"),
        )
        contrib = (
            edges.join(_node_side(fac, broadcast_ranks), "src")
            .groupBy("dst")
            .agg(F.sum("_f").alias("s"))
        )
        contrib = _node_side(contrib, broadcast_ranks)
        pr = marked.join(contrib, marked[id_col] == contrib.dst, "left").select(
            F.col(id_col),
            (
                F.col("_seed") * F.lit(base_seed)
                + F.coalesce(F.col("s"), F.lit(0))
            )
            .cast("long")
            .alias("pr"),
        )
        if (it + 1) % checkpoint_every == 0 or it == iterations - 1:
            pr = pin(pr)
    return pr


RA_SCALE = 10**12


def link_prediction_ra(
    edges: DataFrame,
    k: int = 50,
    max_wedge_degree: int | None = None,
) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lü & Zhang, EPJ B
    2009): score every NON-adjacent node pair (u, w) by
    Σ_{v ∈ Γ(u)∩Γ(w)} 1/deg(v) — common neighbors weighted inversely
    by how promiscuous they are (RA consistently beats common-
    neighbors and tracks Adamic-Adar while staying rational) — and
    return the top-k candidate links. The "customers also bought"
    / missing-edge primitive next to gr7's seeded ranking.

    Integer fixed-point (the gr1/gr7 discipline): each common
    neighbor contributes the exact integer ``RA_SCALE div deg(v)``,
    so scores are bit-identical under any partitioning or engine and
    the oracle hash-matches — float 1/deg sums drift in the last ulp
    with aggregation order.

    Scale shape: wedges are enumerated by self-joining the symmetric
    adjacency on the apex (one shuffle on v), aggregated by the
    candidate pair (second shuffle), and existing edges are removed
    with a left-anti join; top-k plans as TakeOrderedAndProject
    (per-partition heaps), never a global sort. Cost is
    Σ_v deg(v)² — on power-law graphs pass ``max_wedge_degree`` to
    drop hub apexes (a v with deg 10⁶ contributes ≤ RA_SCALE/10⁶ per
    pair, negligible rank signal for 10¹² wedge rows; the cap is the
    standard production trade and changes scores only by that bound).
    Default None = exact (matches the exact oracle at any SF).
    """
    e0 = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # referenced three times below (two union legs + anti-join);
        # pin so a caller-derived edge set executes once.
        .transform(pin)
    )
    und = e0.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = und.groupBy("src").agg(F.count("*").alias("d"))
    apex = und.join(deg, "src")
    if max_wedge_degree is not None:
        apex = apex.filter(F.col("d") <= max_wedge_degree)
    e1, e2 = apex.alias("e1"), apex.select("src", "dst").alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.dst") < F.col("e2.dst")),
    ).select(
        F.col("e1.dst").alias("u"),
        F.col("e2.dst").alias("w"),
        F.expr(f"CAST({RA_SCALE} div d AS BIGINT)").alias("_c"),
    )
    cand = wedges.groupBy("u", "w").agg(F.sum("_c").cast("long").alias("ra_e12"))
    non_adj = cand.join(
        e0,
        (F.col("u") == F.col("a")) & (F.col("w") == F.col("b")),
        "left_anti",
    )
    return non_adj.orderBy(F.desc("ra_e12"), "u", "w").limit(k)


MOD_SCALE = 10**12


def modularity(
    labels: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    label_col: str = "label",
) -> DataFrame:
    """Newman-Girvan modularity of a node partition (Newman & Girvan
    2004): Q = Σ_c [ e_c/m − (d_c/2m)² ] — the standard score for how
    much denser communities are than a degree-preserving random
    rewiring (Q > 0.3 is conventionally "real structure"). The
    evaluate-your-own-output metric for LPA (gr4), completing the
    pattern of cl2 (silhouette for k-means) and v10/d10 (recall for
    ANN/LSH).

    Exactness: everything folds to ONE integer numerator
    ``q_num = Σ_c (4·m·e_c − d_c²)`` over exact longs, and modularity
    = q_num / (4m²) is ONE IEEE division of two exactly-representable
    integers (both < 2^53 through m ~ 30M edges) — bit-identical in
    any engine, rounded to 6 only at the output (the t21/t31 recipe).

    Scale shape: intra-community edge counts are one join of the
    canonical (a < b) edge list against the broadcast-or-shuffled
    label relation on each endpoint + a map-side-combinable count;
    degree sums are a node-sized aggregate; the final fold is
    community-sized. ``edges`` must list both orientations (the
    symmetric co-purchase builder's output); communities with no
    edge-touching member contribute 0 and are not counted in
    ``n_communities``."""
    lab = labels.select(F.col(id_col).alias("_id"), F.col(label_col).alias("_c"))
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(pin)  # read by the m count and the intra join
    )
    mm = und.agg(F.count("*").cast("long").alias("m"))
    la = lab.withColumnsRenamed({"_id": "a", "_c": "ca"})
    lb = lab.withColumnsRenamed({"_id": "b", "_c": "cb"})
    eintra = (
        und.join(la, "a")
        .join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count("*").cast("long").alias("e_c"))
    )
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    dcom = (
        deg.join(lab.withColumnsRenamed({"_id": "src"}), "src")
        .groupBy(F.col("_c").alias("c"))
        .agg(F.sum("d").cast("long").alias("d_c"))
    )
    percom = dcom.join(eintra, "c", "left").select(
        "c", F.coalesce("e_c", F.lit(0)).alias("e_c"), "d_c"
    )
    agg = percom.crossJoin(F.broadcast(mm)).agg(
        F.count("*").cast("long").alias("n_communities"),
        F.sum(4 * F.col("m") * F.col("e_c") - F.col("d_c") * F.col("d_c"))
        .cast("long")
        .alias("q_num"),
    )
    return agg.crossJoin(F.broadcast(mm)).select(
        "n_communities",
        F.col("m").alias("m_edges"),
        "q_num",
        F.round(
            F.col("q_num").cast("double")
            / (4 * F.col("m") * F.col("m")).cast("double"),
            6,
        ).alias("modularity"),
    )
