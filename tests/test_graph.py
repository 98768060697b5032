"""operators/graph.pagerank — integer fixed-point semantics pinned
against a hand-rolled Python reference on a small directed graph."""

from __future__ import annotations

from kafka_flink_spark.operators.graph import PR_DAMP_DEN, PR_DAMP_NUM, PR_SCALE, pagerank


def _reference(n_nodes: int, edges: list[tuple[int, int]], iterations: int) -> dict[int, int]:
    from collections import defaultdict

    deg: dict[int, int] = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    base = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * n_nodes)
    pr = {i: PR_SCALE // n_nodes for i in range(n_nodes)}
    for _ in range(iterations):
        nxt = {i: base for i in range(n_nodes)}
        for s, d in edges:
            nxt[d] += (PR_DAMP_NUM * pr[s]) // (PR_DAMP_DEN * deg[s])
        pr = nxt
    return pr


def test_pagerank_matches_python_reference(spark):
    # directed graph with a hub, a chain, and an isolated node
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]
    nodes_df = spark.createDataFrame([(i,) for i in range(5)], "id long")
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.pr for r in pagerank(nodes_df, edges_df, "id", iterations=7).collect()}
    want = _reference(5, edges, 7)
    assert got == want
    # isolated node 4 holds exactly the base rank
    base = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * 5)
    assert got[4] == base
    # the sink-heavy node 2 outranks everyone
    assert got[2] == max(got.values())


def test_triangle_count_hand_graph(spark):
    """K4 (4 triangles) plus a pendant edge and a duplicate/reversed
    edge — duplicates and orientation must not change the count."""
    from kafka_flink_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(3, 4), (1, 0), (2, 1)]  # pendant + reversed dups
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    row = triangle_count(edges_df).collect()[0]
    assert row.n_nodes == 5
    assert row.n_edges == 7  # 6 K4 edges + pendant, dups collapsed
    assert row.n_triangles == 4


def test_connected_components_hand_graph(spark):
    """Two multi-node components (a chain and a pair, any edge
    orientation) plus an isolated node: labels are the component-min
    id, sizes count members, singletons label themselves."""
    from kafka_flink_spark.operators.graph import connected_components

    edges = [(1, 0), (1, 2), (2, 3), (5, 4)]  # chain 0-1-2-3, pair 4-5
    nodes_df = spark.createDataFrame([(i,) for i in range(7)], "id long")
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    rows = connected_components(nodes_df, edges_df, "id").collect()
    got = {r.id: (r.component_id, r.component_size) for r in rows}
    assert got == {
        0: (0, 4),
        1: (0, 4),
        2: (0, 4),
        3: (0, 4),
        4: (4, 2),
        5: (4, 2),
        6: (6, 1),
    }


def test_connected_components_relay_nodes(spark):
    """Edge endpoints absent from the node list are RELAYS: listed
    nodes connected only through them still merge, relays get no
    output row, and labels are the smallest LISTED id."""
    from kafka_flink_spark.operators.graph import connected_components

    # 1-2-3 chain where 2 is unlisted; 5-4 pair where 4 is unlisted
    # and smaller than every listed member of its component
    nodes_df = spark.createDataFrame([(1,), (3,), (5,), (9,)], "id long")
    edges_df = spark.createDataFrame([(1, 2), (2, 3), (5, 4)], "src long, dst long")
    rows = connected_components(nodes_df, edges_df, "id").collect()
    got = {r.id: (r.component_id, r.component_size) for r in rows}
    assert got == {1: (1, 2), 3: (1, 2), 5: (5, 1), 9: (9, 1)}


def test_label_propagation_hand_graph(spark):
    """Two triangles joined by one bridge edge: after 2 synchronous
    min-tie-break rounds each triangle converges to its smallest
    member's label and the bridge does not merge them; an isolated
    node keeps its own label."""
    from kafka_flink_spark.operators.graph import label_propagation

    tri1 = [(0, 1), (1, 2), (0, 2)]
    tri2 = [(3, 4), (4, 5), (3, 5)]
    bridge = [(2, 3)]
    und = tri1 + tri2 + bridge
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(7)], "id long")
    rows = label_propagation(nodes, edges, "id", iterations=2).collect()
    got = {r.id: (r.community_id, r.community_size) for r in rows}
    # round 1 (self-inclusive, all-ties -> min): tri1 members all
    # adopt 0; n3 sees {3,4,5,2} -> 2, n4/n5 see {4,3,5}/{5,3,4} -> 3.
    # round 2: tri1 stays 0 (n2's 0s outvote n3's single 2); n3 sees
    # label 3 twice (n4, n5) vs 2/0 once -> 3; n4/n5 hold 3.
    assert got[6] == (6, 1)  # isolated
    assert {got[i] for i in (0, 1, 2)} == {(0, 3)}
    assert {got[i] for i in (3, 4, 5)} == {(3, 3)}


def test_label_propagation_star_adopts_hub(spark):
    """A star: after round 1 every leaf holds the hub's label (its
    only neighbor); round 2 leaves it converged — one community."""
    from kafka_flink_spark.operators.graph import label_propagation

    leaves = [1, 2, 3, 4]
    und = [(0, x) for x in leaves]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    rows = label_propagation(nodes, edges, "id", iterations=2).collect()
    got = {r.id: r.community_id for r in rows}
    assert set(got.values()) == {0}


def test_bfs_levels_hand_graph(spark):
    """Chain 0-1-2-3-4 seeded at 0: hops = index, capped at
    max_hops=3 (node 4 unreached -> NULL); a second seed at 4 pulls
    it to 0 and meets in the middle."""
    from kafka_flink_spark.operators.graph import bfs_levels

    und = [(0, 1), (1, 2), (2, 3), (3, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    seed0 = spark.createDataFrame([(0,)], "id long")
    got = {r.id: r.dist for r in bfs_levels(nodes, edges, seed0, "id", 3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: None}

    seeds = spark.createDataFrame([(0,), (4,)], "id long")
    got2 = {r.id: r.dist for r in bfs_levels(nodes, edges, seeds, "id", 3).collect()}
    assert got2 == {0: 0, 1: 1, 2: 2, 3: 1, 4: 0}


def _kcore_reference(
    nodes: list[int], edges: list[tuple[int, int]], k: int, rounds: int
) -> dict[int, int]:
    """Synchronous peel: all sub-k nodes deleted simultaneously each
    round; survivors keep the degree measured before their round's
    deletion."""
    alive = set(nodes)
    deg: dict[int, int] = {}
    for _ in range(rounds):
        deg = {n: 0 for n in alive}
        for s, d in edges:
            if s in alive and d in alive:
                deg[s] += 1
        alive = {n for n in alive if deg.get(n, 0) >= k}
    return {n: deg[n] for n in alive}


def test_kcore_hand_graph(spark):
    from kafka_flink_spark.operators.graph import kcore

    # a 4-clique (the 3-core) with a pendant path hanging off it, and
    # an isolated node; symmetric edge list
    und = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    edges = und + [(b, a) for a, b in und]
    nodes = list(range(7))
    nodes_df = spark.createDataFrame([(i,) for i in nodes], "id long")
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.id: r.core_degree
        for r in kcore(nodes_df, edges_df, "id", k=3, rounds=3).collect()
    }
    want = _kcore_reference(nodes, edges, 3, 3)
    assert got == want
    # the clique survives as the 3-core, everything else peels off
    assert set(got) == {0, 1, 2, 3}
    assert got[0] == 3 and got[3] == 3


def test_kcore_cascading_peel_needs_rounds(spark):
    """A chain peels one end per round under synchronous k=2 peeling —
    verifies the round-by-round semantics (and that rounds matter)."""
    from kafka_flink_spark.operators.graph import kcore

    und = [(0, 1), (1, 2), (2, 3), (3, 4)]
    edges = und + [(b, a) for a, b in und]
    nodes = list(range(5))
    nodes_df = spark.createDataFrame([(i,) for i in nodes], "id long")
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    for rounds in (1, 2, 3):
        got = {
            r.id: r.core_degree
            for r in kcore(nodes_df, edges_df, "id", k=2, rounds=rounds).collect()
        }
        want = _kcore_reference(nodes, edges, 2, rounds)
        assert got == want, (rounds, got, want)
    # fully peeled once converged: a path has no 2-core
    assert _kcore_reference(nodes, edges, 2, 3) == {}


def _ppr_reference(
    n_nodes: int,
    edges: list[tuple[int, int]],
    seeds: set[int],
    iterations: int,
) -> dict[int, int]:
    from collections import defaultdict

    deg: dict[int, int] = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    ns = len(seeds)
    base_seed = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * ns)
    pr = {i: (PR_SCALE // ns if i in seeds else 0) for i in range(n_nodes)}
    for _ in range(iterations):
        nxt = {i: (base_seed if i in seeds else 0) for i in range(n_nodes)}
        for s, d in edges:
            nxt[d] += (PR_DAMP_NUM * pr[s]) // (PR_DAMP_DEN * deg[s])
        pr = nxt
    return pr


def test_personalized_pagerank_matches_python_reference(spark):
    from kafka_flink_spark.operators.graph import personalized_pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (4, 3)]
    seeds = {0}
    nodes_df = spark.createDataFrame([(i,) for i in range(5)], "id long")
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    seeds_df = spark.createDataFrame([(0,)], "id long")
    got = {
        r.id: r.pr
        for r in personalized_pagerank(
            nodes_df, edges_df, seeds_df, "id", iterations=7
        ).collect()
    }
    want = _ppr_reference(5, edges, seeds, 7)
    assert got == want
    # restart mass localizes: the seed's neighborhood outranks the
    # seed-remote chain (4 -> 3 -> 2), and node 4 (unreachable from
    # the seed) holds rank 0
    assert got[4] == 0
    assert got[1] > got[3]


def test_link_prediction_ra_hand_graph(spark):
    """Square 0-1-2-3-0 plus a pendant 4 hanging off 0: the two
    diagonals (0,2) and (1,3) are the only 2-common-neighbor
    candidates; node 4 sees only 0, so (1,4) and (3,4) are 1-neighbor
    candidates through 0. RA contributions are exact integers
    RA_SCALE div deg(v)."""
    from kafka_flink_spark.operators.graph import RA_SCALE, link_prediction_ra

    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 4)]
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.u, r.w): r.ra_e12 for r in link_prediction_ra(edges_df, k=50).collect()}

    # deg: 0->3, 1->2, 2->2, 3->2, 4->1
    # (0,2): common nbrs {1,3}, both deg 2
    assert got[(0, 2)] == 2 * (RA_SCALE // 2)
    # (1,3): common nbrs {0,2} -> deg 3 and deg 2
    assert got[(1, 3)] == RA_SCALE // 3 + RA_SCALE // 2
    # (1,4) and (3,4): common nbr {0}, deg 3
    assert got[(1, 4)] == RA_SCALE // 3 and got[(3, 4)] == RA_SCALE // 3
    # (2,4): no common neighbor; adjacent pairs never appear
    assert (2, 4) not in got and (0, 1) not in got and len(got) == 4


def test_link_prediction_hub_cap_drops_apex(spark):
    """max_wedge_degree excludes high-degree apexes: capping at 2
    removes node 0 (deg 3) as an apex, so (1,3) keeps only its
    deg-2 path through 2 and the pendant candidates vanish."""
    from kafka_flink_spark.operators.graph import RA_SCALE, link_prediction_ra

    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 4)]
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.u, r.w): r.ra_e12
        for r in link_prediction_ra(edges_df, k=50, max_wedge_degree=2).collect()
    }
    assert got[(1, 3)] == RA_SCALE // 2
    assert (1, 4) not in got and (3, 4) not in got


def test_reliable_checkpoint_knob_identical_results(spark, reliable_checkpoints):
    """The durability switch: with a reliable checkpoint directory on
    the context, every iterative op truncates lineage via reliable
    checkpoint() (survives executor loss on a real cluster) instead of
    localCheckpoint (executor-local blocks, lost with the executor) —
    and the results are IDENTICAL, because truncation never changes
    values, only where materialized blocks live. Checkpoint files
    actually land in the directory (the switch is exercised, not
    silently ignored)."""
    import os

    from kafka_flink_spark.operators.clustering import kmeans_fit
    from kafka_flink_spark.operators.graph import (
        bfs_levels,
        connected_components,
        kcore,
        label_propagation,
        personalized_pagerank,
    )

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 3), (4, 5), (5, 4)]
    nodes_df = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    sym = edges_df.union(
        edges_df.selectExpr("dst as src", "src as dst")
    ).distinct()
    seeds = spark.createDataFrame([(0,)], "id long")
    vecs = spark.createDataFrame(
        [(i, [float(i % 4), float(i % 7)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    runs = [
        lambda: pagerank(nodes_df, edges_df, "id", iterations=5),
        lambda: personalized_pagerank(nodes_df, edges_df, seeds, "id", iterations=5),
        lambda: label_propagation(nodes_df, sym, "id", iterations=3),
        lambda: bfs_levels(nodes_df, sym, seeds, "id", max_hops=3),
        lambda: kcore(nodes_df, sym, "id", k=2, rounds=3),
        lambda: connected_components(nodes_df, edges_df, "id"),
        # iterations >= 4 so _fit's every-4-rounds truncation actually fires
        lambda: kmeans_fit(vecs, k=3, iterations=5),
    ]
    local = [rows(run()) for run in runs]
    with reliable_checkpoints() as ckdir:
        assert [rows(run()) for run in runs] == local
        # reliable checkpoint files were actually written
        found = []
        for root, _dirs, files in os.walk(ckdir):
            found += files
        assert found, "no reliable checkpoint files written under the checkpoint dir"
    assert spark.sparkContext.getCheckpointDir() is None


def test_broadcast_ranks_knob_identical_results(spark):
    """broadcast_ranks picks the physical join strategy for the
    node-sized side of each Pregel round (broadcast below
    BROADCAST_NODE_LIMIT nodes so the edge relation never re-shuffles;
    shuffle joins above it). Values must be IDENTICAL either way —
    integer arithmetic, same logical plan."""
    from kafka_flink_spark.operators.graph import (
        bfs_levels,
        kcore,
        label_propagation,
        personalized_pagerank,
    )

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 3), (4, 5), (5, 4)]
    nodes_df = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    sym = edges_df.union(
        edges_df.selectExpr("dst as src", "src as dst")
    ).distinct()
    seeds = spark.createDataFrame([(0,)], "id long")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    runs = [
        lambda b: pagerank(nodes_df, edges_df, "id", iterations=5, broadcast_ranks=b),
        lambda b: personalized_pagerank(
            nodes_df, edges_df, seeds, "id", iterations=5, broadcast_ranks=b
        ),
        lambda b: label_propagation(nodes_df, sym, "id", iterations=3, broadcast_ranks=b),
        lambda b: bfs_levels(nodes_df, sym, seeds, "id", max_hops=3, broadcast_ranks=b),
        lambda b: kcore(nodes_df, sym, "id", k=2, rounds=3, broadcast_ranks=b),
    ]
    for run in runs:
        assert rows(run(True)) == rows(run(False))


def test_modularity_two_cliques_textbook(spark):
    """gr9's operator on the textbook graph: two triangles joined by
    one bridge under the perfect partition — m=7, e_c=3 each,
    d_c=7 each, q_num = 2*(4*7*3 - 49) = 70, Q = 70/196 = 0.357143.
    Also: the degenerate everyone-in-one-community partition of the
    same graph scores 0 (e_c=m, d_c=2m -> q_num = 4m^2 - 4m^2)."""
    from kafka_flink_spark.operators.graph import modularity

    und = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(i, 0 if i <= 2 else 3) for i in range(6)], "id long, label long"
    )
    row = modularity(labels, edges).collect()[0]
    assert (row.n_communities, row.m_edges, row.q_num) == (2, 7, 70)
    assert row.modularity == 0.357143

    one = spark.createDataFrame([(i, 0) for i in range(6)], "id long, label long")
    row1 = modularity(one, edges).collect()[0]
    assert row1.q_num == 0 and row1.modularity == 0.0


def test_checkpoint_knob_failure_modes(spark, reliable_checkpoints):
    """The durability HALF of the switch (the parity test above proves
    identical values; this proves the modes differ exactly where
    documented). Executor-block loss is simulated by unpersisting
    every persisted RDD after the iterative op finishes (on a real
    cluster: an executor dies and its block-manager blocks vanish;
    localCheckpoint truncated the lineage so the blocks are
    unrecomputable):

    * reliable path (checkpoint dir set on the context): the result
      re-reads from the checkpoint FILES and survives — the 100 TB
      mode, where losing at least one of 1000 executors mid-job is
      ~certain;
    * local path (default): accessing the result after the loss raises
      (checkpoint block not found) — the documented failure mode that
      makes localCheckpoint a local-mode/short-job optimization only.
    """
    import pytest

    from kafka_flink_spark.operators.graph import connected_components

    edges = [(0, 1), (1, 2), (3, 4)]
    nodes_df = spark.createDataFrame([(i,) for i in range(5)], "id long")
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    expected = [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3)]  # (id, component)

    def drop_all_persisted_blocks():
        pers = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it = pers.iterator()
        while it.hasNext():
            it.next()._2().unpersist(True)

    with reliable_checkpoints():
        reliable = connected_components(nodes_df, edges_df, "id")
        drop_all_persisted_blocks()
        got = sorted((r[0], r[1]) for r in reliable.collect())
    assert got == expected

    local = connected_components(nodes_df, edges_df, "id")
    drop_all_persisted_blocks()
    with pytest.raises(Exception, match="(?i)checkpoint|block|not found"):
        local.collect()
