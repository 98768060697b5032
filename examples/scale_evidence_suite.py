"""Sketches, skew knobs, and timer streams — the round-6/7 public
surface, composed as an operations run would use it:

    python examples/scale_evidence_suite.py

1. cardinality & quantile sketches with in-plan accuracy attestation
   (HLL distinct, GK percentiles, mergeable two-level HLL union) —
   the bounded-memory summaries a 1000-executor job ships instead of
   raw keys, each carrying its own within-bound proof column,
2. capped MinHash-LSH dedup under synthetic boilerplate skew: the
   hub-star bucket cap keeps the mega-bucket linear while small
   buckets stay exact,
3. canonical selection two ways: the exact SimHash pair stage vs the
   banded-LSH production stage (same keeper contract, cheaper pairs),
4. event-time timer finals: the streaming replay whose idle-key
   windows are closed by watermark timers, reconciled against the
   batch candle set,
5. dedup-on-ingest with the state-bucket cap engaged: the streaming
   SimHash index whose oversized buckets verify against their hub
   only (O(cap) work/state per arrival — the batch d13 contract
   streamed),
6. the executor-loss-safe mode a 1000-executor job runs: once the
   context has a reliable checkpoint directory (``spark.checkpoint.dir``
   at start-up or ``SparkContext.setCheckpointDir``), every pin in the
   package — PageRank's rounds here, and every later step — writes
   reliable checkpoints (results identical to the localCheckpoint
   default).

Every stage is declarative and broadcast-bounded; nothing reaches the
driver except the printed summaries.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    from pyspark.sql import functions as F

    from kafka_flink_spark.session import get_session
    from kafka_flink_spark.suite import spark_queries

    spark = get_session("scale-evidence-example")
    qs = spark_queries()

    print("1. sketches with in-plan accuracy attestation:")
    g7 = qs["g7_approx_distinct_sketch"](spark, SF_DIR)
    ok = g7.filter("within_bound").count()
    print(f"   HLL distinct: {ok}/{g7.count()} groups within the 2% pin")
    g13 = qs["g13_approx_percentile_sketch"](spark, SF_DIR)
    all_ok = g13.filter(
        "p50_within_bound AND p95_within_bound AND p99_within_bound"
    ).count()
    print(f"   GK percentiles: {all_ok}/{g13.count()} groups, all quantiles in 0.5%")
    g16 = qs["g16_hll_sketch_union"](spark, SF_DIR)
    row = g16.filter("o_orderpriority = 'ALL'").first()
    print(
        f"   HLL union: corpus distinct ~{row.exact_custs} "
        f"(union-of-parts within bound: {row.within_bound})"
    )

    d13 = qs["d13_minhash_capped_skew"](spark, SF_DIR)
    fam = d13.filter("doc_a >= 9000000").count()
    print(
        f"2. capped LSH under skew: {d13.count()} verified pairs, "
        f"{fam} from the 48-doc boilerplate family (star-bounded, not quadratic)"
    )

    p8 = qs["pipe8_canonical_selection"](spark, SF_DIR)
    p10 = qs["pipe10_canonical_selection_lsh"](spark, SF_DIR)
    print(
        f"3. canonical selection: exact pair stage -> {p8.count()} clusters; "
        f"banded-LSH stage -> {p10.count()} clusters (same keeper contract)"
    )

    w30 = qs["w30_stream_event_timer_finals"](spark, SF_DIR)
    n = w30.count()
    print(
        f"4. timer stream: {n} window finals emitted "
        "(transitions + watermark timers == the complete batch candle set)"
    )

    w33 = qs["w33_stream_simhash_dedup_capped"](spark, SF_DIR)
    flagged = w33.filter("n_dups > 0").count()
    capped = w33.filter("doc_id >= 9000000 AND n_dups = 1").count()
    print(
        f"5. capped dedup-on-ingest: {flagged} docs flagged; "
        f"family members whose only reported neighbour is the hub: {capped}"
    )

    import shutil
    import tempfile

    from kafka_flink_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    )
    nodes = spark.range(4).selectExpr("id")
    local = {r.id: r.pr for r in pagerank(nodes, edges, "id", iterations=5).collect()}
    ck = tempfile.mkdtemp(prefix="pr_ck_")
    spark.sparkContext.setCheckpointDir(ck)
    durable = {r.id: r.pr for r in pagerank(nodes, edges, "id", iterations=5).collect()}
    print(
        f"6. reliable-checkpoint PageRank: identical to localCheckpoint "
        f"run on all {len(local)} nodes: {local == durable}"
    )

    # 7. broadcast-ranks knob: the node-sized side of every Pregel
    # round broadcasts below 4M nodes, so the edge relation never
    # re-shuffles; values identical to the shuffle-join plan.
    bc = {
        r.id: r.pr
        for r in pagerank(
            nodes, edges, "id", iterations=5, broadcast_ranks=True
        ).collect()
    }
    sh = {
        r.id: r.pr
        for r in pagerank(
            nodes, edges, "id", iterations=5, broadcast_ranks=False
        ).collect()
    }
    print(f"7. Pregel broadcast-ranks knob: broadcast == shuffle plan: {bc == sh}")

    # 8. KMV sketch: audience-overlap estimates from k-bounded samples;
    # sets below k estimate exactly.
    from pyspark.sql import functions as F

    from kafka_flink_spark.operators.sketches import kmv_intersection_estimates

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    overlaps = kmv_intersection_estimates(ev, "event_type", "user_id").collect()
    print(
        f"8. KMV theta sketch: {len(overlaps)} event-type pair overlap "
        f"estimates from 256-hash samples (state k longs/set at any scale)"
    )

    # 9. NN-descent: the O(n*K^2) k-NN-graph build; recall vs the
    # exact O(n^2) graph printed as evidence.
    from kafka_flink_spark.operators.similarity import knn_graph, nn_descent

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = knn_graph(emb, k=5).select("query_id", "neighbor_id")
    approx = (
        nn_descent(emb, k=15, rounds=2)
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id")
    )
    hits = approx.join(exact, ["query_id", "neighbor_id"]).count()
    total = exact.count()
    print(
        f"9. NN-descent kNN graph: recall@5 {hits}/{total} = "
        f"{hits / total:.3f} vs the exact blocked-GEMM build"
    )

    spark.stop()
    shutil.rmtree(ck, ignore_errors=True)


if __name__ == "__main__":
    main()
