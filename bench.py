"""Benchmark harness — times every query of ``SECTIONS`` at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line: {"metric", "value",
"unit", "queries", "sf", ...} with the headline section as the metric.

Execution is measured with a noop sink (full plan executes on the
cluster; nothing is collected to the driver), matching how the engine
would run at scale.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

# Timed in this order, each section reported as its own total so the
# headline metric stays comparable while the other sections are still
# measured. "stream" runs last, in its own process (_stream_section_child).
SECTIONS: dict[str, tuple[str, ...]] = {
    "headline": (
        "a1_ohlcv_tumbling_1h",
        "a2_running_ohlcv",
        "a5_ohlcv_cascade_1h_to_1d",
        "a6_sql_ohlc_5m",
        "g1_pricing_summary",
        "q_shipping_priority",
        "q_local_supplier_volume",
        "j1_join_broadcast_inner",
        "w1_topk_per_group",
    ),
    "llm": (
        "d1_exact_dedup",
        "d3_minhash_lsh_pairs",
        "d5_simhash_near_pairs",
        "t7_tfidf_top_terms",
        "t9_pack_documents",
        "t11_repetition_signals",
        "t12_decontamination",
        "v1_cosine_topk",
        "v6_quantized_topk",
        "d6_embedding_near_dup",
        "g15_count_min_freq",
        "pipe2_training_mix",
    ),
    "extra": (
        "cl1_kmeans_profile",
        "t16_bpe_pair_counts",
        "t19_ngram_novelty",
        "t20_inverted_index",
        "t21_pmi_collocations",
        "t22_stratified_exact_sample",
        "gr1_pagerank_copurchase",
        "gr2_triangle_count",
        "v7_ann_knn_graph",
        "v8_ivf_learned_topk",
        "j8_bloom_prune_semi_join",
        "pipe4_quality_dedup_corpus",
        "t23_dup_substring_spans",
        "t24_deterministic_shuffle",
        "t25_bpe_train_merges",
        "v9_random_projection",
        "pipe5_curriculum_order",
        "pipe6_temperature_mix",
    ),
    "r4": (
        "t17_cdc_chunk_dedup",
        "t28_url_dedup",
        "t29_gopher_quality_rules",
        "t30_winnowing_fingerprints",
        "t31_bm25_scores",
        "v10_ann_recall_eval",
        "v11_pq_adc_topk",
        "v12_ivfpq_adc_topk",
        "t32_model_quality_filter",
        "w5_distribution_ranks",
    ),
    "r5": (
        "gr3_connected_components",
        "e12_funnel_steps",
        "t33_weighted_priority_sample",
        "d7_dedup_clusters",
        "pipe7_web_corpus_pipeline",
        "io15_bucketed_colocated_join",
        "j12_salted_skew_join",
        "io17_cdc_changelog_apply",
        "io18_scd2_dimension_build",
        "g22_hot_key_distinct_twophase",
        "e13_linear_interpolation",
        "e14_ewma_smoothing",
        "t34_boilerplate_removal",
        "d10_lsh_recall_eval",
        "d11_prefix_filter_jaccard",
        "gr4_label_propagation",
        "gr5_bfs_levels",
        "io19_incremental_join_maintenance",
        "io20_snapshot_diff",
        "g23_pareto_frontier",
        "e16_cep_followed_by",
        "e17_ab_test_welch",
        "fe1_decile_binning",
        "fe2_target_encoding",
        "gr6_kcore_peeling",
        "qa3_psi_drift",
        "v13_ivfpq_rerank_topk",
        "pipe8_canonical_selection",
        "fe3_feature_hashing",
        "d12_containment_pairs",
        "qa4_partition_skew_report",
        "gr7_personalized_pagerank",
        "t36_line_dedup",
        "gr8_link_prediction",
        "e18_cusum_changepoint",
        "fe4_robust_scaler",
        "pipe9_entity_resolution",
        "e19_seasonal_decompose",
        "u10_cogrouped_asof",
        "t37_dsir_importance",
        "fe5_rfm_segmentation",
        "g24_association_rules",
        "m8_perceptual_near_dup",
        "e20_survival_km",
        "cl2_silhouette_eval",
    ),
    "r6": (
        "g7_approx_distinct_sketch",
        "g13_approx_percentile_sketch",
        "g16_hll_sketch_union",
        "d13_minhash_capped_skew",
        "pipe10_canonical_selection_lsh",
        "io22_dynamic_partition_pruning",
    ),
    "r7": (
        "g25_kmv_theta_intersection",
        "v14_nn_descent_knn_graph",
        "e22_holt_forecast",
        "pipe11_hybrid_retrieval_rrf",
        "gr9_modularity",
    ),
    "r8": (
        "t38_unicode_nfc",
        "fe6_linear_model_score",
        "t39_script_detection",
        "t40_stupid_backoff_lm",
        "v15_graph_ann_search",
        "e23_holt_winters_forecast",
    ),
    # Streaming micro-batch replays, timed in a CHILD PROCESS with its
    # own JVM: after ~15 min of batch sections these were
    # position-dependent (w30: 16.6 s in-bench vs 7.2 s solo, SCALING.md
    # r6). A fresh SparkSession in the SAME JVM is not enough — the
    # recreated context still paid the parent's aged/fragmented heap
    # (stream medians 3x solo); only a separate process measures the
    # code, not session age. The throughput figure rides the same child.
    "stream": (
        "w30_stream_event_timer_finals",
        "w31_stream_simhash_dedup",
        "w32_allowed_lateness_refire",
        "w33_stream_simhash_dedup_capped",
        "w34_stream_kmv_overlap",
        "w35_stream_cms_heavy_hitters",
        "w36_stream_ann_serving",
        "w37_stream_classifier_gate",
    ),
}

# Untimed passes of a section's first query, so per-query numbers
# measure execution, not session startup. headline: the first pass pays
# classloading + parquet footers, the second pays codegen JIT
# compilation that the first pass only enqueued (measured r12: the very
# first query execution of a session is 6-8x its warm time, the second
# ~1.3x; one pass left a1's first timed rep as a cold outlier that
# polluted the headline median). llm: its first op otherwise pays the
# cold documents/embeddings scan + codegen JIT that no other op re-pays
# (measured ~2.5x on the cold op).
WARM = {"headline": 2, "llm": 1}

REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def _time_section(
    spark, qs, sf_dir: str, names: list[str], spread: dict[str, list[float]]
) -> dict[str, float]:
    """Median-of-REPS timing per query: single cold runs swing ±25%
    with GC/state timing, which previously dominated round-over-round
    deltas. Each query runs REPS times back-to-back; the MEDIAN is the
    reported number and [min, max] goes to ``spread`` so the noise band
    is visible in the artifact. The median of warm repeats is the
    steady-state figure a resident production session sees
    (plans/codegen JIT-cached, OS page cache warm) — the first rep
    still pays those, and shows up in the max."""
    timings: dict[str, float] = {}
    for name in names:
        reps: list[float] = []
        for _ in range(REPS):
            # Per-query isolation: drop relations the previous run
            # persisted (dedup/similarity ops cache intermediates they
            # legitimately reuse within one run). A query's own
            # persists still happen inside its own timing; without the
            # clear, leftover blocks GC-pressure every later query.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            qs[name].spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            reps.append(round(time.perf_counter() - t0, 3))
        reps.sort()
        timings[name] = reps[len(reps) // 2]
        spread[name] = [reps[0], reps[-1]]
    return timings


def _load_1m() -> float | None:
    """The 1-minute load average, or None where the platform has none."""
    try:
        return round(os.getloadavg()[0], 2)
    except (AttributeError, OSError):
        return None


def _wait_for_idle_box() -> None:
    """Load-aware pre-flight: two consecutive driver windows ran on a
    contended box and the round-over-round comparison read as noise. If
    the 1-minute load average exceeds half the bench core count,
    sleep-retry for up to ~5 minutes, then proceed anyway — the bench
    must never hang the driver, only dodge transient load. A
    non-integer SPARK_GRAFT_CPUS or a platform without a load average
    skips the wait."""
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    except ValueError:
        print("pre-flight skipped: SPARK_GRAFT_CPUS is not an integer", file=sys.stderr)
        return
    threshold = max(2.0, cpus / 2.0)
    deadline = time.monotonic() + 300
    while time.monotonic() < deadline:
        load = _load_1m()
        if load is None or load <= threshold:
            return
        print(
            f"pre-flight: load {load:.1f} > {threshold:.1f}, waiting...",
            file=sys.stderr,
            flush=True,
        )
        time.sleep(20)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    _wait_for_idle_box()
    load_start = _load_1m()

    # Throughput FIRST, in its own child process, before any other JVM
    # exists: measured in-bench rates were 50-81k ev/s vs 144k for the
    # identical replay in a solo child — the parent JVM's teardown/GC
    # and minutes of batch work contaminate any later measurement, in
    # EITHER child order. The only clean window is before the bench
    # itself dirties the box.
    streaming_rate = _stream_section_child(sf_dir, [])["rate"]

    from kafka_flink_spark.session import get_session
    from kafka_flink_spark.suite import all_queries

    spark = get_session("kafka_flink_spark-bench")
    qs = all_queries()
    extra = [n for n in os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "").split(",") if n in qs]
    sections = {**SECTIONS, "headline": tuple(dict.fromkeys(SECTIONS["headline"] + tuple(extra)))}

    spread: dict[str, list[float]] = {}
    timings: dict[str, dict[str, float]] = {}
    for sec, names in sections.items():
        if sec == "stream":
            continue
        for _ in range(WARM.get(sec, 0)):
            qs[names[0]].spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[sec] = _time_section(spark, qs, sf_dir, list(names), spread)
    spark.stop()

    # The rate already ran in its own pre-bench child above.
    stream = _stream_section_child(sf_dir, list(sections["stream"]), measure_rate=False)
    timings["stream"] = stream["t"]
    spread.update(stream["spread"])

    # Full per-section breakdown + noise bands go to a sidecar file:
    # round 5's single mega-line exceeded the driver's output tail
    # buffer, so the tail started mid-JSON and the headline number was
    # never captured (BENCH_r05.json parsed:null). The driver contract
    # is ONE short JSON line, printed LAST.
    detail = {f"{sec}_queries": t for sec, t in timings.items() if sec != "headline"}
    detail.update(reps_per_query=REPS, spread_min_max=spread)
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(f"per-section detail written to {detail_path}", file=sys.stderr)

    totals = {sec: round(sum(t.values()), 3) for sec, t in timings.items()}
    line = {
        "metric": "headline_queries_total",
        "value": totals["headline"],
        "unit": "sec",
        "queries": timings["headline"],
        "sf": sf,
    }
    line.update({f"{sec}_total": v for sec, v in totals.items() if sec != "headline"})
    line["streaming_ohlcv_ev_per_s"] = streaming_rate
    # min-of-REPS section totals + load-average stamps: when another
    # job shares the box during the bench window, MEDIANS inflate
    # uniformly and rounds read as regressions. The per-query minimum
    # is far less contention-sensitive, so min totals + the 1-min load
    # average at start/end let a reader separate "code got slower" from
    # "box was busy" without re-running anything.
    line["min_totals"] = {
        sec: round(sum(spread[n][0] for n in t), 3) for sec, t in timings.items()
    }
    line["load_avg_1m"] = [load_start, _load_1m()]
    print(json.dumps(line))


def _stream_section(sf_dir: str, names: list[str], measure_rate: bool) -> dict:
    """Time the stream replays ``names`` — after the throughput replay
    when ``measure_rate`` — on their own session; returns
    {"t": timings, "spread": spreads, "rate": ev_per_s}."""
    from kafka_flink_spark.session import get_session
    from kafka_flink_spark.suite import all_queries

    spark = get_session("kafka_flink_spark-bench-replays")
    # Rate FIRST when measured: the throughput number must ride a fresh
    # heap (rate after 6 replays read 81k ev/s vs 144k fresh; rate in a
    # post-batch child read 50k — main()'s pre-bench child is the only
    # clean window, so the stream-section child skips it).
    rate = _streaming_rate(spark) if measure_rate else 0
    spread: dict[str, list[float]] = {}
    t = _time_section(spark, all_queries(), sf_dir, names, spread)
    spark.stop()
    return {"t": t, "spread": spread, "rate": rate}


def _stream_section_child(sf_dir: str, names: list[str], measure_rate: bool = True) -> dict:
    """Run ``_stream_section`` in a child process (fresh JVM, fresh
    state-store dirs) and return its result. Falls back to running it
    in-process if the child fails, so the bench line always prints."""
    repo = os.path.dirname(os.path.abspath(__file__))
    code = (
        f"import sys, json; sys.path.insert(0, {repo!r}); import bench\n"
        "print('BENCHSTREAM ' + json.dumps("
        f"bench._stream_section({sf_dir!r}, {names!r}, {measure_rate!r})))\n"
    )
    try:
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, check=True
        )
        line = [ln for ln in out.stdout.splitlines() if ln.startswith("BENCHSTREAM ")][-1]
        return json.loads(line[len("BENCHSTREAM "):])
    except Exception as exc:  # pragma: no cover - fallback path
        print(f"stream child failed ({exc}); measuring in-process", file=sys.stderr)
        return _stream_section(sf_dir, names, measure_rate)


def _streaming_rate(spark) -> int:
    """Streaming OHLCV throughput (ev/s) on a 1M-event / 2k-key
    replay — the reference's design envelope is 2k ev/s (BASELINE.md);
    report the measured multiple-of-envelope alongside query timings.

    Replay size matters to what the number MEANS: an availableNow
    replay pays ~1.3 s of fixed per-query overhead (micro-batch
    planning, checkpoint setup, state-store open) regardless of event
    count, so a 200k replay (~2.7 s wall) reports ~73k ev/s while the
    SAME pipeline at 1M events reports ~125k — the fixed cost is half
    the small replay's wall. 1M events makes the measurement
    steady-state-dominated, which is the regime a resident streaming
    job actually runs in."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kafka_flink_spark.streaming.candles_stream import ohlcv_stream, run_available_now

    n = 1_000_000
    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        (
            spark.range(n)
            .select(
                F.timestamp_millis(F.lit(1704067200000) + F.col("id") * 30).alias("ts"),
                F.concat(F.lit("P_"), F.col("id") % 2000).alias("product"),
                (F.pmod(F.col("id") * 2654435761, F.lit(1000)) + 1).cast("double").alias("price"),
                (F.pmod(F.col("id"), F.lit(100)) + 1).cast("long").alias("qty"),
                F.col("id").alias("seq"),
            )
            .repartition(8)
            .write.mode("overwrite")
            .parquet(f"{tmp}/src")
        )

        def replay() -> None:
            stream = spark.readStream.schema(
                "ts timestamp, product string, price double, qty long, seq long"
            ).parquet(f"{tmp}/src")
            run_available_now(ohlcv_stream(stream, "1 minute"), "update").count()

        # First streaming query in a session pays ~6s of one-time
        # engine init (micro-batch machinery, state-store classes) and
        # the next one still climbs while the JVM JIT-compiles the
        # state-store/agg hot loops (measured ramp at 1M events:
        # 110k -> 109k -> 125k -> 133k ev/s, flat after). Warm TWO
        # replays so the measured window sits on the plateau, then
        # report the MEDIAN of three measured replays — single replays
        # vary ±25% run-to-run (state-store and GC timing), which
        # previously dominated round-over-round deltas.
        for _ in range(2):
            replay()
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            replay()
            rates.append(int(n / (time.perf_counter() - t0)))
        return sorted(rates)[1]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
