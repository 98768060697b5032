"""Plan-quality gates (the 100 TB contract, SURVEY.md §4): pushdown,
pruning, broadcast strategy, and shuffle counts pinned for headline
queries. These run .explain-level checks only — no data is moved."""

from __future__ import annotations

from kafka_flink_spark.plans import (
    count_exchanges,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
    wholestage_codegen_count,
)
from kafka_flink_spark.sources.fixtures import load_table
from kafka_flink_spark.suite import spark_queries
from tests.conftest import SF_SMALL


def test_filter_pushdown_reaches_scan(spark):
    """f1: both predicates arrive at the parquet scan as PushedFilters."""
    df = spark_queries()["f1_filter_project"](spark, SF_SMALL)
    pushed = " ".join(pushed_filters(df))
    assert "event_type" in pushed and "value" in pushed, pushed


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection reads 2 columns, not all 16 of lineitem."""
    df = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    schemas = read_schema_columns(df)
    assert schemas and sorted(schemas[0]) == ["l_orderkey", "l_quantity"], schemas


def test_broadcast_join_for_small_dim(spark):
    """j1: the part dimension broadcasts — lineitem never shuffles for
    the join; the only hash exchange is the final groupBy."""
    df = spark_queries()["j1_join_broadcast_inner"](spark, SF_SMALL)
    assert has_broadcast_join(df)
    assert count_exchanges(df) == 1, count_exchanges(df)


def test_candles_single_shuffle(spark):
    """a1: OHLCV is partial-aggregated map-side then shuffled ONCE on
    (window, product) — the minimum the semantics allow."""
    df = spark_queries()["a1_ohlcv_tumbling_1h"](spark, SF_SMALL)
    assert count_exchanges(df) == 1, count_exchanges(df)


def test_cascade_no_extra_shuffles(spark):
    """a5: the 1h→1d cascade re-aggregates candles (tiny) rather than
    rescanning trades; two aggregations → at most two exchanges."""
    df = spark_queries()["a5_ohlcv_cascade_1h_to_1d"](spark, SF_SMALL)
    assert count_exchanges(df) <= 2, count_exchanges(df)


def test_pricing_summary_single_shuffle(spark):
    """g1: TPC-H Q1-style aggregation — one shuffle."""
    df = spark_queries()["g1_pricing_summary"](spark, SF_SMALL)
    assert count_exchanges(df) == 1, count_exchanges(df)


def test_codegen_fuses_narrow_pipeline(spark):
    """f1's scan→filter→project pipeline fuses into whole-stage codegen."""
    df = spark_queries()["f1_filter_project"](spark, SF_SMALL)
    assert wholestage_codegen_count(df) >= 1


def test_bucketed_join_eliminates_shuffle(spark):
    """Bucketing both join sides on the key pre-co-locates them: the
    join plans with zero hash exchanges (the 100 TB recipe for repeated
    fact-fact joins; SURVEY.md 'co-locate joins via bucketing')."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="buckets_")
    try:
        o = load_table(spark, SF_SMALL, "orders")
        li = load_table(spark, SF_SMALL, "lineitem")
        (
            o.write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{tmp}/orders_b")
            .mode("overwrite")
            .saveAsTable("orders_b")
        )
        (
            li.write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{tmp}/lineitem_b")
            .mode("overwrite")
            .saveAsTable("lineitem_b")
        )
        joined = spark.table("lineitem_b").join(
            spark.table("orders_b"),
            spark.table("lineitem_b").l_orderkey == spark.table("orders_b").o_orderkey,
        )
        n_ex = count_exchanges(joined)
        assert n_ex == 0, f"bucketed join still shuffles: {n_ex} exchanges"
        assert joined.count() == li.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
        shutil.rmtree(tmp, ignore_errors=True)


def test_product_profit_broadcast_dims(spark):
    """q_product_profit (Q9-shaped): part/supplier/nation broadcast; the
    plan's only hash exchanges are the final aggregate + output sort."""
    df = spark_queries()["q_product_profit"](spark, SF_SMALL)
    assert has_broadcast_join(df)
    assert count_exchanges(df) <= 2, count_exchanges(df)


def test_window_frames_share_one_shuffle(spark):
    """w4: all four o_custkey-partitioned window specs (two orderings)
    reuse a SINGLE hash exchange — Catalyst recognizes the shared
    partitioning; only sort order differs per spec."""
    df = spark_queries()["w4_window_frames"](spark, SF_SMALL)
    assert count_exchanges(df) == 1, count_exchanges(df)


def test_grouping_sets_single_expand_shuffle(spark):
    """g11: GROUPING SETS plans as one Expand + one aggregate exchange,
    not one scan per grouping set."""
    df = spark_queries()["g11_grouping_sets"](spark, SF_SMALL)
    assert count_exchanges(df) == 1, count_exchanges(df)


def test_waiting_suppliers_no_fact_rescans(spark):
    """q_waiting_suppliers (Q21-shaped): the decorrelated form scans
    lineitem ONCE (the EXISTS/NOT-EXISTS pair would rescan it twice
    more) and keeps every aggregate/join keyed on orderkey."""
    df = spark_queries()["q_waiting_suppliers"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    li_scans = len(re.findall(r"Scan parquet[^\n]*lineitem", plan))
    assert li_scans == 1, f"lineitem scanned {li_scans}x"


def test_regex_scalars_fuse_codegen(spark):
    """sc6: the regex projection pipeline is zero-shuffle whole-stage
    codegen (JVM expressions, no Python in the scan path)."""
    df = spark_queries()["sc6_regex_functions"](spark, SF_SMALL)
    assert count_exchanges(df) == 0
    assert wholestage_codegen_count(df) >= 1


def test_partition_pruning_on_partitioned_write(spark):
    """Date-partitioned parquet + an equality filter on the partition
    column prunes at planning time: the scan's PartitionFilters carry
    the predicate and only one partition directory is read — the core
    100 TB layout practice for time-series tables."""
    import re
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="partfilter_")
    try:
        o = load_table(spark, SF_SMALL, "orders")
        (
            o.withColumn("order_date", F.to_date("o_orderdate"))
            .write.partitionBy("order_date")
            .mode("overwrite")
            .parquet(f"{tmp}/orders_p")
        )
        some_date = o.select(F.to_date("o_orderdate").alias("d")).first()["d"]
        df = (
            spark.read.parquet(f"{tmp}/orders_p")
            .filter(F.col("order_date") == F.lit(some_date))
            .select("o_orderkey")
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "order_date" in m.group(1), plan[:2000]
        # pruned scan must read exactly the rows of that one partition
        expected = o.filter(F.to_date("o_orderdate") == F.lit(some_date)).count()
        assert df.count() == expected
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_salted_join_matches_plain_join_and_spreads_keys(spark):
    """Salted join == plain join row-for-row; the salted key space
    fans each hot key out over num_salts reducer keys."""
    from pyspark.sql import functions as F

    from kafka_flink_spark.operators.skew import salted_join

    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    # Simulate a hot key: route 20% of rows to one orderkey.
    skewed = li.withColumn(
        "l_orderkey",
        F.when(F.col("l_quantity") <= 10, F.lit(1)).otherwise(F.col("l_orderkey")),
    )
    dim = (
        load_table(spark, SF_SMALL, "orders")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    )
    plain = skewed.join(dim, "l_orderkey").groupBy("l_orderkey").count()
    salted = (
        salted_join(skewed, dim, "l_orderkey", num_salts=8)
        .groupBy("l_orderkey")
        .count()
    )
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_two_phase_agg_matches_direct(spark):
    """Two-phase (salted) aggregation reduces to the same result as the
    direct groupBy for re-reducible aggregates."""
    from pyspark.sql import functions as F

    from kafka_flink_spark.operators.skew import two_phase_agg

    li = load_table(spark, SF_SMALL, "lineitem")
    direct = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("s"), F.count("*").alias("n"), F.max("l_quantity").alias("m")
    )
    two = two_phase_agg(
        li,
        ["l_returnflag"],
        partial_aggs=[
            F.sum("l_quantity").alias("ps"),
            F.count("*").alias("pn"),
            F.max("l_quantity").alias("pm"),
        ],
        final_aggs=[
            F.sum("ps").alias("s"),
            F.sum("pn").alias("n"),
            F.max("pm").alias("m"),
        ],
        num_salts=8,
    )
    assert sorted(direct.collect()) == sorted(two.collect())


def test_schema_evolution_merge_read(spark):
    """Parquet schema evolution: files written before a column existed
    read back as NULL under mergeSchema — appending columns never
    requires rewriting 100 TB of history."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="evolve_")
    try:
        n = load_table(spark, SF_SMALL, "nation")
        n.write.parquet(f"{tmp}/t", mode="overwrite")
        n.withColumn("n_comment", F.concat(F.lit("c-"), "n_name")).write.parquet(
            f"{tmp}/t", mode="append"
        )
        merged = spark.read.option("mergeSchema", "true").parquet(f"{tmp}/t")
        assert "n_comment" in merged.columns
        assert merged.count() == 2 * n.count()
        assert merged.filter(F.col("n_comment").isNull()).count() == n.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dynamic_partition_overwrite(spark):
    """Dynamic partition overwrite replaces ONLY the partitions present
    in the written frame — the idempotent-backfill primitive (static
    mode would wipe every other date)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="dpo_")
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        o = load_table(spark, SF_SMALL, "orders").withColumn(
            "od", F.to_date("o_orderdate")
        )
        o.write.partitionBy("od").mode("overwrite").parquet(f"{tmp}/t")
        total = o.count()
        one_day = o.select("od").first()["od"]
        patch = o.filter(F.col("od") == one_day).withColumn(
            "o_totalprice", F.lit(0.0)
        )
        patch.write.partitionBy("od").mode("overwrite").parquet(f"{tmp}/t")
        back = spark.read.parquet(f"{tmp}/t")
        assert back.count() == total  # other partitions untouched
        assert (
            back.filter(F.col("od") == one_day)
            .agg(F.sum("o_totalprice"))
            .first()[0]
            == 0.0
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
        shutil.rmtree(tmp, ignore_errors=True)


def test_cms_sketch_broadcasts(spark):
    """g15: the depth*width sketch table is the broadcast side of the
    probe join — keys never shuffle against the sketch."""
    df = spark_queries()["g15_count_min_freq"](spark, SF_SMALL)
    assert has_broadcast_join(df)


def test_decontamination_broadcasts_benchmark(spark):
    """t12: the benchmark gram set (tiny vs the training corpus)
    broadcasts; the corpus-side gram relation never shuffles for the
    contamination join."""
    df = spark_queries()["t12_decontamination"](spark, SF_SMALL)
    assert has_broadcast_join(df)


def test_lateral_decorrelates_to_window(spark):
    """sub3: Catalyst decorrelates the LATERAL ORDER BY+LIMIT subquery
    into a ranked window join — no per-row re-execution (the plan
    contains a Window/rank, not a nested-loop over customers)."""
    from kafka_flink_spark.plans import plan_string

    df = spark_queries()["sub3_lateral_topn"](spark, SF_SMALL)
    p = plan_string(df)
    assert "Window" in p or "row_number" in p, p[:2000]


def test_minhash_signatures_single_exchange(spark):
    """Dedup scale contract: signature computation is one narrow
    shingle-explode stage + one partial-aggregated exchange of 17
    longs per doc — shingle strings never shuffle. (fan_out=False:
    the adaptive re-split for sub-splittable inputs is pinned
    separately below.)"""
    from kafka_flink_spark.operators.dedup import minhash_signatures

    spark.catalog.clearCache()  # a prior d3 run leaves sigs cached
    docs = load_table(spark, SF_SMALL, "documents")
    assert count_exchanges(minhash_signatures(docs, fan_out=False)) == 1


def test_fan_out_narrow_splits_only_underpartitioned_input(spark):
    """operators/partitioning.fan_out_narrow: a one-partition scan
    (the fixture documents file has a single row group — Catalyst
    sizes scan tasks by bytes, so a CPU-heavy narrow pass would run
    on one core) is re-split to default parallelism; an input already
    at cluster parallelism is returned UNCHANGED — no exchange is ever
    added to a big scan."""
    from kafka_flink_spark.operators.partitioning import fan_out_narrow

    docs = load_table(spark, SF_SMALL, "documents")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    split = fan_out_narrow(docs)
    assert split.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    already = docs.repartition(spark.sparkContext.defaultParallelism)
    assert fan_out_narrow(already) is already


def test_pii_redaction_zero_shuffle(spark):
    """t13: the whole redaction pass fuses into the scan — zero
    exchanges, one codegen span."""
    df = spark_queries()["t13_pii_redaction"](spark, SF_SMALL)
    assert count_exchanges(df) == 0, count_exchanges(df)
    assert wholestage_codegen_count(df) >= 1


def test_shingle_rows_zero_shuffle(spark):
    """Gram derivation is per-row: explode(shingle_array) adds no
    exchange (the old window-lead form paid two)."""
    from kafka_flink_spark.operators.dedup import shingle_rows

    spark.catalog.clearCache()
    docs = load_table(spark, SF_SMALL, "documents")
    assert count_exchanges(shingle_rows(docs)) == 0


def test_range_partitioned_write_produces_skippable_files(spark, tmp_path):
    """The write-side of data skipping: repartitionByRange +
    sortWithinPartitions on the filter column yields parquet files
    whose l_shipdate min/max ranges are (near-)disjoint, so a date
    filter prunes whole files/row-groups from footer stats alone — a
    hash-partitioned write gives every file the full date range and
    skips nothing. This layout choice is what makes time-predicate
    scans cheap at 100 TB."""
    import pyarrow.parquet as pq

    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_shipdate")

    def file_ranges(path):
        import glob

        ranges = []
        for f in sorted(glob.glob(str(path) + "/part-*.parquet")):
            md = pq.read_metadata(f)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(1)
                assert col.path_in_schema == "l_shipdate"
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            ranges.append((min(mins), max(maxs)))
        return ranges

    clustered = tmp_path / "clustered"
    li.repartitionByRange(8, "l_shipdate").sortWithinPartitions(
        "l_shipdate"
    ).write.parquet(str(clustered))
    hashed = tmp_path / "hashed"
    li.repartition(8, "l_orderkey").write.parquet(str(hashed))

    def overlaps(ranges):
        n = 0
        for i, (lo1, hi1) in enumerate(ranges):
            for lo2, hi2 in ranges[i + 1 :]:
                if hi1 >= lo2 and hi2 >= lo1:
                    n += 1
        return n

    r_clustered, r_hashed = file_ranges(clustered), file_ranges(hashed)
    assert len(r_clustered) >= 4 and len(r_hashed) >= 4
    # range-clustered: boundary-touch overlaps at most; hashed: all pairs overlap
    assert overlaps(r_clustered) < len(r_clustered)
    assert overlaps(r_hashed) == len(r_hashed) * (len(r_hashed) - 1) // 2


def test_zorder_write_skips_on_both_dims(spark, tmp_path):
    """operators/zorder: a Morton-range-partitioned write is skippable
    on BOTH interleaved columns — for a selective range predicate on
    either key, the fraction of files whose footer [min,max] overlaps
    the predicate is well below 100%, while a single-column range
    layout skips only on its own column and a hash layout on neither."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from kafka_flink_spark.operators.zorder import zorder_write

    # Synthetic keys covering the full 0..1023 domain on both dims:
    # the fixture's l_suppkey has only 10 distinct values at this SF,
    # which makes file boundaries (range-partitioner sampling) land
    # unstably relative to so coarse a grid.
    df = spark.range(50_000).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1024)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1024)).alias("y"),
    )

    zdir = tmp_path / "zorder"
    zorder_write(df, ["x", "y"], str(zdir), bits=10, num_files=16)
    sdir = tmp_path / "single"
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(str(sdir))

    def file_ranges(path, col_name):
        out = []
        for f in sorted(glob.glob(str(path) + "/part-*.parquet")):
            md = pq.read_metadata(f)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.row_group(rg).num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == col_name:
                        mins.append(col.statistics.min)
                        maxs.append(col.statistics.max)
            out.append((min(mins), max(maxs)))
        return out

    def hit_fraction(ranges, lo, hi):
        hits = sum(1 for (a, b) in ranges if b >= lo and a <= hi)
        return hits / len(ranges)

    # average over four disjoint 12%-wide range predicates per dim
    def avg_hits(ranges):
        preds = [(s, s + 127) for s in (64, 320, 576, 832)]
        return sum(hit_fraction(ranges, lo, hi) for lo, hi in preds) / len(preds)

    z_x = avg_hits(file_ranges(zdir, "x"))
    z_y = avg_hits(file_ranges(zdir, "y"))
    s_x = avg_hits(file_ranges(sdir, "x"))
    s_y = avg_hits(file_ranges(sdir, "y"))

    # single-column layout: selective on its own column, useless on the other
    assert s_x <= 0.5, s_x
    assert s_y > 0.9, s_y
    # z-order: skips meaningfully on BOTH columns (16 files over a
    # 20-bit code => each file spans ~1/4 of each dim's range)
    assert z_x <= 0.75, z_x
    assert z_y <= 0.75, z_y


def test_dup_substring_spans_text_never_shuffles(spark):
    """t23: the only corpus-sized exchanges carry (doc_id, pos, hash64)
    — the raw text column must not appear in any exchange's schema."""
    df = spark_queries()["t23_dup_substring_spans"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text#" not in m.group(0), m.group(0)


def test_cdc_chunk_dedup_codegen_three_exchanges(spark):
    """t17 (round-4 rewrite): chunking must be lambda-free codegen —
    no interpreted HigherOrderFunction in the plan — and the (doc,
    chunk) reassembly aggregate must REUSE the window's hash-by-doc
    partitioning (subset rule), so the whole op is exactly 3
    exchanges: tokens->doc window, chunk fingerprints, final agg."""
    df = spark_queries()["t17_cdc_chunk_dedup"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for hof in ("lambdafunction", "transform(", "filter(lambda", "aggregate(lambda"):
        assert hof not in plan.lower(), hof
    assert count_exchanges(df) == 3, count_exchanges(df)


def test_deterministic_shuffle_no_global_sort(spark):
    """t24: one hash exchange on the shard key; NO rangepartitioning
    (a global sort would serialize the corpus through one ordering)."""
    df = spark_queries()["t24_deterministic_shuffle"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan[:2000]
    assert count_exchanges(df) == 1, count_exchanges(df)


def test_curriculum_rank_no_global_sort_and_broadcast_offsets(spark):
    """pipe5: the global curriculum rank comes from a BROADCAST of the
    tiny (bin, shard) offsets relation — no rangepartitioning of the
    corpus, and the corpus-side exchange count stays bounded."""
    df = spark_queries()["pipe5_curriculum_order"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan[:2000]
    assert has_broadcast_join(df)


def test_range_join_binned_is_hash_join_not_nested_loop(spark):
    """j10: the binning rewrite must plan as a shuffled/broadcast HASH
    join on the bin key — never BroadcastNestedLoopJoin/Cartesian,
    which is what a bare |Δt| <= r predicate degenerates to."""
    df = spark_queries()["j10_range_join_binned"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan[:1500]
    assert "HashJoin" in plan, plan[:1500]


def test_winnowing_single_exchange_no_lambdas(spark):
    """t30: gram hashing, windowing, rightmost-min selection, distinct,
    and the per-doc aggregate all reuse ONE hash-by-doc exchange, and
    nothing in the plan is an interpreted HigherOrderFunction."""
    df = spark_queries()["t30_winnowing_fingerprints"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan.lower()
    assert count_exchanges(df) == 1, count_exchanges(df)


def test_url_dedup_single_exchange(spark):
    """t28: canonicalization is a map stage fused into the scan; the
    only exchange carries the canonical string (dedup groupBy)."""
    df = spark_queries()["t28_url_dedup"](spark, SF_SMALL)
    assert count_exchanges(df) == 1, count_exchanges(df)


def test_gopher_rules_no_shuffle(spark):
    """t29: a pure narrow projection — zero exchanges."""
    df = spark_queries()["t29_gopher_quality_rules"](spark, SF_SMALL)
    assert count_exchanges(df) == 0, count_exchanges(df)


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """AQE runtime re-planning is ON and effective: a groupBy over the
    tiny fixture plans 32 shuffle partitions statically, but the
    executed plan's AQEShuffleRead coalesces them — the runtime
    behavior that keeps reducer counts proportional to data, not to
    spark.sql.shuffle.partitions, at any scale."""
    from pyspark.sql import functions as F

    df = (
        load_table(spark, SF_SMALL, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    # materialize through the Dataset's OWN QueryExecution (a write
    # action clones the plan, leaving df's copy isFinalPlan=false)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "AQEShuffleRead coalesced" in plan, plan[:1500]


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join handling is available and fires: a 90%-one-key
    fact joined to a dim (thresholds lowered to fixture scale) plans
    SortMergeJoin(skew=true) with an 'AQEShuffleRead skewed' leg — the
    runtime answer to hot keys that needs NO salting code.

    Caveat this test encodes deliberately: the join output must not be
    re-used by an operator requiring hash partitioning on the join key
    (e.g. a groupBy(k) directly downstream) — splitting a skewed
    partition breaks that partitioning, so AQE then declines to split
    and manual salting (operators/skew.py) is the remaining tool."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        fact = spark.range(400_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
            F.concat(F.lit("payloadpayloadpayload"), F.col("id").cast("string")).alias("pay"),
        )
        dim = spark.range(1000).select(F.col("id").alias("k"), F.col("id").alias("v"))
        j = fact.join(dim, "k").select(F.length("pay").alias("l"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1500]
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_model_quality_filter_no_shuffle(spark):
    """t32: Arrow-batched scoring fuses with the scan — zero exchanges
    (the model-inference stage must never cost a shuffle)."""
    df = spark_queries()["t32_model_quality_filter"](spark, SF_SMALL)
    assert count_exchanges(df) == 0, count_exchanges(df)


def test_weighted_priority_sample_topk_no_global_sort(spark):
    """t33: the weighted-sample top-k must plan as
    TakeOrderedAndProject (per-partition heaps + k-row driver merge),
    never a global Sort — the difference between O(k) driver memory
    and a full corpus sort at 100 TB."""
    df = spark_queries()["t33_weighted_priority_sample"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:1200]
    assert "Sort " not in plan, plan[:1200]


def test_funnel_steps_bounded_exchanges(spark):
    """e12: three user-keyed conditional aggregations — the plan must
    stay at ≤5 user-keyed exchanges (one per event-branch shuffle plus
    assembly); a regression to per-consumer recompute or a stray
    repartition would push it past that."""
    df = spark_queries()["e12_funnel_steps"](spark, SF_SMALL)
    n = count_exchanges(df)
    assert n <= 5, n


def test_bucketed_join_has_no_exchange(spark):
    """io15: both sides read from bucketed tables (bucketBy(8, key))
    — the sort-merge join consumes the bucket partitioning directly,
    so the JOIN subplan has ZERO exchanges (write-time shuffle,
    amortized over every later join on the key), and the full query's
    only exchange is the final 5-row priority rollup."""
    from kafka_flink_spark.suite.io_queries import _bucketed_orders_lineitem

    joined = _bucketed_orders_lineitem(spark, SF_SMALL)
    assert count_exchanges(joined) == 0, joined._jdf.queryExecution().executedPlan().toString()[:3000]
    assert "SortMergeJoin" in joined._jdf.queryExecution().executedPlan().toString()

    full = spark_queries()["io15_bucketed_colocated_join"](spark, SF_SMALL)
    assert count_exchanges(full) == 1, count_exchanges(full)


def test_salted_join_rejects_right_sided_joins(spark):
    """Right/full joins would emit unmatched small-side rows once per
    salt replica — the operator must refuse them loudly."""
    import pytest

    from kafka_flink_spark.operators.skew import salted_join

    a = spark.range(10).withColumnRenamed("id", "k")
    b = spark.range(5).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(a, b, "k", how="right")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(a, b, "k", how="full_outer")
    # the left family stays accepted
    assert salted_join(a, b, "k", how="left_semi").count() == 5


def test_cdc_apply_is_aggregation_not_window_sort(spark):
    """io17's compaction claim: last-version-wins runs as ONE exchange
    with map-side partial aggregation (max_by), zero Window operators
    — a row_number() formulation would shuffle and sort every change
    record."""
    from kafka_flink_spark.suite.io_queries import io17_cdc_changelog_apply

    plan = (
        io17_cdc_changelog_apply(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "Window" not in plan


def test_scd2_windows_share_one_key_exchange(spark):
    """io18's plan claim: 2 exchanges total — the (key, ts) history
    pre-aggregation, then ONE key-partitioned exchange shared by both
    window passes (the change filter preserves partitioning; the
    lead-close adds only a sort)."""
    from kafka_flink_spark.suite.io_queries import io18_scd2_dimension_build

    plan = (
        io18_scd2_dimension_build(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 2
    assert plan.count("Window") == 2


def test_ewma_single_window_operator(spark):
    """e14's plan claim: the 48-lag truncated EWMA compiles to ONE
    Window operator (all lag banks + row_number share a (key, order)
    spec) over exactly two aggregate-sized exchanges — the hourly
    close agg on (key, bucket) and the window's key partitioning. The
    per-row weight loop must be unrolled into the plan, never an
    interpreted HOF."""
    from kafka_flink_spark.suite.events_queries import e14_ewma_smoothing

    plan = (
        e14_ewma_smoothing(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Window") == 1, plan.count("Window")
    assert plan.count("Exchange") == 2
    assert "lambdafunction" not in plan.lower()


def test_interpolation_single_window_pass(spark):
    """e13's plan claim: the backward (prev known) and forward (next
    known) neighbour scans plan into ONE Window operator — Catalyst
    groups frames sharing a (partition, order) — and the gap_fill
    input is pinned (localCheckpoint), so the events scan+agg appears
    ZERO times in the executed plan (it ran exactly once at pin
    time)."""
    from kafka_flink_spark.suite.events_queries import e13_linear_interpolation

    plan = (
        e13_linear_interpolation(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 0
    # one Window for LOCF/interp nav; gap_fill itself adds none
    assert plan.count("Window") == 1


def test_boilerplate_spans_pinned_single_window(spark):
    """t34's plan claim: the token-window hash stream is pinned
    (localCheckpoint) before its two consumers, so the residual plan
    holds exactly ONE Window operator (the span interval-union) and
    the raw text is never re-exploded; the group key rides through
    the helper, so no join re-attaches it (2 pruned scans: the base
    doc dim + group sizes, not 6)."""
    from kafka_flink_spark.suite.llm_queries import t34_boilerplate_removal

    plan = (
        t34_boilerplate_removal(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Window") == 1, plan.count("Window")
    assert plan.count("Scan parquet") <= 2
    assert "lambdafunction" not in plan.lower()


def test_snapshot_diff_single_join_no_window(spark):
    """io20's plan claim: the diff is ONE full-outer key join — no
    window, no sort-based dedup, no second scan for the unchanged-row
    filter (it rides the join output)."""
    from kafka_flink_spark.suite.io_queries import io20_snapshot_diff

    plan = (
        io20_snapshot_diff(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1
    assert plan.count("Window") == 0


def test_skyline_no_cartesian_no_selfjoin(spark):
    """g23's plan claim: the skyline never self-joins the data — no
    CartesianProduct, no NestedLoop except the two broadcast handoffs
    (span row + B-row cumulative-min), and exactly two Windows (the
    bucket prev-min/same-x pass and the handoff's cumulative min)."""
    from kafka_flink_spark.suite.relational_queries import g23_pareto_frontier

    plan = (
        g23_pareto_frontier(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 0


def test_incremental_join_reuses_pinned_view(spark):
    """io19's plan claim: the maintenance path reads the PINNED J0
    (zero scans of the base join's inputs under the stable branch) —
    the residual plan scans orders/customer only for the delta-sized
    branches."""
    from kafka_flink_spark.suite.io_queries import io19_incremental_join_maintenance

    plan = (
        io19_incremental_join_maintenance(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # delta branches: c1 (customer x2: anti + delta), o1_unchanged
    # (orders), from_o_delta probes pinned o_delta — the base join
    # itself contributes ZERO scans (it lives in the checkpoint).
    assert plan.count("Scan parquet") <= 4
    assert "ScanExistingRDD" in plan or "Scan ExistingRDD" in plan


def test_cep_followed_by_single_exchange(spark):
    """e16: the CEP followed-by pattern is ONE window function over a
    user-keyed exchange — no self-join of clicks against purchases
    (which would shuffle the event log twice and explode on hot
    users). Exactly 1 exchange; no join operator in the plan."""
    df = spark_queries()["e16_cep_followed_by"](spark, SF_SMALL)
    assert count_exchanges(df) == 1, count_exchanges(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]


def test_ab_test_single_pass_conditional_agg(spark):
    """e17: both variants' moments come from ONE conditional
    aggregation over the per-user relation — no per-variant
    self-join. ≤2 hash exchanges (user agg + scalar agg) and no join
    operator anywhere."""
    df = spark_queries()["e17_ab_test_welch"](spark, SF_SMALL)
    assert count_exchanges(df) <= 2, count_exchanges(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]


def test_decile_binning_no_global_sort(spark):
    """fe1: equal-frequency binning must NOT plan a rangepartition +
    global sort (the ntile shape): decile edges broadcast from one
    percentile aggregate and bin assignment is codegen comparisons.
    No RangePartitioning; the fact table crosses one broadcast
    nested-loop (1-row edges) and one bin-keyed hash exchange."""
    df = spark_queries()["fe1_decile_binning"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]


def test_target_encoding_single_fact_scan(spark):
    """fe2: the global rate derives from the per-brand aggregate, not
    a second scan of lineitem — exactly one lineitem scan in the
    plan, and the dimension join broadcasts."""
    df = spark_queries()["fe2_target_encoding"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")
    assert has_broadcast_join(df)


def test_psi_drift_no_data_sized_exchange(spark):
    """qa3: the fact table is scanned narrow (3 columns) and every
    exchange payload past the scans is category-sized — the first
    aggregation is map-side combinable to (event_type, bin) rows. No
    RangePartitioning anywhere (the percentile edges broadcast, fe1's
    shape)."""
    df = spark_queries()["qa3_psi_drift"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan[:2000]
    n = count_exchanges(df)
    assert n <= 6, n


def test_feature_hashing_bounded_exchanges(spark):
    """fe3: explode → (doc, bucket) sum → per-doc aggregate — exactly
    2 hash exchanges, both partial-aggregable, no join; the exchange
    payload is ≤256 buckets per doc regardless of document length."""
    df = spark_queries()["fe3_feature_hashing"](spark, SF_SMALL)
    assert count_exchanges(df) == 2, count_exchanges(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]


def test_line_dedup_two_exchanges_no_lambdas(spark):
    """t36's plan claim: non-overlapping lines need no per-doc sort —
    the explode(sequence)+hash projection fuses into the scan stage
    (zero interpreted HOF lambdas, text never shuffles), and the whole
    query is exactly TWO exchanges (line-hash window, per-doc agg)."""
    from kafka_flink_spark.suite.llm_queries import t36_line_dedup

    df = t36_line_dedup(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan.lower(), "interpreted HOF on hot path"
    assert count_exchanges(df) == 2, count_exchanges(df)
    # the exchange payload must not carry the token array or raw text
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "_w" not in m.group(1) and "text" not in m.group(1), m.group(0)


def test_link_prediction_topk_no_global_sort(spark):
    """gr8's plan claim: the top-k is TakeOrderedAndProject
    (per-partition heaps), never a global RangePartitioning sort, and
    the candidate anti-join is a real join (no cartesian)."""
    from kafka_flink_spark.suite.relational_queries import gr8_link_prediction

    df = gr8_link_prediction(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_cusum_two_windows_broadcast_stats(spark):
    """e18's plan claim: the two cumsums share one Window operator
    (same spec) and the running min/max a second — one (type, day)
    partitioning serves all four aggregates; reference stats arrive
    by broadcast, never a shuffled join."""
    from kafka_flink_spark.suite.events_queries import e18_cusum_changepoint

    df = e18_cusum_changepoint(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 2, plan.count("Window")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert has_broadcast_join(df)


def test_robust_scaler_broadcast_stats_factside_joinfree(spark):
    """fe4's plan claim: segment stats broadcast onto the fact scan —
    no shuffled join, and the fact table reads only the 5 feature
    columns."""
    from kafka_flink_spark.suite.llm_queries import fe4_robust_scaler

    df = fe4_robust_scaler(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert has_broadcast_join(df)
    schemas = read_schema_columns(df)
    assert schemas and all(len(s) <= 5 for s in schemas), schemas


def test_rfm_no_global_sort_broadcast_edges(spark):
    """fe5's plan claim: quartile scoring never range-shuffles the
    customer relation — no RangePartitioning (the ntile trap), edges
    and the corpus clock arrive by broadcast only."""
    from kafka_flink_spark.suite.relational_queries import fe5_rfm_segmentation

    df = fe5_rfm_segmentation(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert has_broadcast_join(df)


def test_dsir_bucket_exchange_only(spark):
    """t37's plan claim: the only data-sized exchanges carry the
    bucket long (counts) and the doc key (accounting) — raw text
    never shuffles, the ratio table broadcasts."""
    import re

    from kafka_flink_spark.suite.llm_queries import t37_dsir_importance

    df = t37_dsir_importance(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert has_broadcast_join(df)
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1) and "_w" not in m.group(1), m.group(0)


def test_sketch_trio_within_bound_plans(spark):
    """g7/g13/g16 (round-6 within_bound form): the attestation queries
    fold estimate AND exact into the grouped aggregates — no join for
    g7/g13 at all, and g16's only joins are the broadcast of two
    scalar aggregates (never a shuffled join); no raw sketch binary or
    array reaches the output schema."""
    qs = spark_queries()
    for name, n_allowed_joins in (
        ("g7_approx_distinct_sketch", 0),
        ("g13_approx_percentile_sketch", 0),
    ):
        df = qs[name](spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, (name, plan[:1500])
        assert not any(f.dataType.typeName() in ("array", "binary") for f in df.schema.fields)
    df = qs["g16_hll_sketch_union"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan[:1500]
    assert not any(f.dataType.typeName() in ("array", "binary") for f in df.schema.fields)


def test_minhash_capped_no_quadratic_banding(spark):
    """d13's plan claim (the 100-TB knob itself): with bucket_cap
    engaged the plan has no CartesianProduct and no corpus-sized
    nested-loop; the banding self-join and the star path both join on
    (band_id, band_key) hash partitioning."""
    from kafka_flink_spark.suite.llm_queries import d13_minhash_capped_skew

    df = d13_minhash_capped_skew(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # NB: the per-row shingle build (transform(sequence(...))) is a
    # bounded HOF d3 also carries — the gate here is the JOIN shape.
    assert "CartesianProduct" not in plan


def test_pipe10_lsh_pair_stage_no_cartesian(spark):
    """pipe10's plan claim: the production canonical-selection variant
    keeps d3's banded pair-stage shape (no CartesianProduct, no
    interpreted HOFs) with the CC + argmax stages on top."""
    from kafka_flink_spark.suite.llm_queries import pipe10_canonical_selection_lsh

    df = pipe10_canonical_selection_lsh(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_reaches_fact_scan(spark):
    """io22's plan claim: the dim's runtime-only predicate becomes a
    dynamicpruningexpression inside the FACT scan's PartitionFilters —
    partition directories are skipped at runtime, not merely rows
    filtered post-scan; the dim side broadcasts."""
    from kafka_flink_spark.suite.io_queries import io22_dynamic_partition_pruning

    df = io22_dynamic_partition_pruning(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert has_broadcast_join(df)


def test_kmv_bottom_k_plans_window_group_limit(spark):
    """g25's per-set bottom-k: the rank filter must plan as
    WindowGroupLimit with a PARTIAL pass before the exchange
    (per-partition top-k heaps), so the shuffle carries at most k rows
    per set per input partition, never the whole set. Raw members
    never shuffle — only the 8-byte hash column appears above the
    scan."""
    from kafka_flink_spark.operators.sketches import kmv_bottom_k

    ev = load_table(spark, SF_SMALL, "events")
    df = kmv_bottom_k(ev, "event_type", "user_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # two WindowGroupLimit nodes: partial (below exchange) + final.
    # In the executedPlan string, parents print above children, so the
    # claimed shape is final-WGL ... Exchange ... partial-WGL: the
    # first WGL occurrence must precede the first Exchange, and a
    # second WGL must follow that Exchange (map-side top-k heaps).
    assert plan.count("WindowGroupLimit") >= 2, plan[:2000]
    first_wgl = plan.find("WindowGroupLimit")
    first_exchange = plan.find("Exchange")
    assert -1 < first_wgl < first_exchange, plan[:2000]
    assert plan.find("WindowGroupLimit", first_exchange) != -1, plan[:2000]


def test_pagerank_broadcast_ranks_no_edge_shuffle_join(spark):
    """The Pregel broadcast knob's plan claim: with broadcast_ranks on
    (the sub-4M-node auto default), a single update round plans the
    edge-side join (edges ⋈ broadcast(fac), fac = deg ⋈ broadcast(pr))
    as BroadcastHashJoin on ``src`` — the edge relation never
    re-partitions for the join. Gate the join strategy on the round's
    plan built exactly like pagerank's loop body."""
    import re

    from pyspark.sql import functions as F

    from kafka_flink_spark.operators.graph import PR_DAMP_DEN, PR_DAMP_NUM
    from kafka_flink_spark.operators.iterative import pin

    edges = pin(
        spark.createDataFrame([(i, (i + 1) % 50) for i in range(50)], "src long, dst long")
    )
    deg = pin(edges.groupBy("src").agg(F.count("*").alias("deg")))
    pr = pin(spark.createDataFrame([(i, 10**9) for i in range(50)], "id long, pr long"))
    fac = deg.join(F.broadcast(pr), deg.src == pr["id"]).select(
        deg.src,
        F.expr(f"({PR_DAMP_NUM} * pr) div ({PR_DAMP_DEN} * deg)").alias("_f"),
    )
    plan = (
        edges.join(F.broadcast(fac), "src")
        .groupBy("dst")
        .agg(F.sum("_f").alias("s"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # edge-side join: src = src (the fac join is src = id)
    assert re.search(r"BroadcastHashJoin \[src#\d+L\], \[src#\d+L\]", plan), plan[:2000]


def test_hybrid_rrf_shortlist_bounded_fusion(spark):
    """pipe11: the fusion tail must touch only shortlist-sized rows —
    every rank cap (query-term top-8, lex top-50, vec top-50, fused
    top-k) plans as WindowGroupLimit (partial+final pairs), never a
    global sort: no RangePartitioning anywhere. Small sides broadcast
    (query terms / df / stats / query vectors), so the only
    shuffle-requiring join is the full-outer fusion of two
    already-shortlisted arms."""
    df = spark_queries()["pipe11_hybrid_retrieval_rrf"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # 4 rank caps x >=2 WGL nodes (map-side partial + final each)
    assert plan.count("WindowGroupLimit") >= 8, plan.count("WindowGroupLimit")
    assert "rangepartitioning" not in plan.lower(), plan[:2000]
    assert has_broadcast_join(df)
    assert "FullOuter" in plan, plan[:2000]


def test_stream_ann_serving_window_free_plan(spark):
    """w36's streaming claim: the serving-side plan contains NO Window
    operator (illegal on streams — probed cells come from broadcast
    centroid array + sort_array/slice HOFs instead) while still being
    a genuine stream (StreamingRelation source, stream-static Join,
    update-mode-compatible Aggregate). Gate on the analyzed logical
    plan: physical planning requires writeStream.start()."""
    from kafka_flink_spark.suite.streaming_queries import _w36_per_query_stream

    s = _w36_per_query_stream(spark, SF_SMALL)
    assert s.isStreaming
    lp = s._jdf.queryExecution().analyzed().toString()
    assert "Window [" not in lp, lp[:2000]
    assert "StreamingRelation" in lp
    assert "Join" in lp
    assert "Aggregate" in lp


def test_round8_text_classifier_plans(spark):
    """Round-8 scan-path ops keep their docstring plan claims: t38's
    NFC is an Arrow projection fused with the scan (ArrowEvalPython,
    ZERO exchanges); t39's script profile is pure codegen (zero
    exchanges, no Python operator at all); fe6's classifier is
    whole-stage JVM — exactly 2 exchanges (bucket partial-agg +
    per-doc agg), the weight vector joins broadcast, and no Python
    evaluator appears anywhere in the plan."""
    t38 = spark_queries()["t38_unicode_nfc"](spark, SF_SMALL)
    p38 = t38._jdf.queryExecution().executedPlan().toString()
    assert count_exchanges(t38) == 0 and "ArrowEvalPython" in p38, p38[:1500]

    t39 = spark_queries()["t39_script_detection"](spark, SF_SMALL)
    p39 = t39._jdf.queryExecution().executedPlan().toString()
    assert count_exchanges(t39) == 0, p39[:1500]
    assert "EvalPython" not in p39, p39[:1500]

    fe6 = spark_queries()["fe6_linear_model_score"](spark, SF_SMALL)
    p6 = fe6._jdf.queryExecution().executedPlan().toString()
    assert count_exchanges(fe6) == 2, count_exchanges(fe6)
    assert has_broadcast_join(fe6)
    assert "EvalPython" not in p6, p6[:1500]


def test_stupid_backoff_bounded_exchanges_no_cartesian(spark):
    """t40: three corpus-model aggregates + the held-out scoring
    joins — at most 8 hash exchanges, the unigram/corpus-size sides
    broadcast, and no CartesianProduct (every join is keyed; the one
    crossJoin carries a single broadcast scalar row)."""
    df = spark_queries()["t40_stupid_backoff_lm"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_exchanges(df) <= 8, count_exchanges(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan, plan[:1500]


def test_graph_ann_search_no_cartesian_no_global_sort(spark):
    """v15: the beam search's per-round top-beam plans as
    WindowGroupLimit (per-partition heaps), never a global sort (no
    RangePartitioning), and no CartesianProduct anywhere — the only
    quadratic work is inside the blocked-GEMM index build's grouped
    Arrow stage, not a join explosion."""
    df = spark_queries()["v15_graph_ann_search"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "rangepartitioning" not in plan.lower(), plan[:1500]
    assert plan.count("WindowGroupLimit") >= 2, plan.count("WindowGroupLimit")


def test_stream_classifier_gate_window_free_broadcast_join(spark):
    """w37's streaming frame: no Window operator (none needed — the
    per-doc fold is ONE update-mode aggregation), the weight relation
    joins the stream, and the plan is a genuine stream. Gate on the
    analyzed logical plan like w36's."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kafka_flink_spark.operators.text import bucket_weights, hashed_tokens

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="w37_gate_")
    try:
        docs.limit(10).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/src")
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            f"{tmp}/src"
        )
        # the frame w37 runs: the same two operators and the same fold
        agg = (
            hashed_tokens(stream)
            .join(F.broadcast(bucket_weights(spark)), "bucket")
            .groupBy("doc_id")
            .agg(
                F.count("*").cast("long").alias("n_tokens"),
                F.sum(F.col("sgn") * F.col("w")).cast("long").alias("bow_margin"),
            )
        )
        assert agg.isStreaming
        lp = agg._jdf.queryExecution().analyzed().toString()
        assert "Window [" not in lp, lp[:1500]
        assert "StreamingRelation" in lp
        assert "Join" in lp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_holt_family_python_over_aggregate_rows_only(spark):
    """e22/e23 (VERDICT r8 item 3): the per-key sequential smoother
    runs in applyInPandas over AGGREGATE-sized rows only — in the
    executed plan the FlatMapGroupsInPandas node sits ABOVE the daily
    HashAggregate, so Python never touches event-sized data; the only
    exchanges are the aggregate's hash partial and the per-key
    grouping (plus AQE bookkeeping), never a corpus-sized shuffle
    after the Python stage."""
    for name in ("e22_holt_forecast", "e23_holt_winters_forecast"):
        df = spark_queries()[name](spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" in plan, (name, plan[:1500])
        # printed top-down: the Python node must appear before (above)
        # every aggregate node, i.e. its input is the aggregate output
        py_at = plan.index("FlatMapGroupsInPandas")
        agg_at = plan.index("HashAggregate")
        assert py_at < agg_at, (name, plan[:1500])
        assert count_exchanges(df) <= 3, (name, count_exchanges(df))
        assert "CartesianProduct" not in plan, (name, plan[:1500])
