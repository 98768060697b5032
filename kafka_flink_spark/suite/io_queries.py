"""I/O codec queries: the Kafka JSON wire envelope exercised without a
broker (SURVEY.md §2.1 S1 / §2.2 K1 — the encode/decode column
transforms ARE the connector's data path; the broker wrapper adds only
options)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_flink_spark.operators.iterative import pin
from kafka_flink_spark.sources.fixtures import TRADES_ORACLE_CTE, load_table, trades_view
from kafka_flink_spark.sources.kafka_io import encode_json_envelope
from kafka_flink_spark.suite import register

_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("ts_us", T.LongType()),
        T.StructField("instrument_id", T.StringType()),
        T.StructField("product", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("qty", T.LongType()),
        T.StructField("seq", T.LongType()),
    ]
)


@register(
    "k1_json_envelope_roundtrip",
    oracle=f"""
WITH {TRADES_ORACLE_CTE}
SELECT product AS key,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       instrument_id, product, price, qty, seq
FROM trades
""",
    doc="S1/K1: Kafka JSON wire envelope round-trip — typed rows → "
    "to_json value (+ routing key) → from_json back to typed rows, "
    "losslessly (ts carried as epoch µs on the wire; reference "
    "JsonRowSerializationSchema/JsonRowDeserializationSchema, "
    "0_kafka_json_flink.py:35-52). Entirely JVM expressions inside "
    "codegen — no Python, no shuffle.",
)
def k1_json_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    trades = trades_view(spark, sf_dir)
    wire_rows = trades.select(
        F.unix_micros("ts").alias("ts_us"),
        "instrument_id",
        "product",
        "price",
        "qty",
        "seq",
    )
    enveloped = encode_json_envelope(wire_rows, key_col="product")
    return enveloped.select(
        "key", F.from_json(F.col("value").cast("string"), _WIRE_SCHEMA).alias("r")
    ).select(
        "key",
        F.date_format(F.timestamp_micros("r.ts_us"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "r.instrument_id",
        "r.product",
        "r.price",
        "r.qty",
        "r.seq",
    )


def _roundtrip(df, fmt: str, schema: str, read_opts: dict, write_opts: dict):
    """Write → read-back. The scratch dir outlives the returned frame
    (atexit cleanup, see sources.fixtures.scratch_dir) so re-evaluation
    never recomputes from deleted files — no cache pin needed."""
    from kafka_flink_spark.sources.fixtures import scratch_dir

    spark = df.sparkSession
    tmp = scratch_dir(f"io_{fmt}_")
    df.write.mode("overwrite").options(**write_opts).format(fmt).save(tmp)
    return spark.read.schema(schema).options(**read_opts).format(fmt).load(tmp)


@register(
    "io2_csv_roundtrip",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
    doc="CSV sink+source roundtrip with explicit schema: doubles "
    "survive bit-exactly (Spark writes shortest-roundtrip decimal "
    "strings), proving the text-format path is lossless for the "
    "fixture schema. Reader is schema-declared — no inference job.",
)
def io2_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return _roundtrip(
        c,
        "csv",
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
        read_opts={"header": "true"},
        write_opts={"header": "true"},
    )


@register(
    "io3_json_roundtrip",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate
FROM orders
""",
    doc="JSON-lines sink+source roundtrip (the reference's only wire "
    "format, 0_kafka_json_flink.py): timestamps serialized as "
    "formatted strings, doubles shortest-roundtrip — lossless without "
    "schema inference.",
)
def io3_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
    )
    return _roundtrip(
        o,
        "json",
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate string",
        read_opts={},
        write_opts={},
    )


@register(
    "io5_partitioned_pruned_read",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
           AS total_price
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
""",
    doc="Hive-style partitioned layout end-to-end: orders written "
    "partitionBy(o_orderpriority) (repartitioned on the key first so "
    "each partition dir gets one file, not one per task), read back "
    "with a partition-value filter — planning-time partition pruning "
    "lists 2 of 5 directories; the scan never opens the other 3 "
    "(PartitionFilters asserted in tests/test_plans.py). At 100 TB "
    "this layout is the first-order scan reducer: pruning happens "
    "before any I/O, unlike row-group stats which still read footers.",
)
def io5_partitioned_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.sources.fixtures import scratch_dir

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    tmp = scratch_dir("io_part_")
    (
        o.repartition(F.col("o_orderpriority"))
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(tmp)
    )
    return (
        spark.read.parquet(tmp)
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0,
                2,
            ).alias("total_price"),
        )
    )


@register(
    "io4_orc_roundtrip",
    oracle="SELECT p_partkey, p_name, p_brand, p_size, p_retailprice FROM part",
    doc="ORC sink+source roundtrip (the third columnar/text format "
    "next to parquet and CSV/JSON): schema-declared read-back equals "
    "the parquet original bit-for-bit.",
)
def io4_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size", "p_retailprice"
    )
    return _roundtrip(
        p,
        "orc",
        "p_partkey long, p_name string, p_brand string, p_size int, p_retailprice double",
        read_opts={},
        write_opts={},
    )


@register(
    "io6_merge_upsert",
    oracle="""
WITH spend AS (
    SELECT o_custkey AS c_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents
    FROM orders GROUP BY 1
),
synth AS (SELECT -(i + 1) AS c_custkey, (i + 1) * 1000 AS spend_cents FROM range(10) t(i)),
src AS (SELECT * FROM spend UNION ALL SELECT * FROM synth),
tgt AS (SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents FROM customer)
SELECT coalesce(t.c_custkey, s.c_custkey) AS c_custkey,
       CASE WHEN t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
                 THEN t.acctbal_cents + s.spend_cents
            WHEN t.c_custkey IS NULL THEN s.spend_cents
            ELSE t.acctbal_cents END AS acctbal_cents,
       CASE WHEN t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL THEN 'updated'
            WHEN t.c_custkey IS NULL THEN 'inserted'
            ELSE 'kept' END AS status
FROM tgt t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
""",
    doc="Batch MERGE INTO / upsert (operators/merge.merge_into): "
    "matched keys update (balance += period spend), source-only keys "
    "insert, target-only keys keep — the data-lake maintenance "
    "primitive as ONE declarative full-outer join (AQE broadcasts the "
    "small change set against a large target; skew-join splits hot "
    "keys). Money in exact cent integers end-to-end.",
)
def io6_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.merge import merge_into

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents")
    )
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("spend_cents"))
    )
    synth = spark.range(10).select(
        (-(F.col("id") + 1)).cast("long").alias("c_custkey"),
        ((F.col("id") + 1) * 1000).cast("long").alias("spend_cents"),
    )
    source = spend.unionByName(synth)
    return merge_into(
        cust,
        source,
        key="c_custkey",
        update_set={"acctbal_cents": F.col("t.acctbal_cents") + F.col("s.spend_cents")},
        insert_set={"acctbal_cents": F.col("s.spend_cents")},
        status_col="status",
    )


@register(
    "io7_small_file_compaction",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
       round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
           AS total_price
FROM orders
""",
    doc="Small-file compaction — the table-maintenance op every "
    "streaming ingest needs (micro-batches leave thousands of tiny "
    "files; scan cost becomes per-file overhead): rewrite a "
    "64-file fragmented copy of orders into size-targeted files via "
    "coalesce (no shuffle — compaction must not pay an exchange), "
    "verify the compacted table byte-for-byte equals the source "
    "via aggregate fingerprint, and assert the file count actually "
    "dropped. At 100 TB this runs per partition-predicate slice "
    "(compact yesterday's partition), never whole-table.",
)
def io7_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    from kafka_flink_spark.sources.fixtures import scratch_dir

    orders = load_table(spark, sf_dir, "orders")
    tmp = scratch_dir("compact_")
    frag_dir, compact_dir = tmp + "/frag", tmp + "/compact"
    # simulate streaming-ingest fragmentation: 64 tiny files
    orders.repartition(64).write.mode("overwrite").parquet(frag_dir)
    frag = spark.read.parquet(frag_dir)
    n_frag_files = len(glob.glob(frag_dir + "/part-*.parquet"))
    # compaction: narrow coalesce to a handful of right-sized files
    frag.coalesce(4).write.mode("overwrite").parquet(compact_dir)
    n_compact_files = len(glob.glob(compact_dir + "/part-*.parquet"))
    assert n_frag_files >= 32 and n_compact_files <= 4, (
        n_frag_files,
        n_compact_files,
    )
    return spark.read.parquet(compact_dir).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("o_orderkey").cast("long").alias("n_keys"),
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2
        ).alias("total_price"),
    )


@register(
    "io8_xml_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    doc="Native XML sink+source roundtrip (Spark 4 ships spark-xml "
    "in-core): row-per-element write with an explicit rowTag, schema-"
    "declared read-back — the fourth interchange format next to "
    "CSV/JSON/ORC, closing the enterprise-ingest surface. Doubles "
    "survive via shortest-roundtrip rendering like the CSV path.",
)
def io8_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    return _roundtrip(
        s,
        "xml",
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
        read_opts={"rowTag": "row"},
        write_opts={"rowTag": "row"},
    )


def _morton_sql(exprs: list[str], bits: int = 10) -> str:
    n = len(exprs)
    terms = []
    for c, x in enumerate(exprs):
        terms += [f"(((({x}) >> {j}) & 1) << {j * n + c})" for j in range(bits)]
    return "(" + " + ".join(terms) + ")"


_SCALED_P = "(((l_partkey - lo_p) * 1023) // greatest(1, hi_p - lo_p))"
_SCALED_S = "(((l_suppkey - lo_s) * 1023) // greatest(1, hi_s - lo_s))"


@register(
    "io9_zorder_layout",
    oracle=f"""
WITH b AS (
    SELECT min(l_partkey) AS lo_p, max(l_partkey) AS hi_p,
           min(l_suppkey) AS lo_s, max(l_suppkey) AS hi_s
    FROM lineitem
),
z AS (
    SELECT CAST({_morton_sql([_SCALED_P, _SCALED_S])} AS BIGINT) AS zcode,
           l_partkey, l_suppkey
    FROM lineitem, b
)
SELECT CAST(zcode >> 14 AS BIGINT) AS zbucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(l_partkey) AS BIGINT) AS min_part,
       CAST(max(l_partkey) AS BIGINT) AS max_part,
       CAST(min(l_suppkey) AS BIGINT) AS min_supp,
       CAST(max(l_suppkey) AS BIGINT) AS max_supp
FROM z
GROUP BY 1
""",
    doc="Z-order (Morton) clustering key (operators/zorder.py): "
    "rescale l_partkey/l_suppkey onto the 10-bit range and interleave "
    "their bits into one code, then profile the 64 top-level code "
    "buckets — each bucket's min/max on BOTH key columns is narrow "
    "simultaneously, which is exactly why a Morton-range-partitioned "
    "write lets footer stats prune files for predicates on EITHER "
    "column (file-level evidence pinned in "
    "tests/test_plans.py::test_zorder_write_skips_on_both_dims). Pure "
    "integer algebra, deterministic, fused into the scan (plus one "
    "tiny column-pruned min/max pre-pass for the domain bounds).",
)
def io9_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.zorder import morton_code, scale_to_bits

    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_partkey").alias("lo_p"),
        F.max("l_partkey").alias("hi_p"),
        F.min("l_suppkey").alias("lo_s"),
        F.max("l_suppkey").alias("hi_s"),
    )
    # bounds join back as a broadcast single-row relation — the whole
    # query stays lazy and cluster-side (no driver scalar round-trip)
    scaled = [
        scale_to_bits("l_partkey", F.col("lo_p"), F.col("hi_p")),
        scale_to_bits("l_suppkey", F.col("lo_s"), F.col("hi_s")),
    ]
    z = li.crossJoin(F.broadcast(bounds)).select(
        morton_code(scaled, bits=10).alias("zcode"),
        "l_partkey",
        "l_suppkey",
    )
    return z.groupBy(F.shiftright("zcode", 14).cast("long").alias("zbucket")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("l_partkey").cast("long").alias("min_part"),
        F.max("l_partkey").cast("long").alias("max_part"),
        F.min("l_suppkey").cast("long").alias("min_supp"),
        F.max("l_suppkey").cast("long").alias("max_supp"),
    )


@register(
    "io10_schema_evolution_merge",
    oracle="""
SELECT n_nationkey, n_name,
       CAST(NULL AS VARCHAR) AS region_name
FROM nation WHERE n_nationkey < 10
UNION ALL
SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE n.n_nationkey >= 10
""",
    doc="Parquet schema evolution: two file generations of one table "
    "(the later adds a region_name column), read back with "
    "mergeSchema=true — early rows surface NULL for the added column, "
    "late rows carry it. The append-only-table reality at 100 TB: "
    "columns get added over months of files and the scan must "
    "reconcile footers without a rewrite. (Merged-schema reads pay a "
    "footer-union planning cost — production tables pin the schema in "
    "a catalog and only enable this for evolving raw zones.)",
)
def io10_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.sources.fixtures import scratch_dir

    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    tmp = scratch_dir("io_evolve_")
    v1 = n.filter(F.col("n_nationkey") < 10).select("n_nationkey", "n_name")
    v2 = (
        n.filter(F.col("n_nationkey") >= 10)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name", F.col("r_name").alias("region_name"))
    )
    v1.write.mode("overwrite").parquet(tmp + "/gen=1")
    v2.write.mode("overwrite").parquet(tmp + "/gen=2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(tmp + "/gen=1", tmp + "/gen=2")
        .select("n_nationkey", "n_name", "region_name")
    )


@register(
    "io11_dynamic_partition_overwrite",
    oracle="""
WITH final AS (
    SELECT o_orderkey, o_orderpriority,
           CASE WHEN o_orderpriority = '1-URGENT'
                THEN CAST(round(o_totalprice * 100) AS BIGINT) * 2
                ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS price_cents
    FROM orders
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(price_cents) AS BIGINT) AS total_cents
FROM final GROUP BY o_orderpriority
""",
    doc="Dynamic partition overwrite (partitionOverwriteMode=dynamic): "
    "a priority-partitioned copy of orders has ONE partition "
    "('1-URGENT', prices doubled) rewritten in place; dynamic mode "
    "replaces exactly the partitions present in the written frame and "
    "provably leaves the other partitions' files untouched — the "
    "idempotent daily-reprocess primitive (re-run one day, never "
    "truncate the table). Oracle is the expected final table state.",
)
def io11_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    from kafka_flink_spark.sources.fixtures import scratch_dir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    tmp = scratch_dir("dpo_") + "/orders_by_priority"
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
    untouched_before = sorted(
        f for f in glob.glob(tmp + "/o_orderpriority=*/part-*.parquet")
        if "1-URGENT" not in f
    )
    urgent_doubled = orders.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "price_cents", F.col("price_cents") * 2
    )
    (
        urgent_doubled.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderpriority")
        .parquet(tmp)
    )
    untouched_after = sorted(
        f for f in glob.glob(tmp + "/o_orderpriority=*/part-*.parquet")
        if "1-URGENT" not in f
    )
    # dynamic mode must not have rewritten (or deleted) other partitions
    assert untouched_before == untouched_after, (
        len(untouched_before),
        len(untouched_after),
    )
    return (
        spark.read.parquet(tmp)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("price_cents").cast("long").alias("total_cents"),
        )
    )


@register(
    "io12_exactly_once_sink",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY event_type
""",
    doc="Exactly-once streaming file sink (streaming/exactly_once.py): "
    "foreachBatch + idempotent per-batch-id parquet OVERWRITE - the "
    "standard recipe for transactional semantics on sinks without a "
    "native streaming writer (foreachBatch is at-least-once; replayed "
    "batches rewrite identical bytes). The query drains the events "
    "stream through the sink, RESTARTS from the same checkpoint (the "
    "second run processes nothing - WAL/commit log resume), reads the "
    "batch_id-partitioned layout back, and must equal the batch "
    "aggregate exactly - no duplicated, no lost rows. Values are "
    "compared in integer cents so the check is order-independent.",
)
def io12_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.sources.fixtures import scratch_dir, stream_events_raw
    from kafka_flink_spark.streaming.exactly_once import run_idempotent_parquet_sink

    tmp = scratch_dir("eos_")
    out, ckpt = tmp + "/out", tmp + "/ckpt"

    def pipeline() -> DataFrame:
        return stream_events_raw(spark, sf_dir).select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )

    run_idempotent_parquet_sink(pipeline(), out, ckpt)
    # restart from the SAME checkpoint: the source has nothing new, so
    # the second run emits no batches; any replayed in-flight batch
    # would overwrite identical bytes (idempotence)
    run_idempotent_parquet_sink(pipeline(), out, ckpt)
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("event_id").cast("long").alias("n_ids"),
        F.sum("value_cents").cast("long").alias("value_cents"),
    )


@register(
    "io13_csv_malformed_handling",
    oracle="""
WITH base AS (SELECT o_orderkey FROM orders WHERE o_orderkey <= 3000)
SELECT 'permissive' AS mode,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (WHERE o_orderkey % 10 <> 0) AS BIGINT) AS n_parsed,
       CAST(count(*) FILTER (WHERE o_orderkey % 10 = 0) AS BIGINT) AS n_corrupt
FROM base
UNION ALL
SELECT 'dropmalformed',
       CAST(count(*) FILTER (WHERE o_orderkey % 10 <> 0) AS BIGINT),
       CAST(count(*) FILTER (WHERE o_orderkey % 10 <> 0) AS BIGINT),
       CAST(0 AS BIGINT)
FROM base
""",
    doc="Malformed-record ingestion semantics (the CSV parse-mode "
    "surface every lake ingest needs): a deterministically corrupted "
    "CSV (every 10th key written with a non-numeric amount) read "
    "twice - PERMISSIVE keeps every line and captures bad ones in "
    "columnNameOfCorruptRecord (nulling unparseable fields), "
    "DROPMALFORMED silently keeps only clean rows. Counts per mode "
    "must match the corruption rule exactly: no line lost, no line "
    "double-counted. Two real-world subtleties this query pins: "
    "(a) Spark rejects plans whose ONLY referenced column is the "
    "corrupt-record column; (b) CSV column pruning means a field "
    "that is never referenced is never parsed - and an unreferenced "
    "unparseable field does NOT mark the row corrupt - so the "
    "aggregates deliberately reference the corruptible column.",
)
def io13_csv_malformed_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.sources.fixtures import scratch_dir

    o = load_table(spark, sf_dir, "orders").filter("o_orderkey <= 3000")
    tmp = scratch_dir("csvmal_")
    lines = o.select(
        F.when(
            F.col("o_orderkey") % 10 == 0,
            F.concat_ws(",", F.col("o_orderkey"), F.lit("NOT_A_NUMBER"),
                        F.col("o_orderpriority")),
        )
        .otherwise(
            F.concat_ws(",", F.col("o_orderkey"), F.col("o_totalprice"),
                        F.col("o_orderpriority"))
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(tmp + "/data")

    schema = "k long, amount double, pri string, _bad string"
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(tmp + "/data")
    )
    # reference a data column alongside _bad: Spark disallows queries
    # whose only referenced column is the internal corrupt-record one
    parsed = F.count(F.when(F.col("_bad").isNull(), F.col("amount")))
    p = permissive.agg(
        F.lit("permissive").alias("mode"),
        F.count("*").cast("long").alias("n_rows"),
        parsed.cast("long").alias("n_parsed"),
        (F.count("*") - parsed).cast("long").alias("n_corrupt"),
    )
    dropm = (
        spark.read.schema("k long, amount double, pri string")
        .option("mode", "DROPMALFORMED")
        .csv(tmp + "/data")
    )
    d = dropm.agg(
        F.lit("dropmalformed").alias("mode"),
        F.count("amount").cast("long").alias("n_rows"),
        F.count("amount").cast("long").alias("n_parsed"),
        F.lit(0).cast("long").alias("n_corrupt"),
    )
    return p.unionByName(d)


@register(
    "io14_key_deletion_sweep",
    oracle="""
WITH dels AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0)
SELECT 'customer' AS tbl,
       CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_before,
       CAST((SELECT count(*) FROM customer WHERE c_custkey % 97 = 0) AS BIGINT)
           AS n_deleted,
       CAST((SELECT count(*) FROM customer WHERE c_custkey % 97 <> 0) AS BIGINT)
           AS n_after,
       CAST(0 AS BIGINT) AS residue
UNION ALL
SELECT 'orders',
       CAST((SELECT count(*) FROM orders) AS BIGINT),
       CAST((SELECT count(*) FROM orders o
             WHERE EXISTS (SELECT 1 FROM dels d
                           WHERE d.c_custkey = o.o_custkey)) AS BIGINT),
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM dels d
                               WHERE d.c_custkey = o.o_custkey)) AS BIGINT),
       CAST(0 AS BIGINT)
""",
    doc="Key-deletion sweep (the GDPR right-to-erasure lake "
    "operation): a deletion list propagates across the subject table "
    "AND every fact table referencing it - broadcast anti-joins "
    "rewrite both tables to a new layout, then the query re-reads the "
    "rewritten files and PROVES zero residue (a semi-join count "
    "against the deletion list over the actual output files, not the "
    "plan). At 100 TB the rewrite runs per partition-predicate slice "
    "touching only partitions that contain deleted keys (a "
    "partition-pruned scan of the deletion-key bloom, the j8 "
    "machinery); the full-table rewrite here is the fixture-scale "
    "form of the same plan.",
)
def io14_key_deletion_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.sources.fixtures import scratch_dir

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    dels = c.filter("c_custkey % 97 = 0").select("c_custkey")
    tmp = scratch_dir("gdpr_")

    c_kept = c.join(F.broadcast(dels), "c_custkey", "left_anti")
    o_kept = o.join(
        F.broadcast(dels), o.o_custkey == dels.c_custkey, "left_anti"
    )
    c_kept.write.mode("overwrite").parquet(tmp + "/customer")
    o_kept.write.mode("overwrite").parquet(tmp + "/orders")

    c_back = spark.read.parquet(tmp + "/customer")
    o_back = spark.read.parquet(tmp + "/orders")

    def stats(tbl: str, before, back, key: str) -> DataFrame:
        n_before = before.count()
        n_after_col = F.count("*").cast("long")
        residue = back.join(
            F.broadcast(dels), back[key] == dels.c_custkey, "left_semi"
        ).count()
        return back.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(n_before).cast("long").alias("n_before"),
            (F.lit(n_before) - n_after_col).cast("long").alias("n_deleted"),
            n_after_col.alias("n_after"),
            F.lit(residue).cast("long").alias("residue"),
        )

    return stats("customer", c, c_back, "c_custkey").unionByName(
        stats("orders", o, o_back, "o_custkey")
    )


@register(
    "io15_bucketed_colocated_join",
    oracle="""
SELECT o_orderpriority,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)
           AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
    doc="Bucketed co-located join: orders and lineitem written as "
    "bucketed tables (bucketBy(8, orderkey).sortBy(orderkey)), then "
    "sort-merge-joined WITHOUT A SHUFFLE — both scans emit the "
    "bucket-hash partitioning the join requires, so the only "
    "Exchange in the whole plan is the final 5-row priority rollup "
    "(gated in tests/test_plans.py). This is the canonical 100 TB "
    "fact-to-fact technique: the shuffle is paid ONCE at write time "
    "and amortized over every subsequent join/aggregation on the "
    "bucket key; a nightly-joined pair of 50 TB tables never "
    "re-exchanges. Bucket count is chosen at write time for target "
    "task size (8 here for fixture scale; thousands at 100 TB) and "
    "sortBy makes each bucket file merge-ready so the join needs no "
    "per-task sort either.",
)
def io15_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _bucketed_orders_lineitem(spark, sf_dir)
    return joined.groupBy("o_orderpriority").agg(
        F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
        F.count("*").cast("long").alias("n_items"),
        F.round(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0, 2
        ).alias("revenue"),
    )


def _bucketed_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write both fixtures as bucketed tables and return the
    exchange-free sort-merge join (the pre-aggregation relation, so
    the plan gate can assert on the join alone)."""
    from kafka_flink_spark.sources.fixtures import scratch_dir

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    base = scratch_dir("io15_bucketed_")
    for name, df, key in (
        ("io15_orders_bkt", o, "o_orderkey"),
        ("io15_lineitem_bkt", li, "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{base}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
    ob = spark.table("io15_orders_bkt")
    lb = spark.table("io15_lineitem_bkt")
    # merge hint: keep the sort-merge strategy even where the fixture
    # side is small enough to broadcast — the co-location is the point.
    return ob.hint("merge").join(lb, ob.o_orderkey == lb.l_orderkey)


@register(
    "io16_jdbc_roundtrip",
    oracle="""
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
FROM customer WHERE c_acctbal > 0
""",
    doc="K4's JDBC path against a REAL database: positive-balance "
    "customers written to an embedded Derby table (the RDBMS that "
    "ships with Spark; mode=overwrite) and read back via "
    "spark.read.jdbc — the same write/read machinery the streaming "
    "foreachBatch JDBC sink uses per micro-batch "
    "(tests/test_streaming.py::test_jdbc_sink_to_embedded_derby pins "
    "that form end-to-end; the reference left JDBC as a commented "
    "Postgres placeholder). At scale the JDBC read partitions on a "
    "numeric column (partitionColumn/lowerBound/upperBound) — here "
    "the table is dimension-sized, one partition is the right plan.",
)
def io16_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    url = "jdbc:derby:memory:io16db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
    )
    c.write.jdbc(url, "io16_customer", mode="overwrite", properties=props)
    return spark.read.jdbc(url, "io16_customer", properties=props).toDF(
        "c_custkey", "c_name", "acctbal"
    )


@register(
    "io17_cdc_changelog_apply",
    oracle="""
WITH chg AS (
    SELECT o_orderkey, 1 AS version, 'I' AS op, 'NEW' AS status,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders
    UNION ALL
    SELECT o_orderkey, 2, 'U', o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) + 1000
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey, 3, 'D', NULL, NULL
    FROM orders WHERE o_orderkey % 7 = 0
),
latest AS (
    SELECT o_orderkey,
           max_by(op, version) AS op,
           max_by(status, version) AS status,
           max_by(price_cents, version) AS price_cents,
           CAST(count(*) AS BIGINT) AS n_versions
    FROM chg GROUP BY o_orderkey
)
SELECT o_orderkey, status, price_cents, n_versions
FROM latest WHERE op <> 'D'
""",
    doc="CDC changelog materialization (the Debezium / Kafka "
    "upsert-topic pattern): a keyed change log of I/U/D records is "
    "compacted to current table state — last-version-wins per key, "
    "deletes drop the key. The changelog is synthesized "
    "deterministically from orders (v1 INSERT for every key, v2 "
    "UPDATE for keys %3, v3 DELETE for keys %7) so both engines "
    "replay the identical log. Spark-first shape: compaction is an "
    "AGGREGATION (max_by over version, one shuffle with map-side "
    "partial combine), not a window sort — at 100 TB of changelog "
    "the partial aggregate collapses each key's versions before the "
    "exchange, where row_number()-over-window would shuffle and "
    "sort every change record. Money stays in integer cents "
    "(engine-order-free). The streaming twin of this compaction is "
    "w22's dropDuplicatesWithinWatermark; the table-maintenance "
    "twin is io6's merge_into.",
)
def io17_cdc_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    ins = o.select(
        "o_orderkey",
        F.lit(1).alias("version"),
        F.lit("I").alias("op"),
        F.lit("NEW").alias("status"),
        cents.alias("price_cents"),
    )
    upd = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit(2).alias("version"),
        F.lit("U").alias("op"),
        F.col("o_orderstatus").alias("status"),
        (cents + 1000).alias("price_cents"),
    )
    dels = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit(3).alias("version"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("long").alias("price_cents"),
    )
    chg = ins.unionByName(upd).unionByName(dels)
    latest = chg.groupBy("o_orderkey").agg(
        F.max_by("op", "version").alias("op"),
        F.max_by("status", "version").alias("status"),
        F.max_by("price_cents", "version").alias("price_cents"),
        F.count("*").alias("n_versions"),
    )
    return latest.filter(F.col("op") != "D").select(
        "o_orderkey", "status", "price_cents", "n_versions"
    )


@register(
    "io18_scd2_dimension_build",
    oracle="""
WITH hist AS (
    SELECT o_custkey, o_orderdate, max(o_orderpriority) AS segment
    FROM orders GROUP BY 1, 2
),
marked AS (
    SELECT o_custkey, o_orderdate, segment,
           lag(segment) OVER (PARTITION BY o_custkey ORDER BY o_orderdate)
               AS prev_segment
    FROM hist
),
changes AS (
    SELECT o_custkey, o_orderdate, segment FROM marked
    WHERE prev_segment IS NULL OR segment <> prev_segment
)
SELECT o_custkey AS custkey, segment,
       strftime(o_orderdate, '%Y-%m-%d') AS effective_from,
       strftime(lead(o_orderdate)
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate),
                '%Y-%m-%d') AS effective_to,
       CAST(lead(o_orderdate)
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate) IS NULL
            AS BIGINT) AS is_current
FROM changes
""",
    doc="SCD Type 2 dimension build: a keyed attribute-change history "
    "is compressed to validity intervals — consecutive identical "
    "values collapse, each surviving change opens an interval that "
    "the NEXT change closes (effective_from / effective_to, open "
    "interval = current row). History synthesized deterministically "
    "from orders (customer's segment = max order priority per order "
    "date). Plan shape: the history pre-aggregation exchanges on "
    "(key, ts); after that, ONE exchange on the key alone feeds "
    "BOTH window passes — the change filter between the lag-compare "
    "and the lead-close preserves hash partitioning, so the second "
    "window adds only a sort, never a reshuffle (2 exchanges total, "
    "gated in tests/test_plans.py). At 100 TB of history the "
    "windowed stage shuffles only (key, ts, attr) triples, and "
    "intervals never materialize more rows than changes. Dates "
    "leave as formatted "
    "strings and the current-row flag as 0/1 so the cross-engine "
    "hash ignores timestamp-NULL representation quirks.",
)
def io18_scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    hist = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderpriority").alias("segment"))
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    changes = hist.withColumn("prev_segment", F.lag("segment").over(w)).filter(
        F.col("prev_segment").isNull()
        | (F.col("segment") != F.col("prev_segment"))
    )
    closed = changes.withColumn("end_ts", F.lead("o_orderdate").over(w))
    return closed.select(
        F.col("o_custkey").alias("custkey"),
        "segment",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("effective_from"),
        F.date_format("end_ts", "yyyy-MM-dd").alias("effective_to"),
        F.col("end_ts").isNull().cast("long").alias("is_current"),
    )


@register(
    "io19_incremental_join_maintenance",
    oracle="""
WITH o_all AS (
    SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders
),
o_base AS (SELECT * FROM o_all WHERE o_orderkey % 10 < 8),
o_delta AS (
    SELECT o_orderkey, o_custkey, price_cents FROM o_all
    WHERE o_orderkey % 10 >= 8
    UNION ALL
    SELECT o_orderkey, o_custkey, price_cents + 1000 FROM o_all
    WHERE o_orderkey % 10 < 8 AND o_orderkey % 7 = 0
),
c_base AS (SELECT c_custkey, c_mktsegment AS segment FROM customer),
c_delta AS (
    SELECT c_custkey, lower(c_mktsegment) AS segment FROM customer
    WHERE c_custkey % 5 = 0
),
o1 AS (
    SELECT * FROM o_base
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM o_delta)
    UNION ALL SELECT * FROM o_delta
),
c1 AS (
    SELECT * FROM c_base
    WHERE c_custkey NOT IN (SELECT c_custkey FROM c_delta)
    UNION ALL SELECT * FROM c_delta
)
SELECT o.o_orderkey, o.o_custkey, c.segment, o.price_cents
FROM o1 o JOIN c1 c ON o.o_custkey = c.c_custkey
""",
    doc="Incremental maintenance of a materialized JOIN view — the "
    "delta-join algebra that IS the reference family's (Flink's) "
    "execution model for regular joins, evidenced in batch: with "
    "upsert deltas dA, dB against base tables A, B and the "
    "previously materialized view J0 = A0 JOIN B0, the new view is "
    "J1 = (J0 minus rows keyed by dA or dB)  UNION  dA JOIN B1 "
    "UNION  (A1-unchanged) JOIN dB — the big stable region of the "
    "view is REUSED (pinned, never re-joined), and the only joins "
    "that execute are delta-sized. The oracle recomputes J1 = "
    "A1 JOIN B1 from scratch; hash equality proves the algebra. "
    "Deltas synthesized deterministically (order inserts %10>=8, "
    "order price updates %7, customer segment updates %5). At "
    "100 TB this is the difference between touching delta-"
    "proportional data per refresh and re-joining the world; the "
    "streaming twin is w20's rollup MERGE, the CDC-compaction twin "
    "io17.",
)
def io19_incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o_all = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    c_all = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    o_base = o_all.filter(F.col("o_orderkey") % 10 < 8)
    o_delta = (
        o_all.filter(F.col("o_orderkey") % 10 >= 8)
        .unionByName(
            o_all.filter(
                ((F.col("o_orderkey") % 10) < 8) & (F.col("o_orderkey") % 7 == 0)
            ).withColumn("price_cents", F.col("price_cents") + 1000)
        )
        .transform(pin)
    )
    c_delta = c_all.filter(F.col("c_custkey") % 5 == 0).withColumn(
        "segment", F.lower("segment")
    ).transform(pin)

    # The previously materialized view: in production this is a table
    # on disk; here J0 is built once and PINNED — the maintenance path
    # below must never re-execute the base join.
    j0 = (
        o_base.join(c_all, o_base.o_custkey == c_all.c_custkey)
        .select("o_orderkey", "o_custkey", "segment", "price_cents")
        .transform(pin)
    )

    # post-delta table states (delta-sized constructions)
    c1 = c_all.join(c_delta.select("c_custkey"), "c_custkey", "left_anti").unionByName(
        c_delta
    )
    o1_unchanged = o_base.join(
        o_delta.select("o_orderkey"), "o_orderkey", "left_anti"
    )

    # delta-join maintenance
    stable = j0.join(
        o_delta.select("o_orderkey"), "o_orderkey", "left_anti"
    ).join(c_delta.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_anti")
    from_o_delta = o_delta.join(c1, o_delta.o_custkey == c1.c_custkey).select(
        "o_orderkey", "o_custkey", "segment", "price_cents"
    )
    from_c_delta = o1_unchanged.join(
        c_delta, o1_unchanged.o_custkey == c_delta.c_custkey
    ).select("o_orderkey", "o_custkey", "segment", "price_cents")

    return (
        stable.select("o_orderkey", "o_custkey", "segment", "price_cents")
        .unionByName(from_o_delta)
        .unionByName(from_c_delta)
    )


@register(
    "io20_snapshot_diff",
    oracle="""
WITH o_all AS (
    SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders
),
snap0 AS (SELECT * FROM o_all WHERE o_orderkey % 10 < 8),
snap1 AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN price_cents + 1000
                ELSE price_cents END AS price_cents
    FROM o_all
    WHERE o_orderkey % 10 < 8 AND o_orderkey % 9 <> 0
    UNION ALL
    SELECT o_orderkey, price_cents FROM o_all WHERE o_orderkey % 10 >= 8
)
SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
       CASE WHEN a.o_orderkey IS NULL THEN 'insert'
            WHEN b.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       a.price_cents AS old_price_cents,
       b.price_cents AS new_price_cents
FROM snap0 a FULL OUTER JOIN snap1 b ON a.o_orderkey = b.o_orderkey
WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
   OR a.price_cents <> b.price_cents
""",
    doc="Snapshot diff / change data feed (the Delta Lake CDF shape, "
    "time-travel diff between two table versions): a keyed FULL "
    "OUTER join of the two snapshots classifies every key as "
    "insert / delete / update (unchanged rows are dropped in the "
    "same pass — no second scan), carrying old and new values for "
    "downstream CDC consumers. Deterministic snapshots derived from "
    "orders (deletes %9, price updates %7, inserts %10>=8 — the "
    "io19 recipe family). ONE co-partitioned join on the key is the "
    "entire plan; at 100 TB both snapshot scans prune to (key, "
    "compared columns) and the join is the inherent cost of a diff "
    "— no window, no sort, no driver state. Money in integer "
    "cents.",
)
def io20_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o_all = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    snap0 = o_all.filter(F.col("o_orderkey") % 10 < 8)
    snap1 = (
        o_all.filter(
            ((F.col("o_orderkey") % 10) < 8) & (F.col("o_orderkey") % 9 != 0)
        )
        .withColumn(
            "price_cents",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("price_cents") + 1000
            ).otherwise(F.col("price_cents")),
        )
        .unionByName(o_all.filter(F.col("o_orderkey") % 10 >= 8))
    )
    a = snap0.select(
        F.col("o_orderkey").alias("_ka"), F.col("price_cents").alias("old_price_cents")
    )
    b = snap1.select(
        F.col("o_orderkey").alias("_kb"), F.col("price_cents").alias("new_price_cents")
    )
    j = a.join(b, a._ka == b._kb, "full_outer")
    return j.filter(
        F.col("_ka").isNull()
        | F.col("_kb").isNull()
        | (F.col("old_price_cents") != F.col("new_price_cents"))
    ).select(
        F.coalesce("_ka", "_kb").alias("o_orderkey"),
        F.when(F.col("_ka").isNull(), "insert")
        .when(F.col("_kb").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        "old_price_cents",
        "new_price_cents",
    )


@register(
    "io22_dynamic_partition_pruning",
    oracle="""
WITH dim AS (
    SELECT DISTINCT o_orderpriority AS priority,
           CAST(substr(o_orderpriority, 1, 1) AS INT) AS urgency_rank
    FROM orders
)
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0, 2)
           AS total_price
FROM orders o JOIN dim d ON o.o_orderpriority = d.priority
WHERE d.urgency_rank <= 2
GROUP BY o.o_orderpriority
""",
    doc="DYNAMIC partition pruning — io5's static cousin and the "
    "first-order scan reducer when the pruning predicate is only "
    "knowable at RUNTIME: the fact table is priority-partitioned on "
    "disk, and the filter arrives through a JOIN against a dimension "
    "whose selective predicate (urgency_rank <= 2, computed from a "
    "dim attribute) never mentions a partition value literal — so "
    "planning-time pruning is impossible, and Catalyst instead "
    "broadcasts the filtered dim keys as a "
    "dynamicpruningexpression INTO the fact scan's "
    "PartitionFilters: 3 of 5 partition directories are never "
    "listed or read (plan-gated in tests/test_plans.py). At 100 TB "
    "with date-partitioned facts this is the difference between "
    "scanning a week and scanning a decade whenever the date set "
    "comes from another table.",
)
def io22_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.sources.fixtures import scratch_dir

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    base = scratch_dir("io22_dpp_")
    (
        o.repartition(F.col("o_orderpriority"))
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(base + "/fact")
    )
    o.select("o_orderpriority").distinct().select(
        F.col("o_orderpriority").alias("priority"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("urgency_rank"),
    ).write.mode("overwrite").parquet(base + "/dim")
    fact = spark.read.parquet(base + "/fact")
    dim = spark.read.parquet(base + "/dim").filter(F.col("urgency_rank") <= 2)
    return (
        fact.join(dim, fact.o_orderpriority == dim.priority)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0,
                2,
            ).alias("total_price"),
        )
    )
