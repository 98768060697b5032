"""Streaming OHLCV candle pipelines.

Re-expresses the reference's streaming semantics Spark-first:

* W1/W2 event-time — the ``ts`` column itself (no
  ``set_stream_time_characteristic``; event time is declarative).
* W3/W4 watermarks — ``withWatermark(ts, delay)``; the reference's
  "monotonous timestamps" strategy (``7_ohlc.py:136``) is delay=0,
  bounded out-of-orderness (``old/kfk.py:111``) is delay=60s.
* W5 tumbling windows — ``window(ts, d)``; W14 sliding/session —
  ``window(ts, d, slide)`` / ``session_window(ts, gap)``.
* W11 per-event update emission (``5_ohlc.py:99``) — update/complete
  output mode on the same aggregation (micro-batch granularity; the
  per-event trace lives in streaming/stateful.py).
* W12 end-of-window append emission (``7_ohlc.py:96-98``) — append
  mode: a window emits exactly once, when the watermark passes its
  end.
* W6 allowed lateness (``3_ohlc.py:63``) — folded into the watermark
  delay (Spark's single-knob model: delay = out-of-orderness +
  lateness budget).

State scale: streaming aggregation state is (keys × open windows)
rows in the state store — bounded by the watermark, independent of
input volume; exactly the property the reference hand-builds with
per-key dicts.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flink_spark.operators.candles import ohlcv, ohlcv_aggs
from kafka_flink_spark.sources.fixtures import _trades, stream_events_raw


def stream_trades_from_fixture(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Replay the events fixture as a streaming trades source (the
    Kafka-free test harness; swap for sources/kafka.kafka_json_source
    in production — the downstream pipeline is identical).

    ``ts`` arrives already normalized to TIMESTAMP by the fixture
    source wrapper, whichever parquet encoding the fixture used.
    """
    return _trades(stream_events_raw(spark, sf_dir, max_files_per_trigger))


def ohlcv_stream(
    trades: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "0 seconds",
    key_col: str = "product",
) -> DataFrame:
    """Watermarked tumbling-window OHLCV over a streaming trades frame.
    Pair with outputMode:

    * ``append`` → W12 end-of-window finals (once per closed window);
    * ``update``/``complete`` → W11 running candles per micro-batch.
    """
    return ohlcv(
        trades.withWatermark("ts", watermark_delay), window_duration, key_col, seq_col="seq"
    )


def ohlcv_stream_cascade(
    trades: DataFrame,
    fine_duration: str = "1 hour",
    coarse_duration: str = "1 day",
    watermark_delay: str = "0 seconds",
    key_col: str = "product",
) -> DataFrame:
    """Multi-resolution candles as ONE streaming query: two chained
    windowed aggregations (Spark 3.4+ multiple-stateful-operator
    support). The reference runs its 1-min and 5-min pipelines as two
    independent jobs over the same topic (``old/flink.py:70-79``),
    scanning the stream twice; here the coarse level re-aggregates the
    fine level's *closed windows* inside the same query — the stream
    is read once, and the coarse aggregation's input is candle-sized,
    not event-sized.

    ``F.window(F.col("w"), coarse)`` re-windows on the fine window
    struct; Spark assigns the fine window's ``window_time`` (end − 1µs)
    as the row's event time, so coarse windows close under the same
    watermark. Append mode only — chained stateful operators reject
    update mode. open/close compose via min_by/max_by on the fine
    window start, exactly like the batch cascade
    (operators/candles.ohlcv_cascade).
    """
    fine = (
        trades.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", fine_duration).alias("w"), F.col(key_col))
        .agg(*ohlcv_aggs("ts", "price", "qty", seq_col="seq"))
    )
    return (
        fine.groupBy(F.window(F.col("w"), coarse_duration).alias("d"), F.col(key_col))
        .agg(
            F.min_by("open", F.col("w.start")).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", F.col("w.start")).alias("close"),
            F.sum("volume").cast("long").alias("volume"),
        )
        .select(
            F.col("d.start").alias("window_start"),
            F.col("d.end").alias("window_end"),
            key_col,
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )


def sliding_counts_stream(
    trades: DataFrame,
    window_duration: str = "2 hours",
    slide: str = "1 hour",
    watermark_delay: str = "0 seconds",
    key_col: str = "product",
) -> DataFrame:
    """W14 sliding-window aggregate (absent in the reference; capability
    parity for the window-category)."""
    return (
        trades.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration, slide).alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n_trades"),
            # exact micro-quantized mean (w14 integer recipe) so any
            # cross-engine oracle of this operator is boundary-safe
            F.round(
                F.sum(F.round(F.col("price") * 1000000).cast("long")).cast("double")
                / (F.count("*") * 1000000.0),
                6,
            ).alias("avg_price"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_trades",
            "avg_price",
        )
    )


def session_counts_stream(
    trades: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "0 seconds",
    key_col: str = "instrument_id",
) -> DataFrame:
    """W14 session windows (gap-based)."""
    return (
        trades.withWatermark("ts", watermark_delay)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n_trades"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "n_trades",
        )
    )


def run_available_now(
    stream_df: DataFrame,
    output_mode: str,
    name: str | None = None,
    shuffle_partitions: int = 8,
) -> DataFrame:
    """Execute a streaming frame to completion (availableNow trigger →
    memory sink) and return the materialized result. The test/replay
    harness: production pipelines point the same frame at Kafka/JDBC
    sinks instead.

    ``shuffle_partitions`` sizes the STATE-STORE partition count for
    the replay (stateful operators pin it at first checkpoint). A
    streaming query pays state-store open/commit PER PARTITION PER
    MICRO-BATCH, so partition count should track key cardinality and
    sustained throughput, not the batch shuffle default — the
    measured curve on the 2k-key OHLCV replay is 32 partitions ->
    42k ev/s, 16 -> 64k, 8 -> 72k (SCALING.md), and the replay
    fixtures here have at most a few thousand keys. Default: 8;
    production resident jobs size it to keys × rate before first
    checkpoint — see session.cluster_conf(). Results are partition-count-
    independent (all stateful ops are keyed; swept across providers
    and AQE modes in earlier rounds), so this is physical-plan only.

    The memory-sink temp table and mkdtemp checkpoint are transient:
    the result is cached and pinned, then the view is dropped and the
    checkpoint dir deleted, so repeated calls (tests, bench loops)
    don't accumulate driver memory or disk.

    The Python data sources (``kafka_log``, ``trade_gen``) drain any
    backlog as ONE micro-batch: Spark 4.1.2's ``PythonMicroBatchStream``
    implements only ``MicroBatchStream`` and ``AcceptsLatestSeenOffset``,
    so Spark falls back to single-batch execution for availableNow; no
    code in this package can change that.

    SINGLE-THREADED BY CONTRACT (ADVICE r11): the partition count is
    applied by toggling the session-global
    ``spark.sql.shuffle.partitions`` and restoring it in ``finally``,
    because a per-query scope does not exist for the state-store
    partition count (it is pinned from the session conf at the
    stream's first checkpoint). A concurrent batch query or second
    replay on the SAME SparkSession during this window would see the
    reduced value (or a racing restore). Every caller in this engine
    (tests, bench.py's single-threaded sections, the replay queries)
    runs replays sequentially; if concurrent replays are ever needed,
    give each its own SparkSession (``spark.newSession()`` shares the
    context but isolates the conf).
    """
    name = name or f"q_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    spark = stream_df.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        result = spark.table(name).cache()
        result.count()  # pin before the backing view disappears
        return result
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        shutil.rmtree(ckpt, ignore_errors=True)


def dual_emit(
    candles_stream: DataFrame,
    updates_name: str = "updates_kafka",
    finals_name: str = "finals_db",
) -> tuple[DataFrame, DataFrame]:
    """K6 — the reference's dual-emit pattern (``7_ohlc.py:82-98``):
    the same aggregation feeds a per-event/running update channel (→
    Kafka in the reference) AND an end-of-window finals channel (→
    Postgres). Spark allows one output mode per query, so this runs
    two queries over one logical aggregation — the documented design
    (SURVEY.md §4.2.2). Returns (updates, finals) materialized frames.
    """
    updates = run_available_now(candles_stream, "update", updates_name)
    finals = run_available_now(candles_stream, "append", finals_name)
    return updates, finals


def rollup_merge_available_now(
    trades: DataFrame,
    target_dir: str,
    window_duration: str = "1 hour",
    key_col: str = "product",
    watermark_delay: str = "0 seconds",
    checkpoint_dir: str | None = None,
    failpoint=None,
) -> DataFrame:
    """Continuous-aggregate maintenance (the hypertable-rollup /
    materialized-candle pattern): an update-mode streaming OHLCV
    aggregation whose every micro-batch MERGEs its changed windows
    into a persistent rollup table, so the table always holds the
    latest value per (window, key) and is queryable mid-stream.

    Spark-first shape: the aggregation state lives in the state store
    (incremental, watermark-bounded); ``foreachBatch`` receives ONLY
    the windows the batch touched and upserts them with the batch
    MERGE operator (operators/merge.py) on the composite window+key —
    at scale the batch side is tiny relative to the rollup table, so
    AQE broadcasts it, and a transactional format (Delta/Iceberg)
    replaces the local staging-dir swap with a row-level MERGE without
    changing anything upstream. Runs to completion (availableNow) and
    returns the final rollup table.

    ``checkpoint_dir`` pins the streaming checkpoint so a later call
    RESUMES the same query (restart/recovery paths); None keeps the
    historical throwaway-tempdir behavior. ``failpoint(batch_id)`` is
    a crash-injection hook invoked after a batch's target swap — the
    MERGE side effect is durable but the batch is NOT yet committed
    to the checkpoint, the exact window a real crash hits; recovery
    tests raise from it and restart. Replay of that batch re-MERGEs
    the same windows by key, which is idempotent by construction.
    """
    import os
    import shutil

    from kafka_flink_spark.operators.merge import merge_into

    agg = ohlcv_stream(trades, window_duration, watermark_delay, key_col)
    value_cols = ("open", "high", "low", "close", "volume")

    def upsert(batch: DataFrame, _bid: int) -> None:
        spark = batch.sparkSession
        src = batch.withColumn(
            "k",
            F.concat_ws(
                "|", F.col("window_start").cast("string"), F.col(key_col)
            ),
        )
        if os.path.isdir(target_dir):
            tgt = spark.read.parquet(target_dir)
            merged = merge_into(
                tgt,
                src,
                "k",
                update_set={
                    c: F.col(f"s.{c}")
                    for c in ("window_start", "window_end", key_col, *value_cols)
                },
                insert_set={
                    c: F.col(f"s.{c}")
                    for c in ("window_start", "window_end", key_col, *value_cols)
                },
            )
        else:
            merged = src
        staging = target_dir + ".staging"
        merged.write.mode("overwrite").parquet(staging)
        if os.path.isdir(target_dir):
            shutil.rmtree(target_dir)
        os.rename(staging, target_dir)
        if failpoint is not None:
            failpoint(_bid)

    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_rollup_")
    try:
        q = (
            agg.writeStream.foreachBatch(upsert)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if checkpoint_dir is None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return trades.sparkSession.read.parquet(target_dir).drop("k")
