"""Streaming parity queries: Structured Streaming pipelines replayed
over the events fixture with availableNow triggers and materialized
through a memory sink, oracle-checked against batch SQL.

These register real streaming executions in the driver's correctness
gate — the streamed result after full replay must equal the batch
answer (the fundamental Structured Streaming guarantee the reference
hand-approximates with keyed state, ``7_ohlc.py:35-98``).

Scale note: the replay harness (memory sink) is test-only; the same
pipeline objects point at Kafka/JDBC sinks in production
(sinks/kafka_io.py). Streaming aggregation state is (keys × open
windows), bounded by the watermark — independent of input volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flink_spark.functions.hashing import duckdb_md5_long, md5_long
from kafka_flink_spark.operators.iterative import pin
from kafka_flink_spark.sources.fixtures import TRADES_ORACLE_CTE, scratch_dir, trades_view
from kafka_flink_spark.streaming.candles_stream import (
    ohlcv_stream,
    run_available_now,
    stream_trades_from_fixture,
)
from kafka_flink_spark.streaming.stateful import running_candles_batch
from kafka_flink_spark.suite import register

_FMT = "yyyy-MM-dd HH:mm:ss"


def _fmt_windows(df: DataFrame) -> DataFrame:
    return df.select(
        F.date_format("window_start", _FMT).alias("window_start"),
        F.date_format("window_end", _FMT).alias("window_end"),
        "product",
        "open",
        "high",
        "low",
        "close",
        "volume",
    )


def _write_replay_files(tagged: DataFrame, n_parts: int, tmpdir: str) -> str:
    """Write a replay fixture's ordered micro-batch files in ONE job.

    ``tagged`` carries an int ``_part`` column (0..n_parts-1); every
    other column is the replay schema. The r11-era per-part loop paid
    one Spark job per file, each re-scanning its source; here one
    ``repartition("_part")`` + dynamic ``partitionBy`` write emits all
    files in a single job (all rows of a part co-locate in one task,
    so each part is exactly one parquet file). Files then move to
    ``src/`` under ascending mtimes so ``maxFilesPerTrigger=1``
    replays them in part order — row content identical to the old
    loop. A part with no rows (possible at tiny SFs) falls back to an
    empty single-file write, preserving the old loop's empty-batch
    behavior.
    """
    import os
    import shutil

    src = os.path.join(tmpdir, "src")
    os.makedirs(src)
    stage = os.path.join(tmpdir, "stage")
    tagged.repartition("_part").write.mode("overwrite").partitionBy(
        "_part"
    ).parquet(stage)
    schema = tagged.drop("_part").schema
    for i in range(n_parts):
        pdir = os.path.join(stage, f"_part={i}")
        if not os.path.isdir(pdir):  # empty part: keep the empty file
            pdir = os.path.join(tmpdir, f"empty{i}")
            tagged.sparkSession.createDataFrame([], schema).coalesce(
                1
            ).write.mode("overwrite").parquet(pdir)
        pq = next(f for f in sorted(os.listdir(pdir)) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{i:02d}.parquet")
        shutil.copyfile(os.path.join(pdir, pq), dst)
        # FileStreamSource orders files by modification time; pin it.
        os.utime(dst, (1_700_000_000 + i * 100,) * 2)
    return src


def _union_parts(parts: list[DataFrame]) -> DataFrame:
    """Tag and union equal-schema part DataFrames for
    :func:`_write_replay_files`."""
    tagged = [p.withColumn("_part", F.lit(i)) for i, p in enumerate(parts)]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    return out


_CANDLES_1H_ORACLE_BODY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       product,
       arg_min(price, ts) AS open,
       max(price) AS high,
       min(price) AS low,
       arg_max(price, ts) AS close,
       CAST(sum(qty) AS BIGINT) AS volume
FROM trades
GROUP BY 1, 2, 3
"""


@register(
    "w11_stream_ohlcv_update",
    oracle=f"WITH {TRADES_ORACLE_CTE} {_CANDLES_1H_ORACLE_BODY}",
    doc="W11 update-mode emission (reference 5_ohlc.py:99): streaming "
    "tumbling OHLCV replayed with availableNow; every window updated in "
    "a micro-batch is emitted with its current running value. The sink "
    "retains one row per window per batch, so the result is reduced to "
    "the LAST update per (window, product) via max_by(n_trades) — the "
    "event count is STRICTLY increasing across a window's updates "
    "(volume isn't: qty can be 0), so the winner is unique — making "
    "the query robust to multi-batch replays (maxFilesPerTrigger, "
    "multi-file fixtures), where it equals the batch answer exactly.",
)
def w11_stream_ohlcv_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.candles import ohlcv_aggs

    trades = stream_trades_from_fixture(spark, sf_dir)
    agg = (
        trades.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("product"))
        .agg(
            *ohlcv_aggs("ts", "price", "qty", seq_col="seq"),
            F.count("*").alias("n_trades"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "product",
            "open",
            "high",
            "low",
            "close",
            "volume",
            "n_trades",
        )
    )
    out = run_available_now(agg, "update")
    last = (
        out.groupBy("window_start", "window_end", "product")
        .agg(
            F.max_by(
                F.struct("open", "high", "low", "close", "volume"), F.col("n_trades")
            ).alias("s")
        )
        .select("window_start", "window_end", "product", "s.*")
    )
    return _fmt_windows(last)


@register(
    "w12_stream_ohlcv_append",
    oracle=f"""
WITH {TRADES_ORACLE_CTE}
{_CANDLES_1H_ORACLE_BODY}
HAVING window_end <= strftime((SELECT date_trunc('hour', max(ts)) FROM trades),
                              '%Y-%m-%d %H:%M:%S')
""",
    doc="W12 append-mode end-of-window finals (reference 7_ohlc.py:96-98): "
    "each window emits exactly once when the watermark (delay 0 = the "
    "reference's monotonous-timestamps strategy, W3) passes its end. "
    "Windows still open at end-of-stream stay in state — the oracle "
    "excludes windows whose end exceeds the final watermark.",
)
def w12_stream_ohlcv_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    trades = stream_trades_from_fixture(spark, sf_dir)
    out = run_available_now(ohlcv_stream(trades, "1 hour"), "append")
    return _fmt_windows(out)


@register(
    "w19_stream_cascade_chained",
    oracle=f"""
WITH {TRADES_ORACLE_CTE},
hourly AS (
    SELECT product,
           date_trunc('hour', ts) AS hs,
           arg_min(price, ts) AS open,
           max(price) AS high,
           min(price) AS low,
           arg_max(price, ts) AS close,
           CAST(sum(qty) AS BIGINT) AS volume
    FROM trades
    GROUP BY 1, 2
)
SELECT strftime(date_trunc('day', hs), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(date_trunc('day', hs) + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS window_end,
       product,
       arg_min(open, hs) AS open,
       max(high) AS high,
       min(low) AS low,
       arg_max(close, hs) AS close,
       CAST(sum(volume) AS BIGINT) AS volume
FROM hourly
WHERE date_trunc('day', hs) + INTERVAL 1 DAY <= (SELECT max(ts) FROM trades)
GROUP BY 1, 2, 3
""",
    doc="Chained windowed aggregations in ONE streaming query (Spark "
    "3.4+ multiple stateful operators): hourly candles re-aggregated "
    "to daily inside the same stream — the reference's multi-resolution "
    "setup (old/flink.py:70-79) without scanning the stream twice. "
    "Append mode; day windows emit when the watermark passes their "
    "end, so the oracle keeps only days fully closed by the final "
    "watermark (= max event time, delay 0).",
)
def w19_stream_cascade_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.streaming.candles_stream import ohlcv_stream_cascade

    trades = stream_trades_from_fixture(spark, sf_dir)
    out = run_available_now(ohlcv_stream_cascade(trades, "1 hour", "1 day"), "append")
    return _fmt_windows(out)


_STATEFUL_CANDLES_ORACLE = f"""
WITH {TRADES_ORACLE_CTE},
running AS (
    SELECT product,
           seq,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           first_value(price) OVER w AS open,
           max(price) OVER w AS high,
           min(price) OVER w AS low,
           last_value(price) OVER w AS close,
           CAST(sum(qty) OVER w AS BIGINT) AS volume,
           FALSE AS end_of_window
    FROM trades
    WINDOW w AS (PARTITION BY product, date_trunc('hour', ts) ORDER BY ts, seq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
finals0 AS (
    SELECT product,
           date_trunc('hour', ts) AS bucket,
           arg_min(price, ts) AS open,
           max(price) AS high,
           min(price) AS low,
           arg_max(price, ts) AS close,
           CAST(sum(qty) AS BIGINT) AS volume
    FROM trades
    GROUP BY product, date_trunc('hour', ts)
),
maxb AS (
    SELECT product, max(date_trunc('hour', ts)) AS mb FROM trades GROUP BY product
),
finals AS (
    SELECT f.product,
           CAST(NULL AS BIGINT) AS seq,
           strftime(f.bucket, '%Y-%m-%d %H:%M:%S') AS window_start,
           f.open, f.high, f.low, f.close, f.volume,
           TRUE AS end_of_window
    FROM finals0 f JOIN maxb m ON f.product = m.product
    WHERE f.bucket < m.mb
)
SELECT * FROM running UNION ALL SELECT * FROM finals
"""


@register(
    "w8_stateful_running_candles",
    oracle=_STATEFUL_CANDLES_ORACLE,
    doc="W7/W8 arbitrary keyed stateful processing (reference "
    "KeyedProcessFunction + ValueState, 7_ohlc.py:35-98) in its batch "
    "form (applyInPandas over full history per key): per-event running "
    "candle emits plus an end_of_window final on each window "
    "transition; the last open window per key never finalizes — "
    "exactly the reference's semantics.",
)
def w8_stateful_running_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = running_candles_batch(trades_view(spark, sf_dir), window_minutes=60)
    return out.select(
        "product",
        "seq",
        F.date_format("window_start", _FMT).alias("window_start"),
        "open",
        "high",
        "low",
        "close",
        "volume",
        "end_of_window",
    )


@register(
    "w14_session_windows",
    oracle=f"""
WITH {TRADES_ORACLE_CTE},
gaps AS (
    SELECT instrument_id, ts,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY instrument_id ORDER BY ts, seq)
                     >= INTERVAL 30 MINUTE
                     OR lag(ts) OVER (PARTITION BY instrument_id ORDER BY ts, seq) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM trades
),
sessions AS (
    SELECT instrument_id, ts,
           sum(new_session) OVER (PARTITION BY instrument_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM gaps
)
SELECT instrument_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(count(*) AS BIGINT) AS n_trades
FROM sessions
GROUP BY instrument_id, session_id
""",
    doc="W14 session windows (gap-based, absent in the reference — "
    "capability parity): session_window(ts, '30 minutes') per "
    "instrument; batch form so the gap-merge semantics are "
    "oracle-checkable (DuckDB re-derives sessions via lag + cumsum).",
)
def w14_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    trades = trades_view(spark, sf_dir)
    return (
        trades.groupBy(F.session_window("ts", "30 minutes").alias("w"), "instrument_id")
        .agg(F.count("*").cast("long").alias("n_trades"))
        .select(
            "instrument_id",
            F.date_format("w.start", _FMT).alias("session_start"),
            F.date_format("w.end", _FMT).alias("session_end"),
            "n_trades",
        )
    )


@register(
    "w14_sliding_windows",
    oracle=f"""
WITH {TRADES_ORACLE_CTE},
assigned AS (
    SELECT t.*,
           date_trunc('hour', t.ts) - INTERVAL 1 HOUR * off.o AS window_start
    FROM trades t
    CROSS JOIN (SELECT 0 AS o UNION ALL SELECT 1) off
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(window_start + INTERVAL 2 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       product,
       CAST(count(*) AS BIGINT) AS n_trades,
       round(CAST(sum(CAST(round(price * 1000000) AS BIGINT)) AS DOUBLE)
             / (count(*) * 1000000.0), 6) AS avg_price
FROM assigned
GROUP BY ALL
""",
    doc="W14 sliding windows (2h window / 1h slide): every event lands "
    "in two overlapping windows — window(ts, '2 hours', '1 hour'); "
    "oracle re-derives the assignment with an offset cross join. "
    "avg_price averages micro-quantized prices (sum of exact longs, "
    "then ONE IEEE divide — the t18/io12 integer recipe): a raw "
    "round(avg(price), 6) disagreed between engines at sf0.1 when a "
    "window's float-sum-order error straddled a 6-dp rounding "
    "boundary (found by the round-9 sf0.1 full sweep).",
)
def w14_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    trades = trades_view(spark, sf_dir)
    return (
        trades.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "product")
        .agg(
            F.count("*").cast("long").alias("n_trades"),
            F.sum(F.round(F.col("price") * 1000000).cast("long")).alias("_p_e6"),
        )
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            F.date_format("w.end", _FMT).alias("window_end"),
            "product",
            "n_trades",
            F.round(
                F.col("_p_e6").cast("double") / (F.col("n_trades") * 1000000.0), 6
            ).alias("avg_price"),
        )
    )


@register(
    "w15_stream_stream_interval_join",
    oracle="""
SELECT l.event_id AS click_id,
       r.event_id AS view_id,
       l.user_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'click' AND r.event_type = 'view'
 AND r.ts BETWEEN l.ts - INTERVAL 4 HOUR AND l.ts
""",
    doc="Stream-stream time-interval join (clicks x prior views per "
    "user, 4h window) replayed with availableNow: Structured Streaming "
    "buffers both sides in watermark-bounded state and the full replay "
    "equals the batch interval join exactly. State per side is bounded "
    "by rate x (interval + watermark) — the condition that makes the "
    "join evictable at 100 TB (streaming/joins.py).",
)
def w15_stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.streaming.joins import interval_join

    def side(event_type: str) -> DataFrame:
        from kafka_flink_spark.sources.fixtures import stream_events_raw

        ev = stream_events_raw(spark, sf_dir)
        return ev.select("event_id", "ts", "user_id", "event_type").filter(
            F.col("event_type") == event_type
        )

    clicks, views = side("click"), side("view")
    joined = interval_join(
        clicks.withColumnRenamed("event_id", "click_id").withColumnRenamed("ts", "click_ts"),
        views.select(
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
            F.col("user_id").alias("r_user_id"),
        ).withColumn("user_id", F.col("r_user_id")),
        key_col="user_id",
        left_ts="click_ts",
        right_ts="view_ts",
        lower="4 hours",
        upper="0 seconds",
    )
    out = run_available_now(
        joined.select("click_id", "view_id", joined["click_ts"], joined["view_ts"],
                      F.col("r_user_id").alias("user_id")),
        "append",
    )
    return out.select(
        "click_id",
        "view_id",
        "user_id",
        F.date_format("click_ts", _FMT).alias("click_ts"),
        F.date_format("view_ts", _FMT).alias("view_ts"),
    )


@register(
    "w16_stream_distinct_keys",
    oracle="""
SELECT DISTINCT event_type,
       strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute
FROM events
""",
    doc="Streaming exact dedup (dropDuplicates on the key projection) "
    "replayed with availableNow == batch DISTINCT; the state-store "
    "form of d1_exact_dedup for unbounded inputs "
    "(streaming/dedup_stream.py; the watermark-evicted variant is "
    "pinned in tests/test_streaming.py).",
)
def w16_stream_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.streaming.dedup_stream import dedup_stream

    from kafka_flink_spark.sources.fixtures import stream_events_raw

    ev = stream_events_raw(spark, sf_dir)
    keys = ev.select(
        "event_type",
        F.date_format(F.date_trunc("minute", F.col("ts")), _FMT).alias("minute"),
    )
    return run_available_now(dedup_stream(keys, ["event_type", "minute"]), "append")


@register(
    "w17_stream_complete_mode",
    oracle=f"""
WITH {TRADES_ORACLE_CTE}
SELECT product,
       CAST(count(*) AS BIGINT) AS n_trades,
       CAST(sum(qty) AS BIGINT) AS volume,
       max(price) AS high,
       min(price) AS low
FROM trades
GROUP BY product
""",
    doc="Complete-output-mode streaming aggregation (the third output "
    "mode next to w11 update / w12 append): every trigger re-emits the "
    "FULL result table; after an availableNow replay the sink equals "
    "the batch aggregate exactly. Right for small cardinality "
    "dashboards; state is one row per key.",
)
def w17_stream_complete_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    trades = stream_trades_from_fixture(spark, sf_dir)
    totals = trades.groupBy("product").agg(
        F.count("*").cast("long").alias("n_trades"),
        F.sum("qty").cast("long").alias("volume"),
        F.max("price").alias("high"),
        F.min("price").alias("low"),
    )
    return run_available_now(totals, "complete")


@register(
    "w9_stateful_stream_candles",
    oracle=_STATEFUL_CANDLES_ORACLE,
    doc="The REAL applyInPandasWithState streaming execution of the "
    "KeyedProcessFunction port (typed state rows, Arrow batches, "
    "GroupState across micro-batches) replayed with availableNow: a "
    "single-batch replay folds each key's full history in (ts, seq) "
    "order, so it equals the batch applyInPandas form (w8) and shares "
    "its oracle — the stateful streaming path itself sits in the "
    "correctness gate, not just its batch shadow.",
)
def w9_stateful_stream_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.streaming.stateful import running_candles_stateful

    trades = stream_trades_from_fixture(spark, sf_dir)
    out = run_available_now(
        running_candles_stateful(trades, window_minutes=60), "update"
    )
    return out.select(
        "product",
        "seq",
        F.date_format("window_start", _FMT).alias("window_start"),
        "open",
        "high",
        "low",
        "close",
        "volume",
        "end_of_window",
    )


@register(
    "w18_stream_static_join",
    oracle=f"""
WITH {TRADES_ORACLE_CTE},
dim AS (
    SELECT DISTINCT product,
           CASE WHEN product IN ('click', 'view') THEN 'engagement'
                WHEN product = 'error' THEN 'ops' ELSE 'other' END AS category
    FROM trades
)
SELECT t.product, d.category,
       CAST(count(*) AS BIGINT) AS n_trades,
       CAST(sum(t.qty) AS BIGINT) AS volume
FROM trades t JOIN dim d ON t.product = d.product
GROUP BY t.product, d.category
""",
    doc="Stream-static join: the unbounded trade stream enriched "
    "against a bounded dimension table (re-read per micro-batch, "
    "broadcast — no stream state for the join side), then aggregated; "
    "availableNow replay equals the batch join+aggregate. The Spark "
    "form of the reference's (absent) trades x instrument-reference "
    "enrichment (SURVEY.md §2.6).",
)
def w18_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    trades = stream_trades_from_fixture(spark, sf_dir)
    static_dim = (
        trades_view(spark, sf_dir)
        .select("product")
        .distinct()
        .withColumn(
            "category",
            F.when(F.col("product").isin("click", "view"), "engagement")
            .when(F.col("product") == "error", "ops")
            .otherwise("other"),
        )
    )
    joined = trades.join(F.broadcast(static_dim), "product")
    agg = joined.groupBy("product", "category").agg(
        F.count("*").cast("long").alias("n_trades"),
        F.sum("qty").cast("long").alias("volume"),
    )
    return run_available_now(agg, "complete")


@register(
    "w20_stream_rollup_merge",
    oracle=f"WITH {TRADES_ORACLE_CTE} {_CANDLES_1H_ORACLE_BODY}",
    doc="Continuous-aggregate maintenance (hypertable-rollup pattern): "
    "update-mode streaming OHLCV whose every micro-batch MERGEs its "
    "changed windows into a persistent parquet rollup table keyed by "
    "(window, product) — the table holds the latest value per window "
    "mid-stream and equals the batch answer after full replay "
    "(streaming/candles_stream.rollup_merge_available_now + "
    "operators/merge.py; multi-batch incrementality pinned in "
    "tests/test_streaming.py).",
)
def w20_stream_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.sources.fixtures import scratch_dir
    from kafka_flink_spark.streaming.candles_stream import (
        rollup_merge_available_now,
    )

    trades = stream_trades_from_fixture(spark, sf_dir)
    # scratch outlives the returned frame (atexit cleanup; local-mode
    # shared-filesystem assumption documented on scratch_dir)
    target = scratch_dir("rollup_") + "/rollup"
    out = rollup_merge_available_now(trades, target, "1 hour")
    return _fmt_windows(out)


@register(
    "w21_stream_outer_interval_join",
    oracle="""
WITH cutoff AS (
    SELECT least((SELECT max(ts) FROM events WHERE event_type = 'click'),
                 (SELECT max(ts) FROM events WHERE event_type = 'view')) AS wm
)
SELECT l.event_id AS click_id,
       r.event_id AS view_id,
       l.user_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
FROM events l LEFT JOIN events r
  ON l.user_id = r.user_id
 AND r.event_type = 'view'
 AND r.ts BETWEEN l.ts - INTERVAL 4 HOUR AND l.ts
WHERE l.event_type = 'click'
  AND l.ts < (SELECT wm FROM cutoff)
""",
    doc="Stream-stream LEFT OUTER interval join (clicks with or "
    "without a prior view in 4h): matched rows emit immediately; an "
    "unmatched click emits with a NULL view side only once the "
    "watermark passes its interval's upper bound and its state is "
    "evicted — so clicks at the very tail of the replay (at or past "
    "the global watermark = min of the two sides' max event times) "
    "are still open in state, and BOTH the streamed result and the "
    "oracle restrict to clicks strictly below that watermark. State "
    "per side stays rate x (interval + delay) — the same eviction "
    "bound that makes the inner form (w15) 100 TB-safe.",
)
def w21_stream_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.sources.fixtures import stream_events_raw
    from kafka_flink_spark.streaming.joins import interval_join

    def side(event_type: str) -> DataFrame:
        ev = stream_events_raw(spark, sf_dir)
        return ev.select("event_id", "ts", "user_id", "event_type").filter(
            F.col("event_type") == event_type
        )

    clicks = (
        side("click")
        .withColumnRenamed("event_id", "click_id")
        .withColumnRenamed("ts", "click_ts")
    )
    views = side("view").select(
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
        F.col("user_id").alias("r_user_id"),
    ).withColumn("user_id", F.col("r_user_id"))
    joined = interval_join(
        clicks,
        views,
        key_col="user_id",
        left_ts="click_ts",
        right_ts="view_ts",
        lower="4 hours",
        upper="0 seconds",
        how="left_outer",
    )
    out = run_available_now(
        joined.select(
            "click_id", "view_id", joined["click_ts"], clicks["user_id"].alias("l_user_id")
        ),
        "append",
    )
    # Deterministic region: the replay's final global watermark is the
    # min of the two sides' max event times (delay 0); clicks below it
    # have either matched or been evicted-with-NULL — strictly-later
    # clicks may still sit in state, so both sides exclude them.
    from kafka_flink_spark.sources.fixtures import load_table

    ev = load_table(spark, sf_dir, "events")
    wm = ev.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "view", F.col("ts"))),
        ).alias("wm")
    )
    # broadcast single-row cutoff — no driver scalar round-trip
    return (
        out.crossJoin(F.broadcast(wm))
        .filter(F.col("click_ts") < F.col("wm"))
        .select(
            "click_id",
            "view_id",
            F.col("l_user_id").alias("user_id"),
            F.date_format("click_ts", _FMT).alias("click_ts"),
        )
    )


@register(
    "w22_stream_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="Watermark-evicted streaming dedup "
    "(dropDuplicatesWithinWatermark, streaming/dedup_stream.py): "
    "unlike w16's forever-state dropDuplicates, state for keys older "
    "than the watermark is dropped, bounding it at rate x delay — the "
    "100 TB default for at-least-once sources whose duplicates are "
    "near-in-time retries. The replay uses a delay longer than the "
    "fixture's span, so every duplicate falls inside the budget and "
    "the result equals batch DISTINCT exactly; only the key columns "
    "are returned because the surviving row's non-key columns are "
    "arrival-order-dependent.",
)
def w22_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.sources.fixtures import stream_events_raw
    from kafka_flink_spark.streaming.dedup_stream import dedup_stream_within_watermark

    ev = stream_events_raw(spark, sf_dir).select("ts", "user_id", "event_type")
    deduped = dedup_stream_within_watermark(
        ev, ["user_id", "event_type"], ts_col="ts", watermark_delay="400 days"
    )
    return run_available_now(deduped, "append").select("user_id", "event_type")


@register(
    "w23_stream_full_outer_interval_join",
    oracle="""
WITH cutoff AS (
    SELECT least((SELECT max(ts) FROM events WHERE event_type = 'click'),
                 (SELECT max(ts) FROM events WHERE event_type = 'view')) AS wm
),
j AS (
    SELECT l.event_id AS click_id,
           r.event_id AS view_id,
           coalesce(l.user_id, r.user_id) AS user_id,
           l.ts AS click_ts,
           r.ts AS view_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    FULL JOIN (SELECT * FROM events WHERE event_type = 'view') r
      ON l.user_id = r.user_id
     AND r.ts BETWEEN l.ts - INTERVAL 4 HOUR AND l.ts
)
SELECT click_id, view_id, user_id,
       strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       strftime(view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts
FROM j
WHERE (click_id IS NOT NULL AND click_ts < (SELECT wm FROM cutoff))
   OR (click_id IS NULL AND view_ts + INTERVAL 4 HOUR < (SELECT wm FROM cutoff))
""",
    doc="Stream-stream FULL OUTER interval join — both sides' "
    "unmatched rows NULL-emit on watermark eviction: an unmatched "
    "click when the watermark passes its own time (its match window "
    "looks only backward), an unmatched view when the watermark "
    "passes view_ts + 4h (a future click could still claim it until "
    "then). The deterministic-region filter (click_ts < wm, or for "
    "click-less rows view_ts + 4h < wm) is applied identically to the "
    "streamed result and the batch oracle; matched rows emit "
    "immediately and pass the same filter on their click side.",
)
def w23_stream_full_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.sources.fixtures import load_table, stream_events_raw
    from kafka_flink_spark.streaming.joins import interval_join

    def side(event_type: str) -> DataFrame:
        ev = stream_events_raw(spark, sf_dir)
        return ev.select("event_id", "ts", "user_id", "event_type").filter(
            F.col("event_type") == event_type
        )

    clicks = (
        side("click")
        .withColumnRenamed("event_id", "click_id")
        .withColumnRenamed("ts", "click_ts")
    )
    views = side("view").select(
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
        F.col("user_id").alias("r_user_id"),
    ).withColumn("user_id", F.col("r_user_id"))
    joined = interval_join(
        clicks,
        views,
        key_col="user_id",
        left_ts="click_ts",
        right_ts="view_ts",
        lower="4 hours",
        upper="0 seconds",
        how="full_outer",
    )
    out = run_available_now(
        joined.select(
            "click_id",
            "view_id",
            joined["click_ts"],
            "view_ts",
            F.coalesce(clicks["user_id"], F.col("r_user_id")).alias("u_id"),
        ),
        "append",
    )
    ev = load_table(spark, sf_dir, "events")
    wm = ev.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "view", F.col("ts"))),
        ).alias("wm")
    )
    # broadcast single-row cutoff — no driver scalar round-trip
    kept = out.crossJoin(F.broadcast(wm)).filter(
        (F.col("click_id").isNotNull() & (F.col("click_ts") < F.col("wm")))
        | (
            F.col("click_id").isNull()
            & (F.col("view_ts") + F.expr("INTERVAL 4 HOURS") < F.col("wm"))
        )
    )
    return kept.select(
        "click_id",
        "view_id",
        F.col("u_id").alias("user_id"),
        F.date_format("click_ts", _FMT).alias("click_ts"),
        F.date_format("view_ts", _FMT).alias("view_ts"),
    )


@register(
    "w24_stream_semi_join",
    oracle="""
SELECT l.event_id AS click_id, l.user_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
FROM events l
WHERE l.event_type = 'click'
  AND EXISTS (
      SELECT 1 FROM events r
      WHERE r.user_id = l.user_id AND r.event_type = 'view'
        AND r.ts BETWEEN l.ts - INTERVAL 4 HOUR AND l.ts
  )
""",
    doc="Stream-stream LEFT SEMI interval join (clicks having at least "
    "one view in the prior 4h per user) replayed with availableNow — "
    "the existence-check form of w15 that emits each left row at most "
    "once and buffers NO right payload in the result. Same evictable "
    "watermark-bounded state as the inner form (streaming/joins.py); "
    "oracle is the batch EXISTS.",
)
def w24_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.sources.fixtures import stream_events_raw
    from kafka_flink_spark.streaming.joins import interval_join

    def side(event_type: str) -> DataFrame:
        ev = stream_events_raw(spark, sf_dir)
        return ev.select("event_id", "ts", "user_id", "event_type").filter(
            F.col("event_type") == event_type
        )

    clicks = side("click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("user_id"),
    )
    views = side("view").select(
        F.col("ts").alias("view_ts"), F.col("user_id").alias("user_id")
    )
    joined = interval_join(
        clicks,
        views,
        key_col="user_id",
        left_ts="click_ts",
        right_ts="view_ts",
        lower="4 hours",
        upper="0 seconds",
        how="left_semi",
    )
    out = run_available_now(joined, "append")
    return out.select(
        "click_id",
        "user_id",
        F.date_format("click_ts", _FMT).alias("click_ts"),
    )


@register(
    "w25_stream_corpus_ingest",
    oracle="""
WITH d AS (
    SELECT source,
           md5(lower(trim(text))) AS fp,
           len(string_split(text, ' ')) AS nw,
           round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.4
                 + (1.0 - least(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) * 1.0
                                / greatest(length(text), 1) * 4, 1.0)) * 0.3
                 + least(len(list_filter(string_split(text, ' '),
                       t -> list_contains(['a','the','of','and','to','in','is','it'], t)))
                         * 1.0 / greatest(len(string_split(text, ' ')), 1) * 5, 1.0) * 0.3,
                 6) AS q
    FROM documents
),
g AS (
    SELECT source, fp, min(nw) AS nw, count(*) AS n
    FROM d WHERE q > 0.3 GROUP BY source, fp
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_unique_docs,
       CAST(sum(n) AS BIGINT) AS n_rows_seen,
       CAST(sum(nw) AS BIGINT) AS unique_tokens
FROM g GROUP BY source
""",
    doc="STREAMING corpus ingestion with online dedup: documents "
    "replayed as a file stream, quality-gated (t2 features, narrow — "
    "streaming-safe), deduplicated per (source, fingerprint) in ONE "
    "stateful aggregation (state = distinct fingerprints, the online "
    "corpus-dedup state model), then rolled up per source in batch "
    "after replay. The LLM-pipeline ops under Structured Streaming — "
    "what a continuous-crawl ingest job runs.",
)
def w25_stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.text import quality_scores
    from kafka_flink_spark.streaming.candles_stream import run_available_now

    docs = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    gated = quality_scores(docs).filter(F.col("quality_score") > 0.3)
    per_fp = (
        gated.withColumn("fp", F.md5(F.lower(F.trim(F.col("text")))))
        .groupBy("source", "fp")
        .agg(F.min("n_words").alias("nw"), F.count("*").alias("n"))
    )
    out = run_available_now(per_fp, "complete")
    return out.groupBy("source").agg(
        F.count("*").cast("long").alias("n_unique_docs"),
        F.sum("n").cast("long").alias("n_rows_seen"),
        F.sum("nw").cast("long").alias("unique_tokens"),
    )


@register(
    "w26_stream_topk_complete",
    oracle=f"""
WITH {TRADES_ORACLE_CTE}
SELECT product,
       CAST(sum(qty) AS BIGINT) AS volume,
       CAST(count(*) AS BIGINT) AS n_trades
FROM trades
GROUP BY product
ORDER BY volume DESC, product
LIMIT 5
""",
    doc="Streaming top-k leaderboard: global sort + LIMIT over a "
    "streaming aggregate — legal only in complete output mode (Spark "
    "re-emits the full result table per trigger, so the sort sees "
    "complete state; update/append would reject the orderBy). After "
    "an availableNow replay the sink equals the batch top-5 exactly; "
    "tie-break on product keeps the cut deterministic. State is one "
    "row per key; the per-trigger sort is |keys| log |keys|, "
    "independent of stream volume.",
)
def w26_stream_topk_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    trades = stream_trades_from_fixture(spark, sf_dir)
    top = (
        trades.groupBy("product")
        .agg(
            F.sum("qty").cast("long").alias("volume"),
            F.count("*").cast("long").alias("n_trades"),
        )
        .orderBy(F.desc("volume"), "product")
        .limit(5)
    )
    return run_available_now(top, "complete")


@register(
    "w27_stream_dynamic_gap_sessions",
    oracle="""
WITH g AS (
    SELECT user_id, ts, event_id,
           epoch_us(ts) + CASE WHEN event_type = 'view'
                               THEN 1800000000 ELSE 7200000000 END AS end_us
    FROM events
),
marked AS (
    SELECT user_id, ts, event_id, end_us,
           max(end_us) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end_us
    FROM g
),
sess AS (
    SELECT user_id, ts, end_us,
           sum(CASE WHEN prev_end_us IS NULL
                      OR epoch_us(ts) >= prev_end_us THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_id
    FROM marked
),
done AS (
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(make_timestamp(max(end_us)), '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           max(end_us) AS end_us
    FROM sess
    GROUP BY user_id, session_id
)
SELECT user_id, session_start, session_end, n_events
FROM done
WHERE end_us <= (SELECT max(epoch_us(ts)) FROM events)
""",
    doc="STREAMING dynamic-gap session windows — e11's gap-expression "
    "sessionization run as a real Structured Streaming job (watermark "
    "+ session_window(gap expr) + append mode, availableNow replay to "
    "a memory sink): short-dwell 'view' events extend a session 30 "
    "minutes, engaged events 2 hours, merged under streaming state. "
    "Append emits a session when the watermark (delay 0) passes its "
    "end, so the oracle is the batch gaps-and-islands derivation "
    "restricted to sessions whose end <= the final watermark (= max "
    "event time) — sessions still open at end-of-stream stay in "
    "state, exactly the w12 convention. State is (users x open "
    "sessions), watermark-bounded, independent of replay length.",
)
def w27_stream_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.sources.fixtures import stream_events_raw

    ev = stream_events_raw(spark, sf_dir).withWatermark("ts", "0 seconds")
    gap = F.when(F.col("event_type") == "view", F.lit("30 minutes")).otherwise(
        F.lit("2 hours")
    )
    sess = (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", _FMT).alias("session_start"),
            F.date_format("w.end", _FMT).alias("session_end"),
            "n_events",
        )
    )
    return run_available_now(sess, "append")


_W28_BIN_DUCK = " + ".join(
    f"CAST(t.value > es[{i}] AS INT)" for i in range(1, 10)
)


def _w28_psi_duck() -> str:
    rk = "((rc{k} + 0.5) / (rn + 5.0))"
    ck = "((c{k} + 0.5) / (n + 5.0))"
    terms = " + ".join(
        f"({ck.format(k=k)} - {rk.format(k=k)}) * ln({ck.format(k=k)} / {rk.format(k=k)})"
        for k in range(1, 11)
    )
    return terms


def _w28_oracle() -> str:
    ref_counts = ",\n           ".join(
        f"count(CASE WHEN period = 0 AND bin = {k} THEN 1 END) AS rc{k}"
        for k in range(1, 11)
    )
    win_counts = ",\n           ".join(
        f"count(CASE WHEN bin = {k} THEN 1 END) AS c{k}" for k in range(1, 11)
    )
    return f"""
WITH span AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events),
tagged AS (
    SELECT event_type, value, ts,
           CASE WHEN epoch_us(ts) * 2 < (SELECT lo + hi FROM span)
                THEN 0 ELSE 1 END AS period
    FROM events
),
edges AS (
    SELECT event_type,
           [round(e, 6) FOR e IN
            quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])] AS es
    FROM tagged WHERE period = 0 GROUP BY event_type
),
binned AS (
    SELECT t.event_type, t.ts, t.period,
           1 + {_W28_BIN_DUCK} AS bin
    FROM tagged t JOIN edges e ON t.event_type = e.event_type
),
refr AS (
    SELECT event_type,
           {ref_counts},
           count(CASE WHEN period = 0 THEN 1 END) AS rn
    FROM binned GROUP BY event_type
),
win AS (
    SELECT event_type, date_trunc('day', ts) AS ws,
           {win_counts},
           count(*) AS n
    FROM binned
    GROUP BY 1, 2
    HAVING date_trunc('day', ts) + INTERVAL 1 DAY <= (SELECT max(ts) FROM events)
)
SELECT strftime(w.ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       w.event_type,
       CAST(w.n AS BIGINT) AS n_events,
       round({_w28_psi_duck()}, 6) AS psi
FROM win w JOIN refr USING (event_type)
"""


@register(
    "w28_stream_psi_drift",
    oracle=_w28_oracle(),
    doc="STREAMING feature-drift monitoring — qa3's PSI run as a "
    "resident job: the reference period's per-event-type decile "
    "edges (computed batch-side, the offline profile a production "
    "monitor loads) broadcast-join the event stream (stream-static, "
    "stateless), each event bins via nine codegen comparisons, and "
    "ONE watermarked 1-day-tumbling stateful aggregation holds ten "
    "conditional bin counters per (window, type) — the PSI formula "
    "is a stateless projection over each closed window's 11 numbers "
    "against broadcast reference rates, so streaming state is "
    "(types x open windows) x 11 longs regardless of volume. Append "
    "mode; the oracle keeps only watermark-closed windows (w12/w19 "
    "convention). The alert surface a 100 TB serving pipeline "
    "actually wants: per-day per-feature PSI, hours after the day "
    "closes, no batch job.",
)
def w28_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.sources.fixtures import load_table, stream_events_raw

    ev_b = load_table(spark, sf_dir, "events").select("event_type", "value", "ts")
    us = F.unix_micros("ts")
    span = ev_b.agg(F.min(us).alias("lo"), F.max(us).alias("hi"))
    ref = ev_b.crossJoin(F.broadcast(span)).filter(
        us * 2 < F.col("lo") + F.col("hi")
    )
    probs = F.array(*[F.lit(i / 10) for i in range(1, 10)])
    edges = (
        ref.groupBy("event_type")
        .agg(F.percentile("value", probs).alias("es_raw"))
        .select(
            "event_type",
            F.transform(F.col("es_raw"), lambda e: F.round(e, 6)).alias("es"),
        )
    )

    def bin_of(col):
        e = F.lit(1)
        for i in range(9):
            e = e + (col > F.col("es")[i]).cast("int")
        return e

    ref_binned = ref.join(F.broadcast(edges), "event_type").select(
        "event_type", bin_of(F.col("value")).alias("bin")
    )
    refr = ref_binned.groupBy("event_type").agg(
        *[
            F.count(F.when(F.col("bin") == k, 1)).alias(f"rc{k}")
            for k in range(1, 11)
        ],
        F.count("*").alias("rn"),
    )

    # ---- streaming side: stateless broadcast bin + ONE stateful agg
    s = stream_events_raw(spark, sf_dir).withWatermark("ts", "0 seconds")
    sb = s.join(F.broadcast(edges), "event_type").select(
        "ts", "event_type", bin_of(F.col("value")).alias("bin")
    )
    agg = sb.groupBy(F.window("ts", "1 day").alias("w"), "event_type").agg(
        *[
            F.count(F.when(F.col("bin") == k, 1)).alias(f"c{k}")
            for k in range(1, 11)
        ],
        F.count("*").alias("n"),
    )
    out = run_available_now(
        agg.select(
            F.col("w.start").alias("ws"),
            "event_type",
            *[f"c{k}" for k in range(1, 11)],
            "n",
        ),
        "append",
    )

    # stateless post-projection: PSI against the broadcast reference
    def rate(c, n):
        return (c + F.lit(0.5)) / (n + F.lit(5.0))

    j = out.join(F.broadcast(refr), "event_type")
    psi = None
    for k in range(1, 11):
        cur = rate(F.col(f"c{k}"), F.col("n"))
        rr = rate(F.col(f"rc{k}"), F.col("rn"))
        term = (cur - rr) * F.log(cur / rr)
        psi = term if psi is None else psi + term
    return j.select(
        F.date_format("ws", _FMT).alias("window_start"),
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.round(psi, 6).alias("psi"),
    )


@register(
    "w29_stream_cusum_monitor",
    oracle="""
WITH mx AS (SELECT max(ts) AS m FROM events),
daily_all AS (
    SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
    FROM events GROUP BY 1, 2
),
daily AS (
    SELECT d.* FROM daily_all d, mx
    WHERE CAST(d.day AS TIMESTAMP) + INTERVAL 1 DAY <= mx.m
),
rng AS (
    SELECT event_type, min(day) AS mn, max(day) AS mxd
    FROM daily GROUP BY event_type
),
stats AS (
    SELECT d.event_type,
           CAST(sum(d.n) AS DOUBLE) / count(*) AS mu,
           sqrt(greatest(CAST(sum(d.n * d.n) AS DOUBLE) / count(*)
                - (CAST(sum(d.n) AS DOUBLE) / count(*))
                  * (CAST(sum(d.n) AS DOUBLE) / count(*)), 0)) AS sigma
    FROM daily d JOIN rng r ON d.event_type = r.event_type
    WHERE date_diff('day', r.mn, d.day) * 2 <= date_diff('day', r.mn, r.mxd)
    GROUP BY d.event_type
),
cum AS (
    SELECT d.event_type, d.day, d.n, s.sigma,
           sum(d.n - s.mu - 0.5 * s.sigma)
               OVER (PARTITION BY d.event_type ORDER BY d.day
                     ROWS UNBOUNDED PRECEDING) AS cp,
           sum(d.n - s.mu + 0.5 * s.sigma)
               OVER (PARTITION BY d.event_type ORDER BY d.day
                     ROWS UNBOUNDED PRECEDING) AS cm
    FROM daily d JOIN stats s ON d.event_type = s.event_type
),
run AS (
    SELECT *,
           min(cp) OVER (PARTITION BY event_type ORDER BY day
                         ROWS UNBOUNDED PRECEDING) AS mincp,
           max(cm) OVER (PARTITION BY event_type ORDER BY day
                         ROWS UNBOUNDED PRECEDING) AS maxcm
    FROM cum
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       CAST(n AS BIGINT) AS n,
       round(cp - least(mincp, 0), 6) AS cusum_pos,
       round(greatest(maxcm, 0) - cm, 6) AS cusum_neg,
       CAST(round(cp - least(mincp, 0), 6) > round(4 * sigma, 6)
            OR round(greatest(maxcm, 0) - cm, 6) > round(4 * sigma, 6)
            AS BOOLEAN) AS is_change
FROM run
""",
    doc="STREAMING changepoint monitoring — e18's CUSUM run as a "
    "resident job (the w28 pattern): ONE watermarked 1-day-tumbling "
    "count per event type is the only streaming state (2 longs per "
    "open (window, type)); the offline reference profile (first-half "
    "mu/sigma, e18's exact integer-sum formula over watermark-"
    "closable days) broadcasts; and the two-sided CUSUM in closed "
    "prefix-min/max form is a stateless post-projection over the "
    "emitted closed windows. Append mode — a day's verdict lands "
    "when its window closes, no batch job, no reprocessing; the "
    "oracle is the batch detector restricted to watermark-closed "
    "days (the w12/w19 convention). Detects the sustained level "
    "shift a per-day threshold (e10) misses, hours after the day "
    "closes — the alerting loop a 100 TB ingest pipeline runs.",
)
def w29_stream_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from kafka_flink_spark.sources.fixtures import load_table, stream_events_raw

    ev_b = load_table(spark, sf_dir, "events").select("event_type", "ts")
    mx = ev_b.agg(F.max("ts").alias("m"))
    daily_b = (
        ev_b.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(mx))
        .filter(
            F.col("day").cast("timestamp") + F.expr("INTERVAL 1 DAY") <= F.col("m")
        )
    )
    rng = daily_b.groupBy("event_type").agg(
        F.min("day").alias("mn"), F.max("day").alias("mxd")
    )
    sn = F.sum("n").cast("double")
    cnt = F.count(F.lit(1))
    mu = sn / cnt
    stats = (
        daily_b.join(F.broadcast(rng), "event_type")
        .filter(F.datediff("day", "mn") * 2 <= F.datediff("mxd", "mn"))
        .groupBy("event_type")
        .agg(
            mu.alias("mu"),
            F.sqrt(
                F.greatest(
                    F.sum(F.col("n") * F.col("n")).cast("double") / cnt - mu * mu,
                    F.lit(0.0),
                )
            ).alias("sigma"),
        )
    )

    # resident job: the ONLY streaming state is the daily count
    s = stream_events_raw(spark, sf_dir).withWatermark("ts", "0 seconds")
    agg = s.groupBy(F.window("ts", "1 day").alias("w"), "event_type").agg(
        F.count("*").alias("n")
    )
    out = run_available_now(
        agg.select(F.to_date("w.start").alias("day"), "event_type", "n"), "append"
    )

    # stateless post-projection over the emitted closed windows
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = out.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "n",
        "sigma",
        F.sum(F.col("n") - F.col("mu") - 0.5 * F.col("sigma")).over(w).alias("cp"),
        F.sum(F.col("n") - F.col("mu") + 0.5 * F.col("sigma")).over(w).alias("cm"),
    )
    run = cum.select(
        "*",
        F.min("cp").over(w).alias("mincp"),
        F.max("cm").over(w).alias("maxcm"),
    )
    splus = F.round(F.col("cp") - F.least(F.col("mincp"), F.lit(0.0)), 6)
    sminus = F.round(F.greatest(F.col("maxcm"), F.lit(0.0)) - F.col("cm"), 6)
    h = F.round(4 * F.col("sigma"), 6)
    return run.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("long").alias("n"),
        splus.alias("cusum_pos"),
        sminus.alias("cusum_neg"),
        ((splus > h) | (sminus > h)).alias("is_change"),
    )


@register(
    "w30_stream_event_timer_finals",
    oracle=f"""
WITH {TRADES_ORACLE_CTE}
SELECT product,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       arg_min(price, ts) AS open,
       max(price) AS high,
       min(price) AS low,
       arg_max(price, ts) AS close,
       CAST(sum(qty) AS BIGINT) AS volume
FROM trades
GROUP BY product, date_trunc('hour', ts)
""",
    doc="W9 event-time timers under the driver contract: the "
    "applyInPandasWithState + EventTimeTimeout path "
    "(streaming/stateful.running_candles_event_timers) replayed as "
    "THREE deterministic micro-batches — the full trade fixture, then "
    "two sentinel files at max(ts)+2h and +4h whose only job is to "
    "push the watermark past every real window. A key's non-last "
    "windows close by transition in batch 1 (w8/w9's semantics); its "
    "LAST open window — which the reference's shipped pipeline never "
    "flushes (7_ohlc.py's state waits for the key's next event) — is "
    "closed by its timer when a LATER batch's watermark passes the "
    "window end. With the sentinels guaranteeing the final watermark "
    "clears everything, transition finals + timer finals must equal "
    "the COMPLETE batch tumbling candle set, which is exactly the "
    "oracle — so the timer semantics (fire once, carry the window's "
    "OHLCV unchanged, clear state) sit inside the value hash. The "
    "sentinel key is synthesized from a broadcast max-ts aggregate "
    "(no driver collect) and filtered from the output; state is one "
    "typed row per key, timers one per key — the 100 TB shape of the "
    "idle-key-flush problem.",
)
def w30_stream_event_timer_finals(spark: SparkSession, sf_dir: str) -> DataFrame:

    from kafka_flink_spark.streaming.stateful import running_candles_event_timers

    cols = ("ts", "instrument_id", "product", "price", "qty", "seq")
    trades = trades_view(spark, sf_dir).select(*cols)
    mx = trades.agg(F.max("ts").alias("mx"))

    def sentinel(hours: int, seq: int) -> DataFrame:
        return mx.select(
            (F.col("mx") + F.expr(f"INTERVAL {hours} HOURS")).alias("ts"),
            F.lit("SENTINEL").alias("instrument_id"),
            F.lit("zzz_sentinel").alias("product"),
            F.lit(0.0).alias("price"),
            F.lit(0).cast("long").alias("qty"),
            F.lit(seq).cast("long").alias("seq"),
        )

    tmpdir = scratch_dir(prefix="w30_src_")  # atexit-cleaned; no cross-run leak
    parts = [trades, sentinel(2, 10**12), sentinel(4, 10**12 + 1)]
    src = _write_replay_files(_union_parts(parts), len(parts), tmpdir)

    stream = (
        spark.readStream.schema(
            "ts timestamp, instrument_id string, product string, "
            "price double, qty long, seq long"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    # 4 state partitions: the fixture has 5 product keys, so more
    # partitions only add per-micro-batch store open/commit (r12
    # sweep: 4 -> 4.5s vs 8 -> 5.1s vs 16 -> 5.2s median).
    out = run_available_now(
        running_candles_event_timers(stream, window_minutes=60),
        "update",
        shuffle_partitions=4,
    )
    return (
        out.filter(F.col("end_of_window") & (F.col("product") != "zzz_sentinel"))
        .select(
            "product",
            F.date_format("window_start", _FMT).alias("window_start"),
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )


def _w31_oracle() -> str:
    from kafka_flink_spark.suite.llm_queries import _simhash_sig_sql

    return f"""
WITH sig AS ({_simhash_sig_sql()}),
p AS (
    SELECT b.doc_id, CAST(min(a.doc_id) AS BIGINT) AS dup_of
    FROM sig a JOIN sig b
      ON a.doc_id < b.doc_id
     AND bit_count(xor(a.simhash, b.simhash)) <= 6
    GROUP BY b.doc_id
)
SELECT d.doc_id,
       p.dup_of IS NOT NULL AS is_near_dup,
       p.dup_of
FROM documents d LEFT JOIN p USING (doc_id)
"""


@register(
    "w31_stream_simhash_dedup",
    oracle=_w31_oracle(),
    doc="Streaming NEAR-dup detection against all history — "
    "dedup-on-ingest (streaming/dedup_stream.simhash_dedup_stream): "
    "documents replay as three doc_id-range micro-batches; each "
    "arriving doc is checked for hamming<=6 SimHash neighbours among "
    "every EARLIER doc via chunk-banded state groups (the d5 "
    "pigeonhole, so state comparisons happen per bucket, never "
    "all-pairs), then joins the bucket history. Completes the "
    "streaming x dedup matrix: w25/w22 are exact streaming dedup, d9 "
    "the batch incremental probe; this is the state-store-resident "
    "near-dup index. The oracle is banding-free ground truth — "
    "dup_of = min earlier doc with hamming<=6 over the full O(n^2) "
    "predicate — so the stream's banded emit set must reach FULL "
    "recall (pigeonhole guarantee) with zero false positives (exact "
    "xor verify) to hash-match. State carries signatures only (one "
    "long per doc per chunk), never text.",
)
def w31_stream_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:

    from kafka_flink_spark.sources.fixtures import load_table
    from kafka_flink_spark.streaming.dedup_stream import simhash_dedup_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # three doc_id-range files -> deterministic "earlier" == smaller id
    mx = docs.agg((F.max("doc_id") + 1).alias("mxp1"))
    ranged = docs.crossJoin(F.broadcast(mx)).withColumn(
        "bucket", F.floor(F.col("doc_id") * 3 / F.col("mxp1")).cast("int")
    )
    tmpdir = scratch_dir(prefix="w31_src_")  # atexit-cleaned; no cross-run leak
    src = _write_replay_files(
        ranged.select(F.col("bucket").alias("_part"), "doc_id", "text"), 3, tmpdir
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    matches = run_available_now(simhash_dedup_stream(stream), "update")
    per_doc = matches.groupBy("doc_id").agg(F.min("dup_of").alias("dup_of"))
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().alias("is_near_dup"),
            "dup_of",
        )
    )


_W33_FAMILY_N = 48
_W33_CAP = 16
_W33_BASE = " ".join(f"tok{j}" for j in range(100))


def _w33_oracle() -> str:
    """Capped-stream oracle: reproduce simhash_dedup_stream's
    bucket_cap contract as pure set logic. rn = arrival position in a
    (chunk_id, chunk_key) bucket (global doc_id order — the replay is
    id-ranged files folded in id order); the first cap arrivals form
    the history, later arrivals verify against the hub (rn=1) only.
    Pair (a < b) emits iff b still joined the history (b.rn <= cap,
    all earlier members visible) OR a is the hub."""
    from kafka_flink_spark.operators.dedup import SIMHASH_BITS

    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {i}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    num_chunks = 7
    base, extra = divmod(SIMHASH_BITS, num_chunks)
    chunk_selects, off = [], 0
    for c in range(num_chunks):
        width = base + (1 if c < extra else 0)
        chunk_selects.append(
            f"SELECT doc_id, simhash, {c} AS chunk_id, "
            f"((simhash >> {off}) & {(1 << width) - 1}) AS chunk_key FROM sig"
        )
        off += width
    banded = "\n    UNION ALL ".join(chunk_selects)
    tok_hash = duckdb_md5_long("t")
    return f"""
WITH docs_all AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT CAST(9000000 + i AS BIGINT) AS doc_id,
           '{_W33_BASE}' || ' va' || i || ' vb' || i || ' vc' || i || ' vd' || i AS text
    FROM range({_W33_FAMILY_N}) t(i)
),
hashed AS (
    SELECT doc_id,
           list_transform(string_split(text, ' '), t -> {tok_hash}) AS hs
    FROM docs_all
),
sig AS (SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM hashed),
banded AS (
    {banded}
),
rn AS (
    SELECT *, row_number() OVER (
        PARTITION BY chunk_id, chunk_key ORDER BY doc_id) AS rn
    FROM banded
),
emit AS (
    SELECT b.doc_id,
           CAST(count(DISTINCT a.doc_id) AS BIGINT) AS n_dups,
           CAST(min(a.doc_id) AS BIGINT) AS dup_of
    FROM rn a JOIN rn b
      ON a.chunk_id = b.chunk_id AND a.chunk_key = b.chunk_key
     AND a.doc_id < b.doc_id
     AND (b.rn <= {_W33_CAP} OR a.rn = 1)
     AND bit_count(xor(a.simhash, b.simhash)) <= 6
    GROUP BY b.doc_id
)
SELECT d.doc_id, COALESCE(e.n_dups, 0) AS n_dups, e.dup_of
FROM docs_all d LEFT JOIN emit e USING (doc_id)
"""


@register(
    "w33_stream_simhash_dedup_capped",
    oracle=_w33_oracle(),
    doc="Streaming near-dup dedup-on-ingest with the state-bucket cap "
    "ENGAGED (bucket_cap=16) — the stream twin of d13's batch "
    "hub-star contract, over documents plus a deterministic 48-doc "
    "boilerplate family whose near-identical signatures concentrate "
    "one (chunk, key) state group past the cap: once a bucket holds "
    "16 signatures, later arrivals verify against the bucket hub "
    "(min-id member) only and are NOT appended, so per-arrival work "
    "and state are O(cap) instead of O(bucket) — dedup-on-ingest "
    "that survives a 10M-doc boilerplate family at 100 TB. Output "
    "carries n_dups = distinct flagged predecessors per doc, so the "
    "star-vs-all-pairs narrowing sits INSIDE the value hash (family "
    "members past the cap report the hub alone, not 16+ matches); "
    "the oracle replays the documented capped emit rules exactly "
    "(streaming/dedup_stream.simhash_dedup_stream bucket_cap "
    "contract).",
)
def w33_stream_simhash_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:

    from kafka_flink_spark.sources.fixtures import load_table
    from kafka_flink_spark.streaming.dedup_stream import simhash_dedup_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("id").cast("string")
    fam = spark.range(_W33_FAMILY_N).select(
        (F.lit(9000000) + F.col("id")).cast("long").alias("doc_id"),
        F.concat(
            F.lit(_W33_BASE),
            F.lit(" va"), i, F.lit(" vb"), i, F.lit(" vc"), i, F.lit(" vd"), i,
        ).alias("text"),
    )
    docs_all = docs.unionByName(fam)
    # id-range replay: real docs split in half by id, the family (ids
    # 9000000+) arrives last — "earlier" == smaller id, as in w31.
    mx = docs.agg((F.max("doc_id") + 1).alias("mxp1"))
    ranged = docs_all.crossJoin(F.broadcast(mx)).withColumn(
        "bucket",
        F.when(F.col("doc_id") >= 9000000, F.lit(2)).otherwise(
            F.floor(F.col("doc_id") * 2 / F.col("mxp1")).cast("int")
        ),
    )
    tmpdir = scratch_dir(prefix="w33_src_")
    src = _write_replay_files(
        ranged.select(F.col("bucket").alias("_part"), "doc_id", "text"), 3, tmpdir
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    matches = run_available_now(
        simhash_dedup_stream(stream, bucket_cap=_W33_CAP), "update"
    )
    per_doc = matches.groupBy("doc_id").agg(
        F.countDistinct("dup_of").alias("n_dups"),
        F.min("dup_of").alias("dup_of"),
    )
    return (
        docs_all.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dups", F.lit(0)).alias("n_dups"),
            "dup_of",
        )
    )


_W32_AGGS = """arg_min(price, ts) AS open, max(price) AS high,
           min(price) AS low, arg_max(price, ts) AS close,
           CAST(sum(qty) AS BIGINT) AS volume,
           CAST(count(*) AS BIGINT) AS n"""

_W32_ORACLE = f"""
WITH {TRADES_ORACLE_CTE},
b AS (
    SELECT product, ts, price, qty,
           ({duckdb_md5_long("CAST(seq AS VARCHAR)", salt="late:")} % 10 = 7)
               AS is_late,
           date_trunc('hour', ts) AS ws,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS we
    FROM trades
),
w1 AS (SELECT max(ts) AS wm FROM b WHERE NOT is_late),
mm AS (
    SELECT b.*, w1.wm,
           count(*) FILTER (WHERE NOT is_late)
               OVER (PARTITION BY product, ws) AS n_ontime
    FROM b, w1
),
cls AS (
    SELECT mm.*,
           CASE WHEN NOT is_late THEN 'ontime'
                WHEN we + INTERVAL 30 MINUTES <= wm THEN 'dropped'
                ELSE 'kept' END AS cls
    FROM mm
),
on_time AS (
    SELECT product, ws, 'on_time' AS kind, {_W32_AGGS}
    FROM cls
    WHERE cls <> 'dropped'
      AND ((we <= wm AND ((n_ontime > 0) = (cls = 'ontime'))) OR we > wm)
    GROUP BY product, ws
),
late_upd AS (
    SELECT product, ws, 'late_update' AS kind, {_W32_AGGS}
    FROM cls
    WHERE cls <> 'dropped' AND we <= wm AND n_ontime > 0
    GROUP BY product, ws
    HAVING count(*) FILTER (WHERE cls = 'kept') > 0
),
dropped AS (
    SELECT product, ws, 'dropped' AS kind, {_W32_AGGS}
    FROM cls WHERE cls = 'dropped' GROUP BY product, ws
)
SELECT product, strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, kind,
       open, high, low, close, volume, n
FROM (SELECT * FROM on_time
      UNION ALL SELECT * FROM late_upd
      UNION ALL SELECT * FROM dropped)
"""


@register(
    "w32_allowed_lateness_refire",
    oracle=_W32_ORACLE,
    doc="ALLOWED LATENESS as a knob separate from the watermark — the "
    "reference's two-timing window config (3_ohlc.py:63: bounded "
    "out-of-orderness watermark PLUS allowed_lateness) that Spark's "
    "single withWatermark delay folds together, un-folded on the "
    "applyInPandasWithState + EventTimeTimeout path "
    "(streaming/lateness.allowed_lateness_candles): Spark's own "
    "delay is widened to ooo+lateness+window so its pre-filter is "
    "strictly more permissive, and the exact Flink clock is "
    "reconstructed from getCurrentWatermarkMs inside the state "
    "function. Replay: the trade fixture split into an on-time file "
    "and a held-out 10% late file (deterministic md5 gate on seq), "
    "then two watermark sentinels — so window firings are "
    "deterministic: a window fires 'on_time' when the Flink "
    "watermark first passes its end (event-time timers flush idle "
    "keys), RE-fires 'late_update' when a held-out straggler lands "
    "within the 30-minute budget after firing, and stragglers past "
    "the budget aggregate into 'dropped' side-output rows (Flink's "
    "sideOutputLateData). The oracle replays the same two-knob rules "
    "as pure set logic over the split (W1 = max on-time ts), so "
    "fire-before-fold ordering, the drop boundary, re-fire contents, "
    "and purge silence all sit inside the value hash.",
)
def w32_allowed_lateness_refire(spark: SparkSession, sf_dir: str) -> DataFrame:

    from kafka_flink_spark.streaming.lateness import allowed_lateness_candles

    trades = trades_view(spark, sf_dir).select("ts", "product", "price", "qty", "seq")
    is_late = md5_long(F.col("seq").cast("string"), salt="late:") % 10 == 7
    t = trades.withColumn("is_late", is_late)
    mx = trades.agg(F.max("ts").alias("mx"))

    def sentinel(hours: int) -> DataFrame:
        return mx.select(
            (F.col("mx") + F.expr(f"INTERVAL {hours} HOURS")).alias("ts"),
            F.lit("zzz_sentinel").alias("product"),
            F.lit(0.0).alias("price"),
            F.lit(0).cast("long").alias("qty"),
        )

    parts = [
        t.filter(~F.col("is_late")).select("ts", "product", "price", "qty"),
        t.filter(F.col("is_late")).select("ts", "product", "price", "qty"),
        sentinel(4),
        sentinel(6),
    ]
    tmpdir = scratch_dir(prefix="w32_src_")  # atexit-cleaned; no cross-run leak
    src = _write_replay_files(_union_parts(parts), len(parts), tmpdir)

    stream = (
        spark.readStream.schema("ts timestamp, product string, price double, qty long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    # 4 state partitions: 5 product keys + the sentinel — the global
    # 8 default sized for the 2k-key OHLCV replay over-provisions the
    # per-micro-batch store open/commit AND the Python worker fan-out
    # of applyInPandasWithState here (r12 sweep: 16 -> 6.7s,
    # 8 -> 5.8s, 4 -> 5.3s median; the r11 verdict's re-measure item).
    out = run_available_now(
        allowed_lateness_candles(stream, window_minutes=60, lateness_minutes=30),
        "update",
        shuffle_partitions=4,
    )
    return out.filter(F.col("product") != "zzz_sentinel").select(
        "product",
        F.date_format("window_start", _FMT).alias("window_start"),
        "kind",
        "open",
        "high",
        "low",
        "close",
        "volume",
        "n",
    )


from kafka_flink_spark.operators.sketches import KMV_ORACLE_SQL as _W34_ORACLE


@register(
    "w34_stream_kmv_overlap",
    # g25's oracle VERBATIM (shared from operators/sketches.py):
    # bottom-k samples are mergeable, so the stream's final state
    # after the 3-batch replay must equal the batch sketch over the
    # same rows — the streaming execution sits inside a batch value
    # hash.
    oracle=_W34_ORACLE,
    doc="STREAMING KMV sketch — audience overlap as resident stream "
    "state (streaming/sketch_stream.kmv_stream): events replay as "
    "three event_id-range micro-batches; per event_type the state "
    "store holds ONLY the k=256 smallest member hashes (k longs per "
    "set, constant forever — the bounded-state contrast to exact "
    "streaming distinct w16/w25, whose state grows with distinct "
    "keys). Each batch folds its members into the sample "
    "(applyInPandasWithState, update mode); the final per-set sample "
    "feeds the same pairwise theta estimator as batch g25, and "
    "because bottom-k is MERGEABLE (bottom-k of union == bottom-k of "
    "per-shard bottom-ks, pinned in tests), the stream's estimates "
    "equal the batch sketch exactly — g25's oracle checks this "
    "query unchanged, putting the streaming state fold inside the "
    "value hash.",
)
def w34_stream_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:

    from kafka_flink_spark.operators.sketches import kmv_pairwise_from_samples
    from kafka_flink_spark.sources.fixtures import load_table
    from kafka_flink_spark.streaming.sketch_stream import kmv_stream

    ev = load_table(spark, sf_dir, "events")
    members = ev.select("event_id", "event_type", "user_id")
    # three event_id-range files -> deterministic multi-batch replay
    mx = members.agg((F.max("event_id") + 1).alias("mxp1"))
    ranged = members.crossJoin(F.broadcast(mx)).withColumn(
        "bucket", F.floor(F.col("event_id") * 3 / F.col("mxp1")).cast("int")
    )
    tmpdir = scratch_dir(prefix="w34_src_")  # atexit-cleaned; no cross-run leak
    src = _write_replay_files(
        ranged.select(F.col("bucket").alias("_part"), "event_type", "user_id"),
        3,
        tmpdir,
    )

    stream = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = run_available_now(
        kmv_stream(stream, set_col="event_type", member_col="user_id"), "update"
    )
    final = out.groupBy("event_type").agg(
        F.max_by("sample", "upd_seq").alias("sample")
    )
    sample = final.select(
        F.col("event_type").alias("s"), F.explode("sample").alias("h")
    )
    est = kmv_pairwise_from_samples(sample)
    from kafka_flink_spark.suite.relational_queries import kmv_report_tail

    return kmv_report_tail(ev, est)



from kafka_flink_spark.operators.sketches import CMS_ORACLE_SQL as _W35_ORACLE


@register(
    "w35_stream_cms_heavy_hitters",
    # g15's oracle VERBATIM (shared from operators/sketches.py): CMS
    # counters merge by addition, so after the 3-batch replay the
    # stream's counter table equals the batch build's exactly and the
    # per-key estimates hash-match the batch query.
    oracle=_W35_ORACLE,
    doc="STREAMING count-min sketch — heavy-hitter frequency tracking "
    "as a NATIVE streaming aggregation: lineitem part keys replay as "
    "three l_orderkey-range micro-batches, each row fans out to "
    "(depth, bucket) pairs in a narrow projection, and the sketch IS "
    "a plain streaming groupBy(d, bucket).count() whose state is "
    "provably bounded at depth*width = 1024 rows forever — no custom "
    "stateful operator needed, which is the point: the sketch shape "
    "turns an unbounded-key frequency question into a fixed-size "
    "built-in aggregation (contrast w16's exact streaming distinct, "
    "whose state grows with the key space; and w34's KMV, which needs "
    "applyInPandasWithState because bottom-k is not a sum). The final "
    "counters equal the batch build's exactly (counters merge by "
    "addition), so scoring all part keys against the replayed sketch "
    "hash-matches batch g15 under its oracle verbatim.",
)
def w35_stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:

    from kafka_flink_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        _buckets,
        _key_hash,
        cms_score,
    )
    from kafka_flink_spark.sources.fixtures import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    mx = li.agg((F.max("l_orderkey") + 1).alias("mxp1"))
    ranged = li.crossJoin(F.broadcast(mx)).withColumn(
        "bucket", F.floor(F.col("l_orderkey") * 3 / F.col("mxp1")).cast("int")
    )
    tmpdir = scratch_dir(prefix="w35_src_")  # atexit-cleaned; no cross-run leak
    src = _write_replay_files(
        ranged.select(F.col("bucket").alias("_part"), "l_partkey"), 3, tmpdir
    )

    stream = (
        spark.readStream.schema("l_partkey long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    fanned = stream.select(_key_hash(F.col("l_partkey")).alias("_h")).select(
        F.posexplode(_buckets(F.col("_h"), CMS_DEPTH, CMS_WIDTH)).alias("d", "bucket")
    )
    sketch = fanned.groupBy("d", "bucket").agg(F.count("*").alias("c"))
    # 4 state partitions for the 1024-cell bounded sketch state (r12
    # sweep: 4 -> 3.1s vs 8 -> 3.3s vs 16 -> 3.9s median; w35 was an
    # r11-verdict re-measure item).
    final_sketch = run_available_now(sketch, "complete", shuffle_partitions=4)
    keys = li.select("l_partkey").distinct()
    return cms_score(final_sketch, keys, "l_partkey")


_W36_QUERY_IDS = tuple(range(9))


def _w36_oracle() -> str:
    from kafka_flink_spark.suite.llm_queries import _ivf_oracle

    return _ivf_oracle(str(_W36_QUERY_IDS))


def _w36_per_query_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build w36's STREAMING frame up to the update-mode per-query
    candidate aggregation (shared by the query and the plan gate in
    tests/test_plans.py, which asserts the streaming side plans with
    zero Window operators)."""

    from pyspark.sql.window import Window

    from kafka_flink_spark.operators.similarity import (
        N_CELLS,
        N_PROBE,
        _as_double,
        cosine,
    )
    from kafka_flink_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(F.col("vec_id"), _as_double("embedding").alias("v"))
    cents = (
        e.orderBy("vec_id")
        .limit(N_CELLS)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("centroid"))
    )
    # static side: corpus cell assignment (batch — windows legal here)
    cscore = e.crossJoin(F.broadcast(cents)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        "cid",
        F.round(cosine(F.col("v"), F.col("centroid")), 6).alias("cos_c"),
    )
    wa = Window.partitionBy("neighbor_id").orderBy(F.desc("cos_c"), F.asc("cid"))
    assigned = (
        cscore.withColumn("arn", F.row_number().over(wa))
        .filter(F.col("arn") == 1)
        .select("neighbor_id", "cv", F.col("cid").alias("cell"))
        .transform(pin)
    )
    cent_row = cents.agg(
        F.sort_array(F.collect_list(F.struct("cid", "centroid"))).alias("_cents")
    ).withColumn("_k", F.lit(1))

    # stage the 9 query vectors as three 3-query files
    qvecs = e.filter(F.col("vec_id").isin(*_W36_QUERY_IDS))
    tmpdir = scratch_dir(prefix="w36_src_")  # atexit-cleaned
    src = _write_replay_files(
        qvecs.select((F.col("vec_id") % 3).cast("int").alias("_part"), "*"), 3, tmpdir
    )

    stream = (
        spark.readStream.schema("vec_id long, v array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("_k", F.lit(1))
    )
    # per-row probed cells: broadcast centroid array + narrow HOFs —
    # sort_array on struct(negc, cid) == (cos DESC, cid ASC)
    probed = (
        stream.join(F.broadcast(cent_row), "_k")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(
                F.slice(
                    F.sort_array(
                        F.transform(
                            "_cents",
                            lambda c: F.struct(
                                (
                                    -F.round(cosine(F.col("v"), c["centroid"]), 6)
                                ).alias("negc"),
                                c["cid"].alias("cid"),
                            ),
                        )
                    ),
                    1,
                    N_PROBE,
                )
            ).alias("_p"),
        )
        .select("query_id", "qv", F.col("_p.cid").alias("cell"))
    )
    cands = (
        probed.join(assigned, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            F.struct(
                (-F.round(cosine(F.col("qv"), F.col("cv")), 6)).alias("negc"),
                F.col("neighbor_id").alias("nid"),
            ).alias("_c"),
        )
    )
    return cands.groupBy("query_id").agg(F.collect_list("_c").alias("cands"))


@register(
    "w36_stream_ann_serving",
    oracle=_w36_oracle(),
    doc="STREAMING vector-search serving — online ANN over a static "
    "indexed corpus (the vector-database query path): nine query "
    "vectors arrive as three micro-batches and are answered by v3's "
    "IVF index via a stream-static join. The streaming plan has NO "
    "window functions (illegal on streams): per-row probed cells come "
    "from a broadcast centroid array + sort_array/slice HOFs (narrow), "
    "candidates from the stream-static inner join against the "
    "batch-built cell assignment, and per-query top-10 from an "
    "update-mode collect_list aggregation sliced after replay. "
    "Answers are EXACTLY v3's batch IVF results for the same query "
    "ids — the oracle is the shared _ivf_oracle parameterized to the "
    "nine ids — so the serving path sits inside the value hash. At "
    "scale the collect_list state per in-flight query is bounded by "
    "the probed cells' population (n_probe/n_cells of the corpus); "
    "production serving caps it with a per-cell shortlist like v13's.",
)
def w36_stream_ann_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_query = _w36_per_query_stream(spark, sf_dir)
    out = run_available_now(per_query, "update")
    final = out.groupBy("query_id").agg(
        F.max_by("cands", F.size("cands")).alias("cands")
    )
    return final.select(
        "query_id",
        F.posexplode(F.slice(F.sort_array("cands"), 1, 10)).alias("_i", "_s"),
    ).select(
        "query_id",
        F.col("_s.nid").alias("neighbor_id"),
        (-F.col("_s.negc")).alias("cos_sim"),
        (F.col("_i") + 1).cast("int").alias("rn"),
    )


from kafka_flink_spark.suite.llm_queries import _FE6_ORACLE as _W37_ORACLE  # noqa: E402


@register(
    "w37_stream_classifier_gate",
    oracle=_W37_ORACLE,
    doc="STREAMING quality filtering on ingest - fe6's linear "
    "classifier as a resident job (the filter-on-arrival stage of a "
    "streaming corpus pipeline): documents arrive as three doc-range "
    "micro-batches, tokens explode and hash per batch (stateless, "
    "scan-fused), the 256-row md5-derived weight vector joins as a "
    "BROADCAST static side (stream-static join - the model swaps "
    "without restarting semantics), and one update-mode per-doc "
    "aggregation folds signed-weight sums + token counts; margin and "
    "keep are stateless post-projections. Each doc arrives whole in "
    "one batch, so replayed update rows ARE finals and the answer is "
    "bit-equal to batch fe6 - the shared oracle puts the streaming "
    "path inside the value hash (the w34/w35/w36 pattern, filling "
    "the streaming x classifier cell). State: one 2-long row per doc "
    "in flight; production bounds it with a watermark on arrival "
    "time.",
)
def w37_stream_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:

    from kafka_flink_spark.operators.text import bucket_weights, hashed_tokens
    from kafka_flink_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    tmpdir = scratch_dir(prefix="w37_src_")  # atexit-cleaned
    src = _write_replay_files(
        docs.select((F.col("doc_id") % 3).cast("int").alias("_part"), "*"), 3, tmpdir
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    # single stateful aggregation (no intermediate bucket agg on the
    # stream - chained streaming aggregations need append+watermark);
    # the broadcast weight join happens BELOW it, stateless.
    agg = (
        hashed_tokens(stream)
        .join(F.broadcast(bucket_weights(spark)), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.col("sgn") * F.col("w")).cast("long").alias("bow_margin"),
        )
    )
    out = run_available_now(agg, "update")
    # each doc lives in exactly one batch; max_by(n_tokens) collapses
    # any duplicate update emissions to the final fold
    final = out.groupBy("doc_id").agg(
        F.max_by(F.struct("n_tokens", "bow_margin"), "n_tokens").alias("_s")
    )
    return final.select(
        "doc_id",
        F.col("_s.n_tokens").alias("n_tokens"),
        (F.col("_s.bow_margin") + 3 * F.col("_s.n_tokens")).cast("long").alias("margin"),
        ((F.col("_s.bow_margin") + 3 * F.col("_s.n_tokens")) > 0).alias("keep"),
    )
