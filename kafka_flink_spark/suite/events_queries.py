"""Event-stream analytics over the ``events`` fixture — the batch
analytics a product team runs on the same stream the reference only
windows (sessionization, funnels, cohort retention).

The reference's surface stops at per-key tumbling windows
(``7_ohlc.py:35-98``); a credible engine over event streams also needs
the classic clickstream shapes. All three are pure DataFrame built-ins
(window functions + conditional aggregation) — no UDFs, no
driver-side iteration — so they scale to 100 TB the same way any
partitioned window/agg does: one hash shuffle on ``user_id``, then
map-side work.

Precision note: gaps are compared in integer microseconds
(``unix_micros`` / DuckDB ``epoch_us``) so both engines evaluate the
same exact integers — no float/second-truncation divergence on
sub-second boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_flink_spark.functions.hashing import duckdb_md5_long, md5_long
from kafka_flink_spark.sources.fixtures import load_table
from kafka_flink_spark.suite import register

_FMT = "yyyy-MM-dd HH:mm:ss"
_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

_GAP_US = 6 * 3600 * 1_000_000  # 6h inactivity closes a session


@register(
    "e1_sessionization",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, ts, event_id, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
    FROM events
), flagged AS (
    SELECT user_id, ts, event_id, us,
           CASE WHEN prev_us IS NULL OR us - prev_us >= {_GAP_US} THEN 1 ELSE 0 END AS new_session
    FROM ordered
), numbered AS (
    SELECT user_id, ts, us,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM flagged
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       strftime(min(ts), '{_FMT_DUCK}') AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       max(us) - min(us) AS duration_us
FROM numbered
GROUP BY user_id, session_no
""",
    doc="Gap-based sessionization (6h inactivity gap): lag + cumulative "
    "flag-sum assigns session numbers per user, then per-session "
    "aggregates. One shuffle on user_id serves both the window "
    "functions and the final group-by (Catalyst reuses the "
    "partitioning); at 100 TB this is the standard sessionize plan.",
)
def e1_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", F.unix_micros("ts").alias("us"), "event_id"
    )
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("us").over(by_user).isNull()
            | (F.col("us") - F.lag("us").over(by_user) >= _GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    numbered = flagged.withColumn("session_no", F.sum("new_session").over(run))
    return numbered.groupBy("user_id", F.col("session_no").cast("long").alias("session_no")).agg(
        F.date_format(F.min("ts"), _FMT).alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("us") - F.min("us")).alias("duration_us"),
    )


@register(
    "e2_funnel",
    oracle="""
WITH per_user AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
           min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events
    GROUP BY user_id
)
SELECT CAST(count(*) FILTER (WHERE t_signup IS NOT NULL) AS BIGINT) AS n_signup,
       CAST(count(*) FILTER (WHERE t_view > t_signup) AS BIGINT) AS n_viewed,
       CAST(count(*) FILTER (WHERE t_click > t_view AND t_view > t_signup) AS BIGINT) AS n_clicked,
       CAST(count(*) FILTER (
           WHERE t_purchase > t_click AND t_click > t_view AND t_view > t_signup
       ) AS BIGINT) AS n_purchased
FROM per_user
""",
    doc="Ordered funnel signup→view→click→purchase: first-occurrence "
    "time per step per user (conditional min), then strict time-order "
    "conditions counted. Two map-side-combinable aggregations — the "
    "canonical funnel plan that holds at any user cardinality.",
)
def e2_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_ts(step: str):
        return F.min(F.when(F.col("event_type") == step, F.col("ts"))).alias(f"t_{step}")

    per_user = ev.groupBy("user_id").agg(
        first_ts("signup"), first_ts("view"), first_ts("click"), first_ts("purchase")
    )
    t = {s: F.col(f"t_{s}") for s in ("signup", "view", "click", "purchase")}
    step1 = t["signup"].isNotNull()
    step2 = t["view"] > t["signup"]
    step3 = (t["click"] > t["view"]) & step2
    step4 = (t["purchase"] > t["click"]) & step3

    def n(cond, name):
        return F.count(F.when(cond, F.lit(1))).alias(name)

    return per_user.agg(
        n(step1, "n_signup"), n(step2, "n_viewed"), n(step3, "n_clicked"), n(step4, "n_purchased")
    )


@register(
    "e3_retention_cohorts",
    oracle=f"""
WITH firsts AS (
    SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
    FROM events GROUP BY user_id
), active AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
    FROM events
)
SELECT strftime(f.cohort_week, '{_FMT_DUCK}') AS cohort_week,
       CAST((epoch_us(a.active_week) - epoch_us(f.cohort_week))
            / 604800000000 AS BIGINT) AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
FROM firsts f JOIN active a USING (user_id)
GROUP BY f.cohort_week, week_offset
""",
    doc="Weekly cohort retention: cohort = week of first event per "
    "user; count distinct users active per (cohort, week-offset). The "
    "firsts side is one row per user — broadcastable at moderate "
    "cardinality, hash-join on user_id otherwise; offsets computed in "
    "integer microseconds on both engines.",
)
def e3_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    active = ev.select("user_id", F.date_trunc("week", "ts").alias("active_week")).distinct()
    week_us = 7 * 86400 * 1_000_000
    return (
        firsts.join(active, "user_id")
        .groupBy(
            F.date_format("cohort_week", _FMT).alias("cohort_week"),
            ((F.unix_micros("active_week") - F.unix_micros("cohort_week")) / week_us)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@register(
    "e4_gapfill_hourly",
    oracle=f"""
WITH ranked AS (
    SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, value,
           row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
    FROM events
), c AS (
    SELECT event_type, ws,
           max(CASE WHEN rn = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM ranked GROUP BY 1, 2
), spans AS (
    SELECT event_type, min(ws) AS t0, max(ws) AS t1 FROM c GROUP BY 1
), grid AS (
    SELECT event_type, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ws
    FROM spans
), joined AS (
    SELECT g.event_type, g.ws, c.close, c.n_events, c.ws IS NULL AS is_gap
    FROM grid g LEFT JOIN c ON c.event_type = g.event_type AND c.ws = g.ws
)
SELECT event_type, strftime(ws, '{_FMT_DUCK}') AS window_start,
       last_value(close IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY ws
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close,
       coalesce(n_events, 0) AS n_events,
       is_gap
FROM joined
""",
    doc="Dense hourly series via operators/resample.gap_fill: tumbling "
    "count+close per event_type, exploded per-key time grid, LOCF "
    "forward-fill of close, zero-fill of counts, is_gap flag. The grid "
    "is generated distributed (explode(sequence)) — no driver loop — "
    "and grid size is span/step per key, independent of event count, "
    "so it holds at 100 TB.",
)
def e4_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.resample import gap_fill

    ev = load_table(spark, sf_dir, "events")
    candles = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("ws")
    ).agg(
        F.max_by("value", F.struct(F.unix_micros("ts"), "event_id")).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )
    filled = gap_fill(
        candles,
        key_cols=["event_type"],
        ts_col="ws",
        step="1 hour",
        fill_forward=("close",),
        zero_fill=("n_events",),
    )
    return filled.select(
        "event_type",
        F.date_format("ws", _FMT).alias("window_start"),
        "close",
        "n_events",
        "is_gap",
    )


@register(
    "e5_rolling_zscore",
    oracle="""
WITH v AS (
    SELECT event_id, event_type, ts, value,
           CAST(round(value * 100) AS BIGINT) AS v100
    FROM events
),
stats AS (
    SELECT event_id, event_type, ts, value,
           count(*) OVER w AS n,
           sum(v100) OVER w AS s,
           sum(v100 * v100) OVER w AS ss
    FROM v
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       value,
       CASE WHEN n >= 5 AND (ss / 10000.0 - (s / 100.0) * (s / 100.0) / n) / (n - 1) > 0
            THEN round((value - s / (100.0 * n)) /
                       sqrt((ss / 10000.0 - (s / 100.0) * (s / 100.0) / n) / (n - 1)), 6)
            END AS zscore
FROM stats
""",
    doc="Expanding-window z-score anomaly signal per event_type: "
    "running count/sum/sum-of-squares as EXACT integer window sums "
    "(values are 2-dp decimals -> cents), so mean/variance/z derive "
    "from identical integers on any engine and any accumulation order "
    "— the float-determinism discipline every cross-engine moving "
    "statistic here follows. Single shuffle on the key; state is three "
    "integers per row, never a value buffer. int64 headroom: squared "
    "cents reach ~2.4e9 per row, so the running sum is safe to ~3.8e9 "
    "rows per key — beyond that, cast the accumulators to "
    "DECIMAL(38,0) (same exactness, wider lane).",
)
def e5_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v100 = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    stats = ev.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        F.count("*").over(w).alias("n"),
        F.sum(v100).over(w).alias("s"),
        F.sum(v100 * v100).over(w).alias("ss"),
    )
    var = (F.col("ss") / 10000.0 - (F.col("s") / 100.0) * (F.col("s") / 100.0) / F.col("n")) / (
        F.col("n") - 1
    )
    z = F.when(
        (F.col("n") >= 5) & (var > 0),
        F.round((F.col("value") - F.col("s") / (100.0 * F.col("n"))) / F.sqrt(var), 6),
    )
    return stats.select(
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "value",
        z.alias("zscore"),
    )


@register(
    "e6_trailing_range_window",
    oracle=f"""
SELECT event_id, user_id,
       strftime(ts, '{_FMT_DUCK}') AS ts,
       CAST(count(*) OVER w AS BIGINT) AS n_10m,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS sum_cents_10m,
       min(value) OVER w AS min_v_10m,
       max(value) OVER w AS max_v_10m
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
""",
    doc="Time-RANGE window frame (value-range, not row-count): per "
    "user, stats over the trailing 10 minutes at every event — the "
    "'activity in the last N minutes' shape ROWS frames (w4) cannot "
    "express when event spacing is irregular. Ordered by exact integer "
    "epoch-microseconds; ties (same us) are frame peers and aggregate "
    "identically in any engine. Sum is over exact cent integers; "
    "min/max are order-free — no float accumulation-order divergence. "
    "One shuffle on user_id; frame state is a sliding deque bounded by "
    "events-per-10-minutes, independent of history length.",
)
def e6_trailing_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-600_000_000, 0)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", _FMT).alias("ts"),
        F.count("*").over(w).cast("long").alias("n_10m"),
        F.sum(cents).over(w).cast("long").alias("sum_cents_10m"),
        F.min("value").over(w).alias("min_v_10m"),
        F.max("value").over(w).alias("max_v_10m"),
    )


@register(
    "e7_session_window_native",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, ts, event_id, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
    FROM events
), flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN prev_us IS NULL OR us - prev_us >= {_GAP_US} THEN 1 ELSE 0 END AS new_session
    FROM ordered
), numbered AS (
    SELECT user_id, ts,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM flagged
)
SELECT user_id,
       strftime(min(ts), '{_FMT_DUCK}') AS session_start,
       strftime(max(ts) + INTERVAL 6 HOUR, '{_FMT_DUCK}') AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM numbered
GROUP BY user_id, session_no
""",
    doc="NATIVE session windows in batch: groupBy(session_window(ts, "
    "'6 hours'), user_id) — Spark's built-in gap-merge operator "
    "(sort-merge within partition, no window-function pass) computing "
    "the same sessions e1 derives with lag+cumsum; the oracle is the "
    "gap-and-islands SQL. session_window.end = last event + gap by "
    "definition, mirrored in the oracle's max(ts) + gap.",
)
def e7_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "6 hours").alias("w"), F.col("user_id"))
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", _FMT).alias("session_start"),
            F.date_format("w.end", _FMT).alias("session_end"),
            "n_events",
        )
    )


@register(
    "e8_mau_wau_stickiness",
    oracle="""
WITH weekly AS (
    SELECT date_trunc('week', ts) AS wk,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau
    FROM events GROUP BY 1
),
monthly AS (
    SELECT date_trunc('month', ts) AS mo,
           CAST(count(DISTINCT user_id) AS BIGINT) AS mau
    FROM events GROUP BY 1
)
SELECT strftime(w.wk, '%Y-%m-%d') AS week_start,
       w.wau,
       m.mau,
       round(w.wau * 1.0 / m.mau, 6) AS stickiness
FROM weekly w JOIN monthly m ON date_trunc('month', w.wk) = m.mo
""",
    doc="Engagement analytics: weekly/monthly active users and the "
    "WAU/MAU stickiness ratio (each week joined to the month its "
    "START falls in — the deterministic convention for boundary "
    "weeks). Two distinct-aggregates over one scan plus a tiny "
    "broadcast join of week rows to month rows; all-integer until "
    "the final ratio.",
)
def e8_mau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(F.date_trunc("week", "ts").alias("wk")).agg(
        F.count_distinct("user_id").cast("long").alias("wau")
    )
    monthly = ev.groupBy(F.date_trunc("month", "ts").alias("mo")).agg(
        F.count_distinct("user_id").cast("long").alias("mau")
    )
    return (
        weekly.join(
            F.broadcast(monthly), F.date_trunc("month", F.col("wk")) == F.col("mo")
        )
        .select(
            F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
            "wau",
            "mau",
            F.round(F.col("wau") / F.col("mau"), 6).alias("stickiness"),
        )
    )


@register(
    "e9_event_transitions",
    oracle="""
WITH ordered AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
    FROM events
)
SELECT event_type AS prev_type, next_type,
       CAST(count(*) AS BIGINT) AS n_transitions
FROM ordered
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""",
    doc="Per-user event transition matrix (Markov-chain counts): lead "
    "over (user, ts, event_id) pairs each event with its successor, "
    "then one aggregation — the navigation/behavior-model primitive "
    "next to sessionization (e1) and funnels (e2). One shuffle for the "
    "per-user window (ties broken by event_id, matching the e7 "
    "ordering convention), one result-sized aggregation exchange.",
)
def e9_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        ordered.filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("prev_type"), "next_type")
        .agg(F.count("*").cast("long").alias("n_transitions"))
    )


# MAD-floor for e10: with floor = 0 the rule is the classic
# |n − median| > 3 · 1.4826 · MAD (any nonzero deviation flags when a
# type's counts are majority-constant, i.e. MAD = 0). Deployments that
# find that too noisy raise the floor — the SAME constant feeds the
# Spark expression and the oracle SQL, so the verification contract
# holds at any setting.
E10_MAD_FLOOR = 0.0


@register(
    "e10_daily_anomalies",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT event_type,
           quantile_cont(n, 0.5) AS med
    FROM daily GROUP BY event_type
),
dev AS (
    SELECT d.event_type, d.day, d.n, s.med,
           abs(d.n - s.med) AS adev
    FROM daily d JOIN stats s ON d.event_type = s.event_type
),
mad AS (
    SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY event_type
)
SELECT v.event_type, strftime(v.day, '%Y-%m-%d') AS day,
       CAST(v.n AS BIGINT) AS n,
       round(v.med, 6) AS med,
       round(m.mad, 6) AS mad,
       CAST(v.adev > greatest(3 * 1.4826 * m.mad, {E10_MAD_FLOOR}) AS BOOLEAN)
           AS is_anomaly
FROM dev v JOIN mad m ON v.event_type = m.event_type
""",
    doc="Data-quality anomaly detection: per-type daily event counts "
    "flagged by the robust MAD rule (|n - median| > 3 * 1.4826 * MAD). "
    "The corpus-sized pass is ONE map-side-partial count; both "
    "medians run over the days-by-types relation (tiny by contract), "
    "so 'exact median' costs nothing — the monitoring query every "
    "ingest pipeline runs at 100 TB. Known semantic edge at the "
    "default E10_MAD_FLOOR = 0: when a type's daily counts are "
    "majority-constant, MAD = 0 and ANY nonzero deviation flags as "
    "an anomaly — noisy for low-variance types; raising the module-"
    "level floor feeds BOTH the Spark expression and the oracle, so "
    "the contract holds at any setting.",
)
def e10_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("n"))
    med = daily.groupBy("event_type").agg(
        F.percentile("n", F.lit(0.5)).alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("long").alias("n"),
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        (
            F.col("adev")
            > F.greatest(3 * 1.4826 * F.col("mad"), F.lit(E10_MAD_FLOOR))
        ).alias("is_anomaly"),
    )


@register(
    "e11_dynamic_session_gap",
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
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(make_timestamp(max(end_us)), '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, session_id
""",
    doc="DYNAMIC-gap session windows (Spark 3.2+ session_window with a "
    "gap EXPRESSION): short-dwell 'view' events extend a session by "
    "only 30 minutes while engaged events extend it by 2 hours — the "
    "per-event-timeout sessionization fixed-gap w14 cannot express. "
    "Semantics (oracle-mirrored): each event claims [ts, ts + "
    "gap(event)); overlapping claims merge; a new session starts when "
    "ts >= the running max of previous claim ends (NOT merely the "
    "previous event's end — a long-gap event can bridge over a later "
    "short-gap one). Gap arithmetic in integer microseconds on both "
    "sides.",
)
def e11_dynamic_session_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # gap must be CalendarIntervalType: interval-string column, not
    # INTERVAL literals (those parse as DayTimeIntervalType)
    gap = F.when(F.col("event_type") == "view", F.lit("30 minutes")).otherwise(
        F.lit("2 hours")
    )
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", _FMT).alias("session_start"),
            F.date_format("w.end", _FMT).alias("session_end"),
            "n_events",
        )
    )


@register(
    "e12_funnel_steps",
    oracle="""
WITH base AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v_us
    FROM events GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(epoch_us(e.ts)) AS c_us
    FROM events e JOIN base b ON e.user_id = b.user_id
    WHERE e.event_type = 'click' AND epoch_us(e.ts) > b.v_us
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.c_us
    GROUP BY e.user_id
)
SELECT b.user_id,
       CAST(CASE WHEN p.p_us IS NOT NULL THEN 3
                 WHEN c.c_us IS NOT NULL THEN 2
                 WHEN b.v_us IS NOT NULL THEN 1
                 ELSE 0 END AS BIGINT) AS stage_reached,
       CAST(c.c_us - b.v_us AS BIGINT) AS us_view_to_click,
       CAST(p.p_us - c.c_us AS BIGINT) AS us_click_to_purchase
FROM base b
LEFT JOIN c ON b.user_id = c.user_id
LEFT JOIN p ON p.user_id = c.user_id
""",
    doc="STRICT sequential funnel (view -> click -> purchase): per "
    "user, the stage reached and exact step latencies, where each "
    "step's event must be the first one AFTER the previous step's "
    "event — the MATCH_RECOGNIZE shape. Distinct from e2_funnel, "
    "which counts on each step's GLOBAL first occurrence (the loose "
    "funnel): a click that precedes the first view advances e2 but "
    "not e12, and only e12 yields per-step conversion latencies. "
    "Expressed with three user-keyed conditional aggregations. Scale "
    "join and groupBy keys on user_id, so after the first exchange "
    "the stages are co-partitioned (no re-shuffle); the funnel "
    "relations are user-count-sized, orders smaller than the event "
    "log. All step arithmetic in integer epoch-MICROSECONDS on both "
    "engines — no float or timestamp-format portability surface.",
)
def e12_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    us = F.unix_micros("ts")
    base = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("v_us")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .join(base, "user_id")
        .filter(us > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min(us).alias("c_us"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(us > F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min(us).alias("p_us"))
    )
    return (
        base.join(clicks, "user_id", "left")
        .join(purchases, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("p_us").isNotNull(), 3)
            .when(F.col("c_us").isNotNull(), 2)
            .when(F.col("v_us").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("stage_reached"),
            (F.col("c_us") - F.col("v_us")).cast("long").alias("us_view_to_click"),
            (F.col("p_us") - F.col("c_us")).cast("long").alias("us_click_to_purchase"),
        )
    )


_HOURLY_CLOSE_CTE = f"""
ranked AS (
    SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, value,
           row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
    FROM events
), c AS (
    SELECT event_type, ws,
           max(CASE WHEN rn = 1 THEN value END) AS close
    FROM ranked GROUP BY 1, 2
)"""


@register(
    "e13_linear_interpolation",
    oracle=f"""
WITH {_HOURLY_CLOSE_CTE},
spans AS (
    SELECT event_type, min(ws) AS t0, max(ws) AS t1 FROM c GROUP BY 1
), grid AS (
    SELECT event_type, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ws
    FROM spans
), joined AS (
    SELECT g.event_type, g.ws, c.close, c.ws IS NULL AS is_gap
    FROM grid g LEFT JOIN c ON c.event_type = g.event_type AND c.ws = g.ws
), nav AS (
    SELECT event_type, ws, close, is_gap,
           last_value(close IGNORE NULLS) OVER wb AS prev_v,
           last_value(CASE WHEN close IS NOT NULL THEN ws END IGNORE NULLS)
               OVER wb AS prev_t,
           first_value(close IGNORE NULLS) OVER wf AS next_v,
           first_value(CASE WHEN close IS NOT NULL THEN ws END IGNORE NULLS)
               OVER wf AS next_t
    FROM joined
    WINDOW wb AS (PARTITION BY event_type ORDER BY ws
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wf AS (PARTITION BY event_type ORDER BY ws
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, strftime(ws, '{_FMT_DUCK}') AS window_start,
       round(CASE WHEN close IS NOT NULL THEN close
                  WHEN prev_t IS NULL THEN next_v
                  WHEN next_t IS NULL THEN prev_v
                  ELSE prev_v + (next_v - prev_v) *
                       (CAST(epoch_us(ws) - epoch_us(prev_t) AS DOUBLE) /
                        CAST(epoch_us(next_t) - epoch_us(prev_t) AS DOUBLE))
             END, 6) AS close_interp,
       is_gap
FROM nav
""",
    doc="Linear interpolation of gap buckets in the hourly close "
    "series (operators/resample.interpolate_linear): the dense "
    "per-key grid from gap_fill, with missing closes LERPed between "
    "the nearest known neighbours in time — the pandas "
    "interpolate(method='time') semantics, distinct from "
    "e4_gapfill_hourly's LOCF. Both the backward and forward known- "
    "neighbour scans are window expressions over one (key, ts) "
    "ordering, so the whole fill is a single Window operator over one "
    "exchange of grid-sized rows (span/step per key, independent of "
    "event count). The lerp fraction is computed over exact integer "
    "microseconds and the lerp operand order is mirrored verbatim in "
    "the oracle, so the IEEE doubles agree bit-for-bit before the "
    "shared round(6).",
)
def e13_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.resample import gap_fill, interpolate_linear

    ev = load_table(spark, sf_dir, "events")
    candles = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("ws")
    ).agg(F.max_by("value", F.struct(F.unix_micros("ts"), "event_id")).alias("close"))
    filled = gap_fill(candles, key_cols=["event_type"], ts_col="ws", step="1 hour")
    interp = interpolate_linear(
        filled, key_cols=["event_type"], ts_col="ws", value_col="close",
        out_col="close_interp",
    )
    return interp.select(
        "event_type",
        F.date_format("ws", _FMT).alias("window_start"),
        F.round("close_interp", 6).alias("close_interp"),
        "is_gap",
    )


def _e14_oracle() -> str:
    from kafka_flink_spark.operators.timeseries import ewma_oracle_sql

    expr = ewma_oracle_sql(
        "close", partition_by="event_type", order_by="ws", alpha=0.3, max_lags=48
    )
    return f"""
WITH {_HOURLY_CLOSE_CTE}
SELECT event_type, strftime(ws, '{_FMT_DUCK}') AS window_start,
       close, {expr} AS close_ewma
FROM c
"""


@register(
    "e14_ewma_smoothing",
    oracle=_e14_oracle(),
    doc="Truncated exponentially weighted moving average (pandas "
    "ewm(alpha=0.3, adjust=True) semantics, 48-lag truncation) of the "
    "hourly close per event_type — operators/timeseries.ewma. The "
    "exact recursive EWMA is either sequential per key or overflows "
    "double range under window rescaling; the truncated form is a "
    "fixed bank of 48 lag() expressions sharing ONE window spec, so "
    "the whole operator is a single Window node over a single "
    "exchange of aggregate-sized rows, with the weight arithmetic in "
    "codegen (the per-row loop is unrolled at plan build, never "
    "interpreted). Dropped-tail error < 0.7^48 ~ 3.8e-8, below the "
    "shared round(6). Weights and prefix-sum denominators are repr() "
    "round-trip literals consumed by BOTH engines, numerator terms "
    "sum left-to-right in lag order on both sides — bit-identical "
    "IEEE doubles before rounding.",
)
def e14_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.timeseries import ewma

    ev = load_table(spark, sf_dir, "events")
    candles = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("ws")
    ).agg(F.max_by("value", F.struct(F.unix_micros("ts"), "event_id")).alias("close"))
    out = ewma(
        candles, key_cols=["event_type"], order_col="ws", value_col="close",
        alpha=0.3, max_lags=48, out_col="close_ewma",
    )
    return out.select(
        "event_type",
        F.date_format("ws", _FMT).alias("window_start"),
        "close",
        "close_ewma",
    )


@register(
    "e15_attribution_touch",
    oracle="""
WITH ordered AS (
    SELECT event_id, user_id, ts, event_type,
           first_value(event_type) OVER w AS first_touch,
           last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                      IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, first_touch, last_touch
FROM ordered WHERE event_type = 'purchase'
""",
    doc="Marketing attribution (first-touch / last-touch): for every "
    "purchase, the user's FIRST event type ever (first-touch channel) "
    "and the latest non-purchase event type strictly before the "
    "purchase (last-touch; NULL when the purchase is the user's first "
    "action). Both attributions are window expressions over ONE "
    "(user, ts, event_id) ordering — a single Window operator over a "
    "single user-keyed exchange; the purchase filter runs after, "
    "preserving partitioning. Deterministic tie order (ts, event_id) "
    "on both engines.",
)
def e15_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_purchase = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    out = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.first("event_type").over(w).alias("first_touch"),
        F.last(non_purchase, ignorenulls=True).over(w_prev).alias("last_touch"),
    )
    return out.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "first_touch", "last_touch"
    )


@register(
    "e16_cep_followed_by",
    oracle="""
WITH nxt AS (
    SELECT event_id, user_id, ts, event_type,
           min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_purchase_us
    FROM events
)
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       CAST(next_purchase_us - epoch_us(ts) AS BIGINT) AS us_to_purchase,
       CAST(CASE WHEN next_purchase_us - epoch_us(ts) <= 3600000000
                 THEN 1 ELSE 0 END AS BIGINT) AS matched
FROM nxt
WHERE event_type = 'click'
""",
    doc="CEP followed-by pattern (Flink CEP's `begin('click')."
    "followedBy('purchase').within(1h)` — the event-pattern surface "
    "the reference's ecosystem advertises, re-expressed relationally): "
    "for EVERY click, the first purchase by the same user strictly "
    "after it in (ts, event_id) row order, with the exact latency and "
    "a within-1-hour match flag. One window function — min over the "
    "FOLLOWING frame of the purchase-only timestamp — so the whole "
    "pattern costs a single user-keyed exchange + per-partition sort; "
    "no self-join, no per-event scan-ahead. followedBy (skip "
    "intervening events) rather than next (strict adjacency); a "
    "not-followed-by guard is the same window with a NOT filter. "
    "Latency in integer microseconds on both engines; unmatched "
    "clicks keep NULL latency and matched=0.",
)
def e16_cep_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = ev.withColumn(
        "next_purchase_us",
        F.min(F.when(F.col("event_type") == "purchase", us)).over(w),
    )
    diff = F.col("next_purchase_us") - us
    return nxt.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        F.date_format("ts", _FMT).alias("click_ts"),
        diff.cast("long").alias("us_to_purchase"),
        F.when(diff <= F.lit(3_600_000_000), 1)
        .otherwise(0)
        .cast("long")
        .alias("matched"),
    )


@register(
    "e17_ab_test_welch",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           {duckdb_md5_long("CAST(user_id AS VARCHAR)")} % 2 AS variant,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
           coalesce(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(round(value * 100) AS BIGINT) END), 0)
               AS rev_c
    FROM events GROUP BY user_id
),
m AS (
    SELECT CAST(count(CASE WHEN variant = 0 THEN 1 END) AS BIGINT) AS n_a,
           CAST(count(CASE WHEN variant = 1 THEN 1 END) AS BIGINT) AS n_b,
           CAST(sum(CASE WHEN variant = 0 THEN converted END) AS BIGINT) AS conv_a,
           CAST(sum(CASE WHEN variant = 1 THEN converted END) AS BIGINT) AS conv_b,
           CAST(sum(CASE WHEN variant = 0 THEN rev_c END) AS DOUBLE) AS s_a,
           CAST(sum(CASE WHEN variant = 1 THEN rev_c END) AS DOUBLE) AS s_b,
           CAST(sum(CASE WHEN variant = 0 THEN rev_c * rev_c END) AS DOUBLE) AS q_a,
           CAST(sum(CASE WHEN variant = 1 THEN rev_c * rev_c END) AS DOUBLE) AS q_b
    FROM per_user
)
SELECT n_a, n_b, conv_a, conv_b,
       round(conv_a * 1.0 / n_a, 6) AS rate_a,
       round(conv_b * 1.0 / n_b, 6) AS rate_b,
       round(s_a / (n_a * 100.0), 6) AS mean_rev_a,
       round(s_b / (n_b * 100.0), 6) AS mean_rev_b,
       round((s_b / (n_b * 100.0) - s_a / (n_a * 100.0)) /
             sqrt(((q_a / 10000.0 - (s_a / 100.0) * (s_a / 100.0) / n_a)
                   / (n_a - 1)) / n_a +
                  ((q_b / 10000.0 - (s_b / 100.0) * (s_b / 100.0) / n_b)
                   / (n_b - 1)) / n_b), 6) AS welch_t
FROM m
""",
    doc="A/B experiment readout with a Welch two-sample t statistic: "
    "users deterministically split by an md5 hash bit (the portable "
    "hashing/bucketing primitive, functions/hashing.md5_long — the "
    "real-world assignment mechanism, robust to user_id assignment "
    "order unlike a modulo split), then per-variant conversion rates "
    "and per-user revenue mean/variance folded into ONE conditional "
    "aggregation over the per-user relation — no per-variant "
    "self-join, no second pass over the event log. welch_t = "
    "(mb-ma)/sqrt(va/na + vb/nb) with sample variances computed from "
    "EXACT integer-cent moment sums (sum rev_c, sum rev_c^2, n per "
    "variant — the w14 integer recipe generalized to second moments): "
    "the long sums are order-independent and the mean/variance/t "
    "doubles derive from them via an expression tree mirrored "
    "token-for-token in the oracle, so no round(avg|var(double)) "
    "boundary exists. Scale: one user-keyed exchange "
    "(partial-aggregable) + one scalar exchange.",
)
def e17_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    # Per-user revenue in EXACT integer cents (purchase values are
    # cents-quantized in the fixture): the moment sums below are then
    # order-independent long sums, and every double in the output is
    # derived from those exact integers by the same IEEE expression
    # tree as the oracle — retiring the round(avg(double)) /
    # round(var_samp(double)) cross-engine boundary class (w14).
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.round(F.col("value") * 100).cast("long"),
                    )
                ),
                F.lit(0).cast("long"),
            ).alias("rev_c"),
        )
        .withColumn("variant", md5_long(F.col("user_id").cast("string")) % 2)
    )
    a = F.col("variant") == 0
    b = F.col("variant") == 1
    m = per_user.agg(
        F.count(F.when(a, 1)).cast("long").alias("n_a"),
        F.count(F.when(b, 1)).cast("long").alias("n_b"),
        F.sum(F.when(a, F.col("converted"))).cast("long").alias("conv_a"),
        F.sum(F.when(b, F.col("converted"))).cast("long").alias("conv_b"),
        F.sum(F.when(a, F.col("rev_c"))).cast("double").alias("s_a"),
        F.sum(F.when(b, F.col("rev_c"))).cast("double").alias("s_b"),
        F.sum(F.when(a, F.col("rev_c") * F.col("rev_c"))).cast("double").alias("q_a"),
        F.sum(F.when(b, F.col("rev_c") * F.col("rev_c"))).cast("double").alias("q_b"),
    )
    # Welch t from the exact moments; expression tree mirrors the
    # oracle's token-for-token so each IEEE op matches bit-for-bit.
    var_a = (
        F.col("q_a") / 10000.0
        - (F.col("s_a") / 100.0) * (F.col("s_a") / 100.0) / F.col("n_a")
    ) / (F.col("n_a") - 1)
    var_b = (
        F.col("q_b") / 10000.0
        - (F.col("s_b") / 100.0) * (F.col("s_b") / 100.0) / F.col("n_b")
    ) / (F.col("n_b") - 1)
    mean_a = F.col("s_a") / (F.col("n_a") * 100.0)
    mean_b = F.col("s_b") / (F.col("n_b") * 100.0)
    return m.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(F.col("conv_a") * 1.0 / F.col("n_a"), 6).alias("rate_a"),
        F.round(F.col("conv_b") * 1.0 / F.col("n_b"), 6).alias("rate_b"),
        F.round(mean_a, 6).alias("mean_rev_a"),
        F.round(mean_b, 6).alias("mean_rev_b"),
        F.round(
            (mean_b - mean_a)
            / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b")),
            6,
        ).alias("welch_t"),
    )


_PSI_BIN = " + ".join(f"CAST(t.value > es[{i}] AS INT)" for i in range(1, 10))


@register(
    "qa3_psi_drift",
    oracle=f"""
WITH span AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events),
tagged AS (
    SELECT event_type, value,
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
    SELECT t.event_type, t.period,
           CAST(1 + {_PSI_BIN} AS BIGINT) AS bin
    FROM tagged t JOIN edges e ON t.event_type = e.event_type
),
counts AS (
    SELECT event_type, bin,
           count(CASE WHEN period = 0 THEN 1 END) AS c0,
           count(CASE WHEN period = 1 THEN 1 END) AS c1
    FROM binned GROUP BY 1, 2
),
spine AS (
    SELECT e.event_type, CAST(g.b AS BIGINT) AS bin
    FROM (SELECT event_type FROM edges) e, generate_series(1, 10) g(b)
),
filled AS (
    SELECT s.event_type, s.bin,
           coalesce(c.c0, 0) AS c0, coalesce(c.c1, 0) AS c1
    FROM spine s LEFT JOIN counts c
      ON c.event_type = s.event_type AND c.bin = s.bin
),
rated AS (
    SELECT *,
           sum(c0) OVER (PARTITION BY event_type) AS n0,
           sum(c1) OVER (PARTITION BY event_type) AS n1
    FROM filled
)
SELECT event_type,
       CAST(max(n0) AS BIGINT) AS n_ref,
       CAST(max(n1) AS BIGINT) AS n_cur,
       round(CAST(sum(CAST(round(((c1 + 0.5) / (n1 + 5.0) - (c0 + 0.5) / (n0 + 5.0))
                 * ln(((c1 + 0.5) / (n1 + 5.0)) / ((c0 + 0.5) / (n0 + 5.0)))
                 * 1000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000.0, 6)
           AS psi
FROM rated
GROUP BY event_type
""",
    doc="Population Stability Index drift monitor (the standard "
    "train/serving feature-drift check in ML observability): the "
    "event timeline is split at its midpoint into reference and "
    "current periods, the reference's per-event-type value deciles "
    "become broadcast bin edges (fe1's no-global-sort technique), "
    "both periods are binned by nine codegen comparisons, and "
    "PSI = sum((p_cur - p_ref) * ln(p_cur/p_ref)) over the 10 bins "
    "with +0.5 Laplace smoothing guarding empty bins. Drift triage "
    "reads: <0.1 stable, 0.1-0.25 moderate, >0.25 action. One fact "
    "scan feeds both the edge aggregate and the binning (edge "
    "relation is category-sized and broadcast); bin totals via a "
    "window over the 10-bins-per-type relation — nothing larger than "
    "(types x 10) past the first aggregation; the same plan at 100 TB "
    "swaps exact percentile for approx_percentile.",
)
def qa3_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "ts")
    us = F.unix_micros("ts")
    span = ev.agg(F.min(us).alias("lo"), F.max(us).alias("hi"))
    tagged = ev.crossJoin(F.broadcast(span)).select(
        "event_type",
        "value",
        F.when(us * 2 < F.col("lo") + F.col("hi"), 0).otherwise(1).alias("period"),
    )
    probs = F.array(*[F.lit(i / 10) for i in range(1, 10)])
    edges = (
        tagged.filter(F.col("period") == 0)
        .groupBy("event_type")
        .agg(F.percentile("value", probs).alias("es_raw"))
        .select(
            "event_type",
            F.transform(F.col("es_raw"), lambda e: F.round(e, 6)).alias("es"),
        )
    )
    bin_expr = F.lit(1)
    for i in range(9):
        bin_expr = bin_expr + (F.col("value") > F.col("es")[i]).cast("int")
    binned = tagged.join(F.broadcast(edges), "event_type").select(
        "event_type", "period", bin_expr.cast("long").alias("bin")
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.count(F.when(F.col("period") == 0, 1)).alias("c0"),
        F.count(F.when(F.col("period") == 1, 1)).alias("c1"),
    )
    spine = edges.select("event_type").crossJoin(
        F.broadcast(
            spark.range(1, 11).select(F.col("id").alias("bin"))
        )
    )
    filled = (
        spine.join(counts, ["event_type", "bin"], "left")
        .select(
            "event_type",
            "bin",
            F.coalesce("c0", F.lit(0)).alias("c0"),
            F.coalesce("c1", F.lit(0)).alias("c1"),
        )
    )
    w = Window.partitionBy("event_type")
    rated = filled.select(
        "event_type",
        "c0",
        "c1",
        F.sum("c0").over(w).alias("n0"),
        F.sum("c1").over(w).alias("n1"),
    )
    r0 = (F.col("c0") + 0.5) / (F.col("n0") + 5.0)
    r1 = (F.col("c1") + 0.5) / (F.col("n1") + 5.0)
    return rated.groupBy("event_type").agg(
        F.max("n0").cast("long").alias("n_ref"),
        F.max("n1").cast("long").alias("n_cur"),
        # per-bin terms nano-quantized to exact longs before the sum
        # (w14 recipe): the 10-term float sum is otherwise order- and
        # engine-dependent within an ulp of the 6-dp boundary
        F.round(
            F.sum(F.round((r1 - r0) * F.log(r1 / r0) * 1e9).cast("long")).cast(
                "double"
            )
            / 1e9,
            6,
        ).alias("psi"),
    )


@register(
    "e18_cusum_changepoint",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
    FROM events GROUP BY 1, 2
),
rng AS (
    SELECT event_type, min(day) AS mn, max(day) AS mx
    FROM daily GROUP BY event_type
),
stats AS (
    SELECT d.event_type,
           CAST(sum(d.n) AS DOUBLE) / count(*) AS mu,
           sqrt(greatest(CAST(sum(d.n * d.n) AS DOUBLE) / count(*)
                - (CAST(sum(d.n) AS DOUBLE) / count(*))
                  * (CAST(sum(d.n) AS DOUBLE) / count(*)), 0)) AS sigma
    FROM daily d JOIN rng r ON d.event_type = r.event_type
    WHERE date_diff('day', r.mn, d.day) * 2 <= date_diff('day', r.mn, r.mx)
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
    doc="CUSUM changepoint detection (Page 1954) on per-type daily "
    "event counts: two-sided cumulative sums against a reference "
    "mean/sigma learned from the first half of the timeline "
    "(allowance k = 0.5 sigma, threshold h = 4 sigma — the textbook "
    "tuning), flagging sustained level shifts that point anomalies "
    "(e10's MAD rule) miss. The sequential max(0, S+x) recursion is "
    "re-expressed in its closed prefix form S_d = C_d - min(0, "
    "min_{j<=d} C_j) (and the mirrored running-max for the downward "
    "side), so the whole detector is FOUR window aggregates sharing "
    "ONE (type, day) partitioning + sort — no recursion, no driver "
    "loop, no UDF. Reference stats use exact integer sums (variance "
    "from sum/sum-of-squares), and flags compare 6-dp-rounded values "
    "so both engines agree at the boundary. The corpus-sized pass is "
    "one map-side-partial daily count; everything after runs on the "
    "days-by-types relation.",
)
def e18_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    rng = daily.groupBy("event_type").agg(
        F.min("day").alias("mn"), F.max("day").alias("mx")
    )
    sn = F.sum("n").cast("double")
    cnt = F.count(F.lit(1))
    mu = sn / cnt
    stats = (
        daily.join(F.broadcast(rng), "event_type")
        .filter(F.datediff("day", "mn") * 2 <= F.datediff("mx", "mn"))
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
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.join(F.broadcast(stats), "event_type").select(
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
    "e19_seasonal_decompose",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
    FROM events GROUP BY 1, 2
),
roll AS (
    SELECT event_type, day, n,
           CAST(EXTRACT(dow FROM day) AS BIGINT) AS weekday,
           sum(n) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7,
           count(*) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS cnt7
    FROM daily
),
det AS (
    SELECT *, CASE WHEN cnt7 = 7 THEN 7 * n - sum7 END AS num
    FROM roll
),
seas AS (
    SELECT event_type, weekday,
           sum(num) AS s_num, count(num) AS s_cnt
    FROM det WHERE num IS NOT NULL GROUP BY 1, 2
)
SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.weekday,
       CAST(d.n AS BIGINT) AS n,
       round(CASE WHEN d.cnt7 = 7 THEN d.sum7 / 7.0 END, 6) AS trend,
       round(CASE WHEN s.s_cnt > 0 THEN s.s_num / (7.0 * s.s_cnt) END, 6)
           AS seasonal,
       round(CASE WHEN d.num IS NOT NULL AND s.s_cnt > 0
                  THEN (d.num * s.s_cnt - s.s_num) / (7.0 * s.s_cnt) END, 6)
           AS remainder
FROM det d LEFT JOIN seas s
  ON d.event_type = s.event_type AND d.weekday = s.weekday
""",
    doc="Classical additive seasonal decomposition (the "
    "statsmodels seasonal_decompose shape, Hyndman FPP ch. 3) of "
    "per-type daily event counts: trend = centered 7-day rolling "
    "mean (defined only on full windows, like the textbook), "
    "seasonal = per-weekday mean of the detrended series, remainder "
    "= what's left — the decomposition every ops dashboard runs "
    "before alerting on 'weekend dips'. Engine-exact by "
    "construction: the detrended value is carried as the INTEGER "
    "numerator 7n - sum7 and the seasonal/remainder terms divide "
    "integer sums exactly once, so no float accumulates across rows "
    "in either engine (the e5/e17 integer-moments discipline). One "
    "(type, day) window sort serves the rolling sums; the seasonal "
    "profile is a weekdays-by-types relation joined back broadcast. "
    "Weekday convention: 0 = Sunday on both engines (Spark "
    "dayofweek-1 = DuckDB EXTRACT(dow)).",
)
def e19_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    det = daily.select(
        "event_type",
        "day",
        "n",
        (F.dayofweek("day") - 1).cast("long").alias("weekday"),
        F.sum("n").over(w7).alias("sum7"),
        F.count(F.lit(1)).over(w7).alias("cnt7"),
    ).withColumn(
        "num", F.when(F.col("cnt7") == 7, 7 * F.col("n") - F.col("sum7"))
    )
    seas = (
        det.filter(F.col("num").isNotNull())
        .groupBy("event_type", "weekday")
        .agg(F.sum("num").alias("s_num"), F.count("num").alias("s_cnt"))
    )
    return det.join(F.broadcast(seas), ["event_type", "weekday"], "left").select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "weekday",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.when(F.col("cnt7") == 7, F.col("sum7") / 7.0), 6
        ).alias("trend"),
        F.round(
            F.when(F.col("s_cnt") > 0, F.col("s_num") / (7.0 * F.col("s_cnt"))), 6
        ).alias("seasonal"),
        F.round(
            F.when(
                F.col("num").isNotNull() & (F.col("s_cnt") > 0),
                (F.col("num") * F.col("s_cnt") - F.col("s_num"))
                / (7.0 * F.col("s_cnt")),
            ),
            6,
        ).alias("remainder"),
    )


@register(
    "e20_survival_km",
    oracle="""
WITH endp AS (SELECT max(o_orderdate) AS endd FROM orders),
cust AS (
    SELECT o_custkey,
           min(o_orderdate) AS first_ts,
           max(o_orderdate) AS last_ts
    FROM orders GROUP BY o_custkey
),
obs AS (
    SELECT c.o_custkey,
           CASE WHEN date_diff('day', c.last_ts, e.endd) > 90
                THEN date_diff('day', c.first_ts, c.last_ts)
                ELSE date_diff('day', c.first_ts, e.endd) END AS dur,
           CASE WHEN date_diff('day', c.last_ts, e.endd) > 90
                THEN 1 ELSE 0 END AS is_event
    FROM cust c, endp e
),
per_t AS (
    SELECT dur AS t, count(*) AS n_at, sum(is_event) AS d
    FROM obs GROUP BY dur
),
risk AS (
    SELECT t, d,
           sum(n_at) OVER (ORDER BY t DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS n_risk
    FROM per_t
),
km AS (
    SELECT t, d, n_risk,
           exp(sum(ln(1.0 - CAST(d AS DOUBLE) / n_risk))
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)) AS surv
    FROM risk WHERE d > 0
)
SELECT CAST(t AS BIGINT) AS t_days,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS n_events,
       round(CAST(d AS DOUBLE) / n_risk, 6) AS hazard,
       round(surv, 6) AS survival
FROM km
""",
    doc="Kaplan-Meier churn survival (Kaplan & Meier 1958): customer "
    "lifetime = first-to-last order span, churn event when the last "
    "order predates the corpus clock by > 90 days, still-active "
    "customers right-CENSORED at the observation end — the censoring "
    "handling is what separates KM from a naive lifetime histogram "
    "(censored customers stay in every risk set they survived "
    "through). Risk sets are an exact integer reverse-cumulative sum "
    "over distinct lifetimes (one window, no per-customer join); the "
    "survival curve is the KM product over event times, computed as "
    "exp(sum(ln(1-d/n))) — the qa3/e17 precedent for transcendental "
    "use, absorbed at 6 dp. Per-event-time output: risk set, events, "
    "hazard, S(t). Scale shape: ONE (custkey) aggregation off the "
    "orders scan; everything after runs on the distinct-lifetimes "
    "relation (days-sized).",
)
def e20_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    endp = o.agg(F.max("o_orderdate").alias("endd"))
    cust = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_ts"),
        F.max("o_orderdate").alias("last_ts"),
    )
    gap = F.datediff("endd", "last_ts")
    obs = cust.crossJoin(F.broadcast(endp)).select(
        F.when(gap > 90, F.datediff("last_ts", "first_ts"))
        .otherwise(F.datediff("endd", "first_ts"))
        .alias("dur"),
        F.when(gap > 90, F.lit(1)).otherwise(F.lit(0)).alias("is_event"),
    )
    per_t = obs.groupBy(F.col("dur").alias("t")).agg(
        F.count("*").alias("n_at"), F.sum("is_event").alias("d")
    )
    w_desc = (
        Window.orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = per_t.select(
        "t", "d", F.sum("n_at").over(w_desc).alias("n_risk")
    )
    w_asc = (
        Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    km = risk.filter(F.col("d") > 0).select(
        "t",
        "d",
        "n_risk",
        F.exp(
            F.sum(F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))).over(
                w_asc
            )
        ).alias("surv"),
    )
    return km.select(
        F.col("t").cast("long").alias("t_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.round(F.col("d").cast("double") / F.col("n_risk"), 6).alias("hazard"),
        F.round("surv", 6).alias("survival"),
    )


@register(
    "e21_top_paths",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_us
    FROM events
), flagged AS (
    SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= {_GAP_US}
                   THEN 1 ELSE 0 END AS new_session
    FROM ordered
), numbered AS (
    SELECT user_id, event_type, ts, event_id,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM flagged
), ranked AS (
    SELECT user_id, session_no, event_type,
           row_number() OVER (PARTITION BY user_id, session_no
                              ORDER BY ts, event_id) AS rn
    FROM numbered
), paths AS (
    SELECT user_id, session_no,
           string_agg(event_type, '>' ORDER BY rn) AS path
    FROM ranked WHERE rn <= 5
    GROUP BY user_id, session_no
)
SELECT path,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
""",
    doc="Top navigation paths (the product-analytics 'user flows' "
    "report): sessions from e1's 6h-gap rule, each session reduced "
    "to its first five event types in order, and the 20 most common "
    "paths with session and distinct-user counts. Ordered string "
    "assembly uses rank-then-sorted-aggregate (the g21 bounded-group "
    "discipline: paths cap at 5 elements, so the per-session "
    "collect is constant-size). One user-keyed exchange serves the "
    "sessionize windows AND the per-session rank; the path relation "
    "exchanges once more on (user, session) and once on the path "
    "string; top-20 is TakeOrderedAndProject.",
)
def e21_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", F.unix_micros("ts").alias("us"), "event_id", "event_type"
    )
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("us").over(by_user).isNull()
            | (F.col("us") - F.lag("us").over(by_user) >= _GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    numbered = flagged.withColumn("session_no", F.sum("new_session").over(run))
    by_sess = Window.partitionBy("user_id", "session_no").orderBy("ts", "event_id")
    ranked = numbered.withColumn("rn", F.row_number().over(by_sess)).filter(
        F.col("rn") <= 5
    )
    paths = ranked.groupBy("user_id", "session_no").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


@register(
    "e22_holt_forecast",
    oracle="""
WITH RECURSIVE daily AS (
    SELECT event_type,
           CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
           CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
ord AS (
    SELECT event_type, d, x, x * 1000000000000 AS xs,
           row_number() OVER (PARTITION BY event_type ORDER BY d) AS t,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM daily
),
second AS (SELECT event_type, xs AS xs2 FROM ord WHERE t = 2),
rec AS (
    SELECT o.event_type, o.d, o.t, o.x,
           o.xs AS level,
           CASE WHEN o.n >= 2 THEN s.xs2 - o.xs ELSE CAST(0 AS BIGINT) END AS trend
    FROM ord o LEFT JOIN second s USING (event_type) WHERE o.t = 1
    UNION ALL
    SELECT o.event_type, o.d, o.t, o.x,
           (o.xs + r.level + r.trend) >> 1 AS level,
           (((o.xs + r.level + r.trend) >> 1) - r.level + r.trend) >> 1 AS trend
    FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.t = r.t + 1
)
SELECT event_type, d, x, level AS level_e12, trend AS trend_e12,
       level + trend AS forecast_next_e12
FROM rec
""",
    doc="Holt linear-trend double exponential smoothing over the "
    "daily event count per type (operators/timeseries.holt_linear) — "
    "the FORECASTING member of the time-series family (e13 "
    "interpolation, e14 EWMA level, e18 changepoint, e19 seasonal "
    "decomposition): level + trend state with alpha=beta=1/2 and the "
    "one-step-ahead forecast L_t + B_t per day, in INTEGER fixed "
    "point (scaled longs, arithmetic-shift halving — floors "
    "identically in Python and BIGINT `>>`, so every step is "
    "bit-reproducible and the recursive-CTE oracle hash-matches; a "
    "float draft with exact-dyadic 0.5 multiplies failed in the 6th "
    "decimal because dyadic values sit exactly ON round-half "
    "boundaries, where banker's and half-away rounding disagree). "
    "The TRUE coupled recursion (no closed form; e14's truncated "
    "lag-bank trick loses the trend state), run per key over "
    "AGGREGATE-sized rows in applyInPandas after the corpus-scale "
    "daily aggregation — Python never touches events, each key's "
    "series is one task, keys parallelize.",
)
def e22_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.timeseries import holt_linear

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.count("*").cast("long").alias("x"))
    return holt_linear(daily, key_col="event_type", x_col="x", t_col="d")


@register(
    "e23_holt_winters_forecast",
    oracle="""
WITH RECURSIVE daily AS (
    SELECT event_type,
           CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
           CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
ord AS (
    SELECT event_type, d, x, x * 1000000000000 AS xs,
           row_number() OVER (PARTITION BY event_type ORDER BY d) AS t,
           count(*) OVER (PARTITION BY event_type) AS n,
           first_value(x * 1000000000000) OVER (
               PARTITION BY event_type ORDER BY d) AS x1
    FROM daily
),
init AS (
    SELECT event_type,
           CAST(7 AS BIGINT) AS t,
           any_value(x1) AS level,
           CAST(0 AS BIGINT) AS trend,
           list(xs - x1 ORDER BY t) AS seas
    FROM ord WHERE t <= 7 AND n > 7
    GROUP BY event_type HAVING count(*) = 7
),
rec AS (
    SELECT event_type, t, level, trend, seas,
           CAST(NULL AS BIGINT) AS d, CAST(NULL AS BIGINT) AS x,
           CAST(NULL AS BIGINT) AS s_new
    FROM init
    UNION ALL
    SELECT o.event_type, o.t,
           ((o.xs - r.seas[1]) + r.level + r.trend) >> 1 AS level,
           (((((o.xs - r.seas[1]) + r.level + r.trend) >> 1) - r.level)
               + r.trend) >> 1 AS trend,
           list_append(
               r.seas[2:7],
               ((o.xs - (((o.xs - r.seas[1]) + r.level + r.trend) >> 1))
                   + r.seas[1]) >> 1) AS seas,
           o.d, o.x,
           ((o.xs - (((o.xs - r.seas[1]) + r.level + r.trend) >> 1))
               + r.seas[1]) >> 1 AS s_new
    FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.t = r.t + 1
)
SELECT event_type, d, x,
       level AS level_e12, trend AS trend_e12,
       s_new AS seasonal_e12,
       level + trend + seas[1] AS forecast_next_e12
FROM rec WHERE t > 7
""",
    doc="Holt-Winters ADDITIVE triple exponential smoothing over the "
    "daily event count per type (operators/timeseries.holt_winters) "
    "- e22's level+trend recursion plus a ROTATING 7-day seasonal "
    "index (weekly-periodic daily series are exactly what plain Holt "
    "mis-extrapolates), alpha=beta=gamma=1/2, all in integer fixed "
    "point: every halving is the arithmetic right shift, which "
    "floors identically in Python and BIGINT >> INCLUDING negative "
    "seasonal deviations, so the whole triple recursion is "
    "bit-reproducible. Shift-only naive init from the first week (no "
    "division - no cross-engine floor trap); rows emit from day 8 "
    "per key. Oracle: recursive CTE whose row state carries the 7 "
    "seasonal values as a LIST rotated with list_append(seas[2:7], "
    "s_t) each step - the first list-valued recursion state in the "
    "suite. Same scale shape as e22: sequential per key over "
    "AGGREGATE-sized rows in applyInPandas; Python never touches "
    "events.",
)
def e23_holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.timeseries import holt_winters

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.count("*").cast("long").alias("x"))
    return holt_winters(daily, key_col="event_type", x_col="x", t_col="d")
