"""Time-grid gap-fill (resample) for windowed aggregates.

A tumbling-window group-by (``operators/candles.py``) emits rows only
for buckets that contain events — a chart or downstream model joining
on time needs the *dense* series, with empty buckets carried forward.
The reference never solves this (its hand-rolled windows simply skip
silent minutes, ``7_ohlc.py:67-71``); real OHLCV consumers need it, so
the engine ships it as a first-class operator.

Spark-first design
------------------
* The per-key time grid is generated **distributed**: one
  ``min/max`` aggregate per key (map-side combinable), then
  ``explode(sequence(t0, t1, step))`` — no driver-side date loop, no
  ``collect()``. A key's grid lives in that key's partition.
* The grid→candles join is an equi-join on ``(key, bucket)`` and the
  forward-fill window partitions by ``key`` — Catalyst reuses one hash
  partitioning on ``key`` for both, so the whole fill costs a single
  shuffle of the (already aggregated, result-sized) candle rows, never
  of the raw events.
* Forward-fill is ``last(col, ignorenulls=True)`` over
  ``ROWS UNBOUNDED PRECEDING`` — the standard distributed LOCF plan.
  Grid length per key is bounded by span/step, independent of event
  count, so a 100 TB event table with a 1-year span still yields only
  8 760 hourly grid rows per key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_flink_spark.operators.iterative import pin

_PRESENT = "_gapfill_present"


def time_grid(
    aggregated: DataFrame, key_cols: Sequence[str], ts_col: str, step: str
) -> DataFrame:
    """Dense per-key grid of bucket timestamps from each key's min to
    max bucket, spaced ``step`` (e.g. ``"1 hour"``) apart."""
    keys = list(key_cols)
    span = aggregated.groupBy(*keys).agg(
        F.min(ts_col).alias("_t0"), F.max(ts_col).alias("_t1")
    )
    return span.select(
        *keys,
        F.explode(F.sequence("_t0", "_t1", F.expr(f"INTERVAL {step}"))).alias(ts_col),
    )


def gap_fill(
    aggregated: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    step: str,
    fill_forward: Sequence[str] = (),
    zero_fill: Sequence[str] = (),
    gap_flag: str = "is_gap",
) -> DataFrame:
    """Left-join ``aggregated`` onto its dense time grid; carry
    ``fill_forward`` columns forward (LOCF), replace nulls in
    ``zero_fill`` columns with 0, and flag synthesized rows in
    ``gap_flag``."""
    keys = list(key_cols)
    # ``aggregated`` is consumed from TWO plan positions (the span agg
    # feeding the grid, and the join probe); exchange reuse across the
    # two is not guaranteed, so without a pin the upstream plan — at
    # 100 TB, the raw-table scan + aggregation — executes twice. The
    # relation is result-sized (one row per key×bucket), so pinning it
    # is cheap and bounds the expensive upstream to exactly one run.
    aggregated = pin(aggregated)
    marked = aggregated.withColumn(_PRESENT, F.lit(True))
    filled = time_grid(aggregated, keys, ts_col, step).join(
        marked, on=[*keys, ts_col], how="left"
    )
    locf = (
        Window.partitionBy(*keys)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in fill_forward:
        filled = filled.withColumn(c, F.last(c, ignorenulls=True).over(locf))
    for c in zero_fill:
        filled = filled.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return filled.withColumn(gap_flag, F.col(_PRESENT).isNull()).drop(_PRESENT)


def interpolate_linear(
    filled: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Linear interpolation of NULL gaps in ``value_col`` between the
    nearest known neighbours (pandas ``interpolate(method="time")``
    semantics): a gap row at time ``t`` between known points
    ``(t0, v0)`` and ``(t1, v1)`` gets ``v0 + (v1-v0)·(t-t0)/(t1-t0)``.
    Leading gaps take the first known value (backfill), trailing gaps
    the last (forward-fill). Known rows pass through untouched.

    Distinct from :func:`gap_fill`'s LOCF: LOCF repeats the last close
    through a quiet period (right for "price still holds"); linear
    interpolation is the standard treatment for sensor/metric series
    where the quantity moves continuously through the gap.

    Plan shape: both the backward (last known preceding) and forward
    (first known following) scans are window expressions over the SAME
    ``(key, ts)`` partitioning/ordering, so Catalyst plans them into a
    single Window operator fed by one exchange+sort of grid-sized rows
    (span/step per key, independent of raw event count) — the same
    single-shuffle bound as gap_fill. No Python, no HOF lambdas; the
    lerp arithmetic is pure codegen."""
    keys = list(key_cols)
    back = (
        Window.partitionBy(*keys)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy(*keys)
        .orderBy(ts_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    known_ts = F.when(v.isNotNull(), F.col(ts_col))
    prev_v = F.last(value_col, ignorenulls=True).over(back)
    prev_t = F.last(known_ts, ignorenulls=True).over(back)
    next_v = F.first(value_col, ignorenulls=True).over(fwd)
    next_t = F.first(known_ts, ignorenulls=True).over(fwd)
    # (t - t0) / (t1 - t0) over exact integer microseconds; the lerp is
    # written prev + (next - prev) * frac so the oracle can mirror the
    # identical IEEE operand order.
    frac = (
        (F.unix_micros(F.col(ts_col)) - F.unix_micros(prev_t)).cast("double")
        / (F.unix_micros(next_t) - F.unix_micros(prev_t)).cast("double")
    )
    lerp = prev_v + (next_v - prev_v) * frac
    out = (
        F.when(v.isNotNull(), v)
        .when(prev_t.isNull(), next_v)  # leading gap: backfill
        .when(next_t.isNull(), prev_v)  # trailing gap: forward-fill
        .otherwise(lerp)
    )
    return filled.withColumn(out_col or value_col, out)
