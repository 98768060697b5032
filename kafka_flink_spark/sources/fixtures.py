"""Batch fixture sources: the driver-generated parquet tables.

Also derives the reference-shaped ``trades`` view from ``events``
(FIXTURES.md role mapping): ``event_type`` plays ``product``,
``value`` plays ``price``, ``user_id`` plays ``instrument_id``, and
``get_json_object(props, '$.k')`` supplies ``qty`` — so OHLCV parity
tests read exactly like the reference's 5-field trade schema
(reference ``3_ohlc.py:28``).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_flink_spark.schemas import FIXTURE_TABLES

# Per-session relation cache: building a parquet relation costs a
# driver round-trip (listing + footer schema, ~80-100 ms) on every
# spark.read call; the fixture tables are immutable, so each (sf_dir,
# table) relation is built once per session and its (immutable,
# lazily-planned) DataFrame reused. WeakKeyDictionary keys on the live
# session object, so a stopped session's cache entries die with it
# instead of false-hitting a recycled id().
_RELATION_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def scratch_dir(prefix: str) -> str:
    """A temp directory that lives until process exit (atexit cleanup)
    instead of being deleted inside the query that created it.

    The pin-then-delete pattern (cache() + count(), then rmtree in a
    finally) is fragile: a cached partition evicted or lost after the
    delete recomputes from files that no longer exist. Letting the
    scratch outlive the returned DataFrame makes re-evaluation safe;
    disk is reclaimed when the process ends.

    LOCAL-MODE ASSUMPTION: executors and driver share one filesystem,
    so executor-written files are visible to a subsequent read. On a
    real cluster these paths must be on shared storage (object store /
    DFS) — pass such a URI instead of a driver-local tempdir.
    """
    import atexit
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    return tmp


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a plain TIMESTAMP column regardless of
    how the fixture was written:

    * TIMESTAMP(NANOS) parquet + ``spark.sql.legacy.parquet.nanosAsLong``
      → arrives as LONG nanos; exact integer division (``div 1000`` → µs,
      truncating like DuckDB/Arrow do).
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) → arrives as
      TIMESTAMP_NTZ; cast to TIMESTAMP is value-identical because the
      engine pins ``spark.sql.session.timeZone`` to UTC (session.py),
      and it restores the full scalar surface (unix_micros etc.).
    * plain TIMESTAMP → untouched.
    """
    t = df.schema["ts"].dataType
    if isinstance(t, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(t, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Column pruning and filter pushdown are
    Catalyst's job — callers express projections/filters declaratively
    and they reach the parquet reader (verified in plans tests).

    ``events.ts`` is normalized to TIMESTAMP at the source wrapper
    (see ``_normalize_event_ts``) so every downstream query sees one
    type whichever parquet precision the fixture generation used.
    """
    cache = _RELATION_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    df = cache.get(key)
    if df is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            df = _normalize_event_ts(df)
        cache[key] = df
    return df


def stream_events_raw(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming scan of the events fixture with ``ts`` normalized to
    TIMESTAMP — the one place that knows the fixture's on-disk ts
    encoding. FileStreamSource needs an explicit schema, so the batch
    footer schema (one cached driver round-trip via ``load_table``'s
    raw read) decides which declared schema + conversion applies.
    """
    raw_t = spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
    ts_decl = {
        T.LongType: "long",
        T.TimestampNTZType: "timestamp_ntz",
    }.get(type(raw_t), "timestamp")
    reader = spark.readStream.schema(
        f"event_id long, ts {ts_decl}, user_id long, event_type string, "
        "value double, props string"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    # FileStreamSource wants a directory; select just the events table
    # out of the fixture dir with a glob filter.
    events = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    return _normalize_event_ts(events)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = FIXTURE_TABLES
) -> dict[str, DataFrame]:
    """Load fixture tables and register each as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def _trades(events: DataFrame) -> DataFrame:
    """The events → trades projection (batch or streaming ``events``).

    Columns: ts TIMESTAMP, instrument_id STRING, product STRING,
    price DOUBLE, qty LONG, seq LONG (monotonic tie-break, the Spark
    re-expression of the reference's arrival-order dependence —
    SURVEY.md §7.4.4).
    """
    return events.select(
        F.col("ts"),
        F.concat(F.lit("Instrument_"), F.col("user_id")).alias("instrument_id"),
        F.col("event_type").alias("product"),
        F.col("value").alias("price"),
        F.get_json_object("props", "$.k").cast("long").alias("qty"),
        F.col("event_id").alias("seq"),
    )


def trades_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A1-shaped trade stream derived from ``events`` (see
    :func:`_trades` for the columns)."""
    return _trades(load_table(spark, sf_dir, "events"))


# DuckDB-side equivalent of trades_view, for composing oracle SQL.
TRADES_ORACLE_CTE = """
trades AS (
    SELECT ts,
           'Instrument_' || CAST(user_id AS VARCHAR) AS instrument_id,
           event_type AS product,
           value AS price,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS qty,
           event_id AS seq
    FROM events
)
"""
