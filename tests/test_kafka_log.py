"""S2/S3 start-position semantics, executed for real against the
file-backed Kafka-shaped log (sources/kafka_log.py): earliest reads
the whole log, latest skips what exists at first start and picks up
only post-start appends, checkpoints win over the start position on
restart, and batch offset-range reads replay bit-exactly."""

from __future__ import annotations

import json
import tempfile

from pyspark.sql import functions as F

from kafka_flink_spark.sources.kafka_log import (
    append_segment,
    end_offset,
    register_kafka_log,
    write_trade_log,
)


def _append_json(path: str, lo: int, hi: int) -> None:
    append_segment(
        path, [json.dumps({"n": i}, separators=(",", ":")) for i in range(lo, hi)]
    )


def _run_available_now(spark, path: str, ckpt: str, out: str, starting: str) -> None:
    stream = (
        spark.readStream.format("kafka_log")
        .option("path", path)
        .option("startingOffsets", starting)
        .load()
    )

    def write_batch(batch, batch_id):
        batch.write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_earliest_reads_whole_log_and_offsets_are_global(spark):
    register_kafka_log(spark)
    with tempfile.TemporaryDirectory(prefix="klog_") as tmp:
        log, ckpt, out = f"{tmp}/log", f"{tmp}/ckpt", f"{tmp}/out"
        _append_json(log, 0, 10)
        _append_json(log, 10, 15)
        assert end_offset(log) == 15

        _run_available_now(spark, log, ckpt, out, "earliest")
        rows = sorted(
            spark.read.parquet(out).select("offset", "value").collect(),
            key=lambda r: r.offset,
        )
        assert [r.offset for r in rows] == list(range(15))
        assert json.loads(rows[12].value) == {"n": 12}


def test_latest_skips_existing_then_reads_only_appends(spark):
    register_kafka_log(spark)
    with tempfile.TemporaryDirectory(prefix="klog_") as tmp:
        log, ckpt, out = f"{tmp}/log", f"{tmp}/ckpt", f"{tmp}/out"
        _append_json(log, 0, 10)

        # First start with latest: the 10 pre-existing records are
        # skipped — nothing to read, no output files.
        _run_available_now(spark, log, ckpt, out, "latest")
        import os

        if os.path.isdir(out):  # batch 0 may write an empty part file
            n = (
                spark.read.schema("partition int, offset long, value string")
                .parquet(out)
                .count()
            )
            assert n == 0, "latest must not read pre-existing records"

        # Append after the stream has established its start position;
        # restart from the SAME checkpoint: only the appends arrive
        # (the checkpointed offset wins — Kafka-connector contract).
        _append_json(log, 10, 14)
        _run_available_now(spark, log, ckpt, out, "latest")
        offs = sorted(r.offset for r in spark.read.parquet(out).collect())
        assert offs == [10, 11, 12, 13]


def test_checkpoint_beats_start_position_on_restart(spark):
    register_kafka_log(spark)
    with tempfile.TemporaryDirectory(prefix="klog_") as tmp:
        log, ckpt, out = f"{tmp}/log", f"{tmp}/ckpt", f"{tmp}/out"
        _append_json(log, 0, 6)
        _run_available_now(spark, log, ckpt, out, "earliest")
        _append_json(log, 6, 9)
        # Restart configured latest — but the checkpoint holds offset 6,
        # so the 3 appended records (not 0) arrive exactly once.
        _run_available_now(spark, log, ckpt, out, "latest")
        offs = sorted(r.offset for r in spark.read.parquet(out).collect())
        assert offs == list(range(9))


def test_batch_offset_range_read_is_exact(spark):
    register_kafka_log(spark)
    with tempfile.TemporaryDirectory(prefix="klog_") as tmp:
        log = f"{tmp}/log"
        for base in range(0, 20, 4):  # 5 segments of 4
            _append_json(log, base, base + 4)

        df = (
            spark.read.format("kafka_log")
            .option("path", log)
            .option("startingOffset", "3")
            .option("endingOffset", "17")
            .load()
        )
        rows = sorted(df.collect(), key=lambda r: r.offset)
        assert [r.offset for r in rows] == list(range(3, 17))
        assert [json.loads(r.value)["n"] for r in rows] == list(range(3, 17))
        # planning: one split per overlapping segment (offsets 3..16
        # touch segments 0,4,8,12,16 → 5 splits)
        assert df.rdd.getNumPartitions() == 5


def test_trade_log_roundtrips_generator_recipe(spark):
    register_kafka_log(spark)
    with tempfile.TemporaryDirectory(prefix="klog_") as tmp:
        log = f"{tmp}/log"
        write_trade_log(log, 100, segment_rows=30)
        assert end_offset(log) == 100

        df = (
            spark.read.format("kafka_log")
            .option("path", log)
            .load()
            .select(
                "offset",
                F.from_json(
                    "value",
                    "seq long, ts_ms long, instrument_id string, "
                    "product string, price double, qty long",
                ).alias("r"),
            )
        )
        rows = df.select("offset", "r.*").orderBy("offset").collect()
        from kafka_flink_spark.sources.trade_gen import trade_row

        for r in rows:
            assert r.offset == r.seq
            assert tuple(r)[1:] == trade_row(r.seq, 2000, 100)


def test_e2e_producer_log_to_streaming_ohlcv(spark):
    """The reference's flagship pipeline end-to-end, broker-free:
    producer log (old/gen.py recipe) → JSON envelope decode
    (JsonRowDeserializationSchema) → watermarked tumbling OHLCV
    (3_ohlc.py) — and the streamed candles equal the batch candles
    over the same records (the Structured Streaming equivalence)."""
    from pyspark.sql import types as T

    from kafka_flink_spark.operators.candles import ohlcv
    from kafka_flink_spark.sources.kafka_io import decode_json_envelope
    from kafka_flink_spark.streaming.candles_stream import (
        ohlcv_stream,
        run_available_now,
    )

    wire_schema = T.StructType(
        [
            T.StructField("seq", T.LongType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("instrument_id", T.StringType()),
            T.StructField("product", T.StringType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("qty", T.LongType()),
        ]
    )

    def to_trades(wire):
        return decode_json_envelope(wire, wire_schema).select(
            F.timestamp_millis("ts_ms").alias("ts"), "product", "price", "qty", "seq"
        )

    register_kafka_log(spark)
    with tempfile.TemporaryDirectory(prefix="klog_e2e_") as tmp:
        log = f"{tmp}/topic"
        write_trade_log(log, 3000, segment_rows=1000)

        stream = (
            spark.readStream.format("kafka_log")
            .option("path", log)
            .option("startingOffsets", "earliest")
            .load()
        )
        streamed = run_available_now(
            ohlcv_stream(to_trades(stream), "1 minute"), "update"
        )

        batch_wire = spark.read.format("kafka_log").option("path", log).load()
        expected = ohlcv(to_trades(batch_wire), "1 minute", seq_col="seq")

        key = lambda r: (r.window_start, r.product)
        got = sorted(streamed.collect(), key=key)
        want = sorted(expected.collect(), key=key)
        assert len(got) == len(want) > 0
        assert got == want


def test_multi_partition_topic_parallel_read(spark):
    """Kafka-partitioned layout (partition=N dirs): per-partition
    offset dicts, one executor split per advancing partition per
    micro-batch, and the (partition, offset) -> seq round-robin
    mapping of write_trade_log holds exactly."""
    from kafka_flink_spark.sources.trade_gen import trade_row

    register_kafka_log(spark)
    with tempfile.TemporaryDirectory(prefix="klog_mp_") as tmp:
        log, ckpt, out = f"{tmp}/topic", f"{tmp}/ckpt", f"{tmp}/out"
        write_trade_log(log, 1000, segment_rows=200, n_partitions=4)
        for pid in range(4):
            assert end_offset(f"{log}/partition={pid}") == 250

        # Streaming: each micro-batch plans one split per partition —
        # capture the task parallelism from inside foreachBatch.
        n_splits = []

        stream = (
            spark.readStream.format("kafka_log")
            .option("path", log)
            .option("startingOffsets", "earliest")
            .load()
        )

        def write_batch(batch, batch_id):
            n_splits.append(batch.rdd.getNumPartitions())
            batch.write.mode("append").parquet(out)

        q = (
            stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert n_splits and n_splits[0] == 4, n_splits

        rows = spark.read.parquet(out).collect()
        assert len(rows) == 1000
        for r in rows[:50]:
            seq = r.offset * 4 + r.partition
            rec = json.loads(r.value)
            assert rec["seq"] == seq
            assert rec["product"] == trade_row(seq, 2000, 100)[3]

        # Batch path over the same partitioned topic: per-partition
        # JSON offset dict restricts each partition independently.
        df = (
            spark.read.format("kafka_log")
            .option("path", log)
            .option("startingOffset", '{"0": 240, "2": 245}')
            .load()
        )
        got = {(r.partition, r.offset) for r in df.collect()}
        want = (
            {(0, o) for o in range(240, 250)}
            | {(1, o) for o in range(250)}
            | {(2, o) for o in range(245, 250)}
            | {(3, o) for o in range(250)}
        )
        assert got == want


def test_read_range_skips_segments_below_range():
    """A tailing reader must not OPEN history segments below the
    requested range: plant a poison segment (a directory named like a
    segment — opening it raises) below ``lo`` and read past it."""
    import os

    from kafka_flink_spark.sources.kafka_log import _read_range, _segment_name

    with tempfile.TemporaryDirectory() as d:
        os.mkdir(os.path.join(d, _segment_name(0)))  # poison: offsets 0..2499
        append_segment_at = os.path.join(d, _segment_name(2500))
        with open(append_segment_at, "w", encoding="utf-8") as f:
            for i in range(2500, 2600):
                f.write(json.dumps({"n": i}, separators=(",", ":")) + "\n")
        rows = list(_read_range(7, d, 2510, 2520))
        assert [o for _, o, _ in rows] == list(range(2510, 2520))
        assert all(pid == 7 for pid, _, _ in rows)


_OUTSIDE_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from kafka_flink_spark.sources.kafka_log import register_kafka_log, write_trade_log
from kafka_flink_spark.sources.trade_gen import register_trade_gen

spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
register_kafka_log(spark)
tmp = {tmp!r}
write_trade_log(tmp + "/log", 4000, segment_rows=1000, n_partitions=2)
q = (
    spark.readStream.format("kafka_log").option("path", tmp + "/log")
    .option("startingOffsets", "earliest").load()
    .writeStream.format("memory").queryName("outside")
    .option("checkpointLocation", tmp + "/ckpt")
    .trigger(availableNow=True).start()
)
q.awaitTermination()
print("ROWS", spark.table("outside").count())
register_trade_gen(spark)
print("GEN", spark.read.format("trade_gen").option("rows", "1000").load().count())
spark.stop()
"""


def test_stream_from_outside_repo_without_pythonpath(tmp_path):
    """A ``kafka_log`` stream started by a driver whose cwd is not the
    repo and whose PYTHONPATH is unset (the external driver's shape:
    it puts the repo on ``sys.path`` itself) must read every record —
    the data-source Python runners cannot import the package, so the
    sources (``kafka_log`` and ``trade_gen``) travel by value."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_DRIVER.format(repo=repo, tmp=str(tmp_path))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert "ROWS 4000" in lines and "GEN 1000" in lines, proc.stdout
