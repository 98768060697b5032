"""The workloads. Each drives the package only through its public
functions: ``session.get_session``; ``sources.kafka_log`` (the
``kafka_log`` stream and batch reader) with
``sources.kafka_io.decode_json_envelope``; ``streaming.candles_stream``
(``ohlcv_stream``, ``run_available_now``); and
``suite.all_queries()[name].spark_fn``.

A workload has four steps. ``inputs`` writes its seeded inputs (while
the JVM starts); ``setup`` warms up; ``measure`` times operations for
``--seconds`` seconds and records, per operation, its latency and
whether it failed; ``layers`` (traced runs only) times isolated calls
into each layer. Output checks run outside the timed sections.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import gen
import oracle
import stats

# ---------------------------------------------------------------- shared

# A closed loop times at least this many operations, however long they
# take, so that a run reports a median of its own.
MIN_OPS = 2


@dataclass
class Timed:
    """What one timed section measured."""

    lat_ms: list  # per operation
    attempted: int  # operations attempted: events (live), drains, queries
    records: int  # input records the operations processed
    busy_s: float  # time those records took
    failed: int  # operations that failed, mismatched or missed the limit
    mismatch: str | None = None
    extra: dict = field(default_factory=dict)


class Ctx:
    """Run state shared by the workload steps, and the span recorder
    (spans stay in memory until the run ends)."""

    def __init__(self, seed: int, seconds: float, work: str, out: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.out = out
        self.rng = random.Random(seed)
        self.spark = None
        self.spans: list[dict] = []
        self.layer: dict[str, float] = {}
        self.progress_path = os.path.join(out, "progress.jsonl")  # traced phase
        self.query_span = None  # (span, executions, query names) of a traced batch
        self.mismatch: str | None = None  # of an output check in a traced layer call
        self._fresh = 0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def fresh_path(self, name: str) -> str:
        """A path in the work dir no earlier call returned."""
        self._fresh += 1
        return self.path(f"{name}_{self._fresh}")

    def span(self, name: str):
        return _Span(self, name)


class _Span:
    def __init__(self, ctx: Ctx, name: str) -> None:
        self.ctx, self.name = ctx, name

    def __enter__(self):
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        self.s = self.end - self.start
        self.ctx.spans.append(
            {"name": self.name, "start_ms": self.start * 1000, "end_ms": self.end * 1000}
        )
        return False


def open_session(ctx: Ctx, **kw):
    from kafka_flink_spark.session import get_session

    with ctx.span("session.get_session") as sp:
        ctx.spark = get_session("perfbench", **kw)
    return sp.s


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def trades_from_topic(spark, topic: str, stream: bool):
    """The kafka_log topic decoded into the trade columns ``ohlcv_stream``
    and ``operators.candles.ohlcv`` take."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_flink_spark.sources.kafka_io import decode_json_envelope

    reader = spark.readStream if stream else spark.read
    raw = reader.format("kafka_log").option("path", topic).load()
    return decode_json_envelope(raw, T.DataType.fromDDL(gen.ENVELOPE_DDL)).select(
        F.timestamp_millis("ts_ms").alias("ts"),
        "instrument_id", "product", "price", "qty", "seq",
    )


def write_candles(df, path: str) -> str:
    """Write candle rows, window start as epoch seconds, for the oracle."""
    from pyspark.sql import functions as F

    df.select(
        F.unix_seconds("window_start").alias("window_start_s"),
        "product", "open", "high", "low", "close", "volume",
    ).write.parquet(path)
    return path


def progress_batches(progress: list[dict]) -> list[dict]:
    """Micro-batches with data, ordered by id: per-partition end offsets
    and the wall-clock end of the batch (start + triggerExecution)."""
    out = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        if not p.get("sources"):
            continue
        end = p["sources"][0].get("endOffset")
        if isinstance(end, str):
            end = json.loads(end)
        if not end:
            continue
        out.append(
            {"end": {k: int(v) for k, v in end.items()},
             "end_ms": start_ms(p) + p["durationMs"].get("triggerExecution", 0)}
        )
    return out


def start_ms(progress: dict) -> float:
    """Wall-clock start of a micro-batch, in epoch milliseconds."""
    t = datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=timezone.utc).timestamp() * 1000


def in_window(progress: dict, lo_ms: float, hi_ms: float) -> bool:
    return lo_ms <= start_ms(progress) < hi_ms


def streaming_layers(progress: list[dict]) -> dict[str, float]:
    """Per-batch progress folded into the streaming layer's numbers, and
    the source's offset planning time."""
    def p50(key):
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return stats.median(vals) if vals else 0.0

    states = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    return {
        "sources.latest_offset_ms_p50": p50("latestOffset"),
        "streaming.batches": float(len(progress)),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "streaming.state_commit_ms_p50": (
            stats.median([s.get("commitTimeMs", 0) for s in states]) if states else 0.0
        ),
        "streaming.state_rows": float(max((s.get("numRowsTotal", 0) for s in states), default=0)),
        "streaming.state_mem_bytes": float(
            max((s.get("memoryUsedBytes", 0) for s in states), default=0)
        ),
        "streaming.rows_dropped_by_watermark": float(
            sum(s.get("numRowsDroppedByWatermark", 0) for s in states)
        ),
    }


def read_jsonl(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


# ------------------------------------------------------------------ live

# Trades per second. Latency here is set by per-batch fixed costs (about
# 1.5 s at 2,500 and at 5,000 ev/s); at 5,000 ev/s the engine runs closer
# to saturation, which doubled the run-to-run spread of the latency on a
# shared 4-core host. The reference generator runs ~2,000 ev/s.
LIVE_RATE = 2500
LIVE_TICK_S = 0.05
# The stream's trigger time settles about 15 s after traffic starts (JIT).
LIVE_WARMUP_S = 15.0
# Per-event emit latency above this counts as a failed operation. Fixed
# from measured runs on 4 cores (p99 2.0-2.8 s) with headroom.
LIVE_LATENCY_LIMIT_MS = 10_000
REPLAY_T0_MS = 1_760_000_000_000
WATERMARK = "30 seconds"  # events arrive in order; 30 s drops none


class Generator(threading.Thread):
    """Open-loop trade producer: one thread appends the trades due by now
    to the topic every tick, round-robin over the partitions, whatever the
    engine is doing. ``ts_ms`` is each trade's scheduled creation time."""

    def __init__(self, topic: str, rng: random.Random) -> None:
        super().__init__(daemon=True)
        self.topic, self.rng = topic, rng
        self.t0_ms = 0.0
        self.seq0 = 0
        self.stop_ms = float("inf")
        self.sched = {str(p): [] for p in range(gen.N_PARTITIONS)}
        self.late_ms: list[float] = []
        self.written: list[tuple[float, int]] = []
        self.total = 0
        self.error: BaseException | None = None

    def ts(self, seq: int) -> int:
        return int(self.t0_ms + (seq - self.seq0) * 1000 // LIVE_RATE)

    def append(self, n: int) -> None:
        """Append trades ``total .. n-1`` and record when they landed."""
        from kafka_flink_spark.sources.kafka_log import append_segment

        parts: list[list[str]] = [[] for _ in range(gen.N_PARTITIONS)]
        scheds = []
        for seq in range(self.total, n):
            ts = self.ts(seq)
            pid = seq % gen.N_PARTITIONS
            parts[pid].append(gen.trade_json(self.rng, seq, ts))
            self.sched[str(pid)].append(ts)
            scheds.append(ts)
        for pid, rows in enumerate(parts):
            if rows:
                append_segment(gen.partition_dir(self.topic, pid), rows)
        done = time.time() * 1000
        self.late_ms.extend(done - s for s in scheds)
        self.total = n
        self.written.append((done, n))

    def prime(self) -> None:
        """One trade per partition, so the stream's first (cold) batch is
        small instead of a backlog that builds while it runs."""
        self.t0_ms = time.time() * 1000
        self.append(gen.N_PARTITIONS)

    def begin(self, t0_ms: float) -> None:
        self.t0_ms, self.seq0 = t0_ms, self.total
        self.start()

    def due(self, now_ms: float) -> int:
        """Trades scheduled at or before ``now_ms`` and before ``stop_ms``."""
        last = min(now_ms, self.stop_ms - 1e-6)
        return self.seq0 + max(0, int((last - self.t0_ms) * LIVE_RATE / 1000) + 1)

    def run(self) -> None:
        try:
            tick = 0
            while self.stop_ms == float("inf") or self.total < self.due(self.stop_ms):
                n = self.due(time.time() * 1000)
                if n > self.total:
                    self.append(n)
                tick += 1
                time.sleep(max(0.0, self.t0_ms / 1000 + tick * LIVE_TICK_S - time.time()))
        except BaseException as e:  # reported by the main thread
            self.error = e


class Live:
    """Open loop at LIVE_RATE ev/s over 2,000 products into a resident
    update-mode ``ohlcv_stream`` (1-minute windows, default trigger)."""

    name = "live_ohlcv"
    # A resident stream pins its state-store partitions to the session's
    # shuffle partitions. Size them as the package sizes its own streams
    # (run_available_now's default of 8), through the variable get_session
    # reads: its shuffle_partitions argument is overridden by RUNTIME_CONF.
    env = {"SPARK_GRAFT_SHUFFLE": "8"}

    def inputs(self, ctx: Ctx) -> None:
        pass  # the generator writes the topic while the stream runs

    def setup(self, ctx: Ctx, tag: str = "a") -> dict:
        from kafka_flink_spark.sources.kafka_log import register_kafka_log
        from kafka_flink_spark.streaming.candles_stream import ohlcv_stream

        register_kafka_log(ctx.spark)
        topic = ctx.path(f"live_topic_{tag}")
        for pid in range(gen.N_PARTITIONS):
            os.makedirs(gen.partition_dir(topic, pid), exist_ok=True)
        qname = f"live_{tag}"
        query = (
            ohlcv_stream(trades_from_topic(ctx.spark, topic, True), "1 minute", WATERMARK)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .option("checkpointLocation", ctx.path(f"ckpt_{qname}"))
            .start()
        )
        g = Generator(topic, random.Random(ctx.rng.random()))
        with ctx.span("session.warmup") as sp:
            g.prime()
            deadline = time.time() + 120
            while not any(p["numInputRows"] for p in query.recentProgress):
                if time.time() > deadline:
                    raise RuntimeError("the stream read nothing in 120 s")
                time.sleep(0.2)
            g.begin(time.time() * 1000)
            time.sleep(LIVE_WARMUP_S)
        return {"topic": topic, "query": query, "qname": qname, "gen": g, "warmup_s": sp.s}

    def measure(self, ctx: Ctx, st: dict) -> Timed:
        g, q = st["gen"], st["query"]
        lo_ms = g.t0_ms + LIVE_WARMUP_S * 1000
        g.stop_ms = lo_ms + ctx.seconds * 1000
        progress: dict[int, dict] = {}

        def poll():
            for p in q.recentProgress:
                progress[p["batchId"]] = json.loads(p.json)

        with ctx.span("timed"):
            while time.time() * 1000 < g.stop_ms:
                time.sleep(1.0)
                poll()
        g.join(timeout=30)
        if g.error is not None or g.is_alive():
            raise RuntimeError(f"generator failed: {g.error!r}")
        deadline = time.time() + 60
        while time.time() < deadline:
            poll()
            batches = progress_batches(list(progress.values()))
            if batches and sum(batches[-1]["end"].values()) >= g.total:
                break
            time.sleep(0.5)
        q.stop()
        poll()
        with open(os.path.join(ctx.out, f"progress_{st['qname']}.jsonl"), "w",
                  encoding="utf-8") as fh:
            fh.writelines(json.dumps(progress[b]) + "\n" for b in sorted(progress))
        batches = progress_batches(list(progress.values()))
        lat, missing = stats.emit_latencies_ms(batches, g.sched, (lo_ms, g.stop_ms))
        late = sum(1 for x in lat if x > LIVE_LATENCY_LIMIT_MS)
        window_batches = [p for p in progress.values() if in_window(p, lo_ms, g.stop_ms)]
        busy_s = sum(p["durationMs"].get("triggerExecution", 0) for p in window_batches) / 1000
        dropped = streaming_layers(list(progress.values()))["streaming.rows_dropped_by_watermark"]
        out = write_candles(ctx.spark.table(st["qname"]), ctx.fresh_path("out_live"))
        bad = oracle.candles_mismatch([out], st["topic"])[0]
        if dropped:
            bad = bad or f"{dropped:.0f} rows dropped by the watermark"
        n = len(lat) + missing
        return Timed(
            lat_ms=lat,
            attempted=n,
            records=sum(p.get("numInputRows", 0) for p in window_batches),
            busy_s=busy_s,
            failed=n if bad else missing + late,
            mismatch=bad,
            extra={"window_progress": window_batches,
                   "window_batches": [b for b in batches if lo_ms <= b["end_ms"] < g.stop_ms]},
        )

    def layers(self, ctx: Ctx, st: dict, timed: Timed, span: dict) -> None:
        g = st["gen"]
        ctx.layer.update(streaming_layers(timed.extra["window_progress"]))
        backlog = stats.backlog_events(g.written, timed.extra["window_batches"])
        ctx.layer["sources.backlog_ev_p99"] = float(stats.percentile(backlog, 99))
        ctx.layer["sources.gen_late_ms_p99"] = stats.percentile(g.late_ms, 99)


def read_decode(ctx: Ctx, topic: str, n_events: int) -> None:
    """Isolated source-layer call: batch kafka_log read + decode of the
    whole topic into a noop sink."""
    from pyspark.sql import types as T

    from kafka_flink_spark.sources.kafka_io import decode_json_envelope

    raw = ctx.spark.read.format("kafka_log").option("path", topic).load()
    with ctx.span("sources.read_decode") as sp:
        noop(decode_json_envelope(raw, T.DataType.fromDDL(gen.ENVELOPE_DDL)))
    ctx.layer["sources.read_decode_s"] = sp.s
    ctx.layer["sources.read_us_per_ev"] = sp.s * 1e6 / n_events


# ---------------------------------------------------------------- replay

REPLAY_EVENTS = 1_000_000
REPLAY_WARM_EVENTS = 100_000


class Replay:
    """Closed loop: the backlog drained again and again through
    ``run_available_now`` over the same pipeline as ``Live``."""

    name = "replay_ohlcv"

    def inputs(self, ctx: Ctx) -> None:
        gen.write_backlog(ctx.path("replay_topic"), random.Random(ctx.seed), REPLAY_EVENTS,
                          REPLAY_T0_MS, LIVE_RATE)
        gen.write_backlog(ctx.path("replay_warm"), random.Random(ctx.seed + 1),
                          REPLAY_WARM_EVENTS, REPLAY_T0_MS, LIVE_RATE)

    def setup(self, ctx: Ctx, tag: str = "a") -> dict:
        from kafka_flink_spark.sources.kafka_log import register_kafka_log

        register_kafka_log(ctx.spark)
        topic, warm = ctx.path("replay_topic"), ctx.path("replay_warm")
        with ctx.span("session.warmup") as sp:
            self.drain(ctx, warm).unpersist()
        return {"topic": topic, "warmup_s": sp.s}

    @staticmethod
    def drain(ctx: Ctx, topic: str):
        from kafka_flink_spark.streaming.candles_stream import ohlcv_stream, run_available_now

        stream = ohlcv_stream(trades_from_topic(ctx.spark, topic, True), "1 minute", WATERMARK)
        return run_available_now(stream, "update")

    def measure(self, ctx: Ctx, st: dict) -> Timed:
        walls, results = [], []
        with ctx.span("timed"):
            t_end = time.time() + ctx.seconds
            while time.time() < t_end or len(walls) < MIN_OPS:
                with ctx.span("replay.drain") as sp:
                    results.append(self.drain(ctx, st["topic"]))
                walls.append(sp.s)
        outs = []
        for res in results:
            outs.append(write_candles(res, ctx.fresh_path("out_drain")))
            res.unpersist()
        errors = [e for e in oracle.candles_mismatch(outs, st["topic"]) if e]
        failed, bad = len(errors), (errors[0] if errors else None)
        return Timed(
            lat_ms=[w * 1000 for w in walls],
            attempted=len(walls),
            records=REPLAY_EVENTS * len(walls),
            busy_s=sum(walls),
            failed=failed,
            mismatch=bad,
            extra={"walls": walls},
        )

    def layers(self, ctx: Ctx, st: dict, timed: Timed, span: dict) -> None:
        from pyspark.sql import functions as F

        from kafka_flink_spark.operators.candles import ohlcv

        prog = [p for p in read_jsonl(ctx.progress_path)
                if in_window(p, span["start_ms"], span["end_ms"])]
        ctx.layer.update(streaming_layers(prog))
        trig_s = sum(p["durationMs"].get("triggerExecution", 0) for p in prog) / 1000
        n = len(timed.lat_ms)
        ctx.layer["streaming.batches"] = len(prog) / n
        ctx.layer["streaming.outside_trigger_s"] = (sum(timed.extra["walls"]) - trig_s) / n
        read_decode(ctx, st["topic"], REPLAY_EVENTS)
        pinned = trades_from_topic(ctx.spark, st["topic"], False).cache()
        pinned.count()
        with ctx.span("operators.ohlcv") as sp:
            noop(ohlcv(pinned, "1 minute", seq_col="seq").select(F.col("volume")))
        pinned.unpersist()
        ctx.layer["operators.ohlcv_s"] = sp.s
        ppjoin_probe(ctx)


def ppjoin_probe(ctx: Ctx) -> None:
    """The batch layers (fixture scan, suite planning, the similarity and
    dedup operators) measured on registry query d11: a warm-up execution
    checked against its oracle, then one timed execution. It runs in the
    traced replay, so that no workload of its own is needed."""
    pp = WORKLOADS["batch_ppjoin"]
    pp.inputs(ctx)
    st = pp.setup(ctx)
    timed = pp.measure(ctx, st, seconds=0, min_ops=1)
    pp.layers(ctx, st, timed, ctx.spans[-1])
    ctx.mismatch = ctx.mismatch or timed.mismatch


# ----------------------------------------------------------------- batch

CANDLE_QUERIES = (
    "a1_ohlcv_tumbling_1h",
    "a2_running_ohlcv",
    "a3_running_ohlcv_windowed",
    "a5_ohlcv_cascade_1h_to_1d",
    "a6_sql_ohlc_5m",
)
PPJOIN_QUERIES = ("d11_prefix_filter_jaccard",)


class Batch:
    """Closed loop over registry queries, back to back, each to a noop
    sink; the relations a query persisted are dropped between executions
    (outside the timing), so every execution computes the whole query."""

    def __init__(self, name: str, queries: tuple, table: str, rows_per_query: int) -> None:
        self.name, self.queries, self.table = name, queries, table
        self.rows_per_query = rows_per_query

    def inputs(self, ctx: Ctx) -> None:
        os.makedirs(ctx.path("sf"))
        writer = gen.write_events if self.table == "events" else gen.write_documents
        writer(os.path.join(ctx.path("sf"), f"{self.table}.parquet"), random.Random(ctx.seed))

    def setup(self, ctx: Ctx, tag: str = "a") -> dict:
        from kafka_flink_spark.suite import all_queries

        sf = ctx.path("sf")
        tables = {self.table: os.path.join(sf, f"{self.table}.parquet")}
        reg = all_queries()
        st = {"sf": sf, "tables": tables, "reg": reg, "mismatch": None}
        # The warm-up pass of the first set-up writes every result as
        # parquet for the oracle.
        with ctx.span("session.warmup") as sp:
            for name in self.queries:
                ctx.spark.catalog.clearCache()
                df = reg[name].spark_fn(ctx.spark, sf)
                if tag != "a":
                    noop(df)
                    continue
                out = ctx.fresh_path("out_query")
                df.write.parquet(out)
                err = oracle.query_mismatch(out, reg[name].oracle, tables)
                if err:
                    st["mismatch"] = f"{name}: {err}"
        st["warmup_s"] = sp.s
        return st

    def measure(self, ctx: Ctx, st: dict, seconds: float | None = None,
                min_ops: int = MIN_OPS) -> Timed:
        reg, sf, spark = st["reg"], st["sf"], ctx.spark
        lat, plan = [], []
        with ctx.span("timed"):
            t_end = time.time() + (ctx.seconds if seconds is None else seconds)
            while time.time() < t_end or len(lat) < min_ops:
                for name in self.queries:
                    spark.catalog.clearCache()
                    with ctx.span("query:" + name) as sp:
                        t0 = time.perf_counter()
                        df = reg[name].spark_fn(spark, sf)
                        plan.append((time.perf_counter() - t0) * 1000)
                        noop(df)
                    lat.append(sp.s * 1000)
        spark.catalog.clearCache()
        n = len(lat)
        return Timed(
            lat_ms=lat,
            attempted=n,
            records=self.rows_per_query * n,
            busy_s=sum(lat) / 1000,
            failed=n if st["mismatch"] else 0,
            mismatch=st["mismatch"],
            extra={"plan_ms": plan},
        )

    def layers(self, ctx: Ctx, st: dict, timed: Timed, span: dict) -> None:
        from kafka_flink_spark.operators.candles import ohlcv
        from kafka_flink_spark.sources.fixtures import load_table, trades_view

        ctx.query_span = (span, len(timed.lat_ms), self.queries)
        ctx.layer["suite.plan_ms_p50"] = stats.median(timed.extra["plan_ms"])
        if self.table == "events":
            with ctx.span("sources.scan") as sp:
                noop(trades_view(ctx.spark, st["sf"]))
            ctx.layer["sources.scan_s"] = sp.s
            pinned = trades_view(ctx.spark, st["sf"]).cache()
            pinned.count()
            with ctx.span("operators.ohlcv") as sp:
                noop(ohlcv(pinned, "1 hour", seq_col="seq"))
            pinned.unpersist()
            ctx.layer["operators.ohlcv_s"] = sp.s
        else:
            with ctx.span("sources.scan") as sp:
                noop(load_table(ctx.spark, st["sf"], self.table))
            ctx.layer["sources.scan_s"] = sp.s


WORKLOADS = {
    "live_ohlcv": Live(),
    "replay_ohlcv": Replay(),
    "batch_candles": Batch("batch_candles", CANDLE_QUERIES, "events", gen.N_EVENTS),
    "batch_ppjoin": Batch("batch_ppjoin", PPJOIN_QUERIES, "documents", gen.N_DOCUMENTS),
}
