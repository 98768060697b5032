"""File-backed Kafka-shaped log source with real start-position
semantics (SURVEY.md §2.1 S1/S2/S3).

The sandbox has no broker, so ``kafka_io.kafka_json_source``'s
``startingOffsets`` remained a structural option shim — passed through
to the Kafka connector but never *executed*. This module makes the
semantics executable and testable without a broker. A "topic" is a
directory of append-only JSONL segment files (one record per line),
either flat (a single partition) or Kafka-partitioned::

    topic/partition=0/segment-00000000000000000000.jsonl
    topic/partition=1/segment-00000000000000002500.jsonl

Segments are named by the global offset of their FIRST record
(zero-padded, exactly how a broker's log segments carry their base
offset), so planning needs to line-count only each partition's TAIL
segment — earlier segments' extents are implied by their successors'
bases. The source reads ``(partition int, offset long, value string)``
— the Kafka wire shape — in batch (explicit offset ranges) or
streaming (``earliest``/``latest`` start positions, checkpointed
per-partition offsets, bit-exact replay of any offset range because
the log IS its own write-ahead log).

Semantics mirrored from the reference's consumer configuration
(``old/kfk.py:64`` start-position control; ``3_ohlc.py:32-36``):

* ``earliest`` — first stream start reads every partition from 0;
* ``latest`` — first stream start begins at each partition's CURRENT
  end: records already present are skipped, records appended after
  the stream starts are read. On restart from a checkpoint the stored
  offsets win, as with the real Kafka connector. A partition that
  appears after start is read from 0 (new-partition discovery).

Scale design: the streaming reader is the FULL ``DataSourceStreamReader``
API — offsets are per-partition dicts, ``partitions(start, end)``
plans one input split per topic-partition per micro-batch, and
``read`` executes ON EXECUTORS, so streaming ingest parallelism
tracks partition count exactly like the Kafka connector's. Batch
reads additionally split per segment. Paths must be on shared storage
for a multi-executor cluster (same contract as every file source).
"""

from __future__ import annotations

import json
import os
import sys

from pyspark import cloudpickle
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

KAFKA_LOG_SCHEMA = "partition int, offset long, value string"

_SEG_PREFIX = "segment-"
_SEG_SUFFIX = ".jsonl"
_SEG_DIGITS = 20
_PART_PREFIX = "partition="


def _segment_name(base_offset: int) -> str:
    return f"{_SEG_PREFIX}{base_offset:0{_SEG_DIGITS}d}{_SEG_SUFFIX}"


def _segments(part_dir: str) -> list[tuple[int, str]]:
    """(base_offset, absolute_path) per segment, offset-ordered."""
    out = []
    for name in os.listdir(part_dir):
        if name.startswith(_SEG_PREFIX) and name.endswith(_SEG_SUFFIX):
            base = int(name[len(_SEG_PREFIX) : -len(_SEG_SUFFIX)])
            out.append((base, os.path.join(part_dir, name)))
    out.sort()
    return out


def _partition_dirs(path: str) -> list[tuple[int, str]]:
    """(partition_id, dir) pairs; a flat topic is partition 0."""
    parts = [
        (int(name[len(_PART_PREFIX) :]), os.path.join(path, name))
        for name in os.listdir(path)
        if name.startswith(_PART_PREFIX)
    ]
    if parts:
        return sorted(parts)
    return [(0, path)]


def _count_lines(file_path: str) -> int:
    with open(file_path, "rb") as f:
        return sum(1 for _ in f)


def end_offset(part_dir: str) -> int:
    """One past a partition's last record: tail segment's base + its
    line count (the only line-count planning ever needs)."""
    segs = _segments(part_dir)
    if not segs:
        return 0
    base, tail = segs[-1]
    return base + _count_lines(tail)


def append_segment(part_dir: str, values: list[str]) -> int:
    """Producer-side helper (the test harness's broker stand-in): seal
    ``values`` as the partition's next segment; returns its base
    offset. Writes to a temp name then renames — readers never observe
    a partial file."""
    os.makedirs(part_dir, exist_ok=True)
    base = end_offset(part_dir)
    final = os.path.join(part_dir, _segment_name(base))
    tmp = final + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        for v in values:
            f.write(v)
            f.write("\n")
    os.replace(tmp, final)
    return base


def _read_range(pid: int, part_dir: str, lo: int, hi: int):
    """Yield (partition, offset, value) for offsets in [lo, hi).

    Segments whose whole extent sits below ``lo`` are skipped without
    opening them (a segment's extent ends at its successor's base) —
    a tailing stream on a long-history topic must not re-scan the
    history every micro-batch. Only the segment CONTAINING ``lo`` is
    line-skipped from its start; that is the line-addressed format's
    floor."""
    segs = _segments(part_dir)
    for i, (base, file_path) in enumerate(segs):
        if base >= hi:
            break
        if i + 1 < len(segs) and segs[i + 1][0] <= lo:
            continue  # entire segment below the requested range
        with open(file_path, encoding="utf-8") as f:
            for offset, line in enumerate(f, start=base):
                if offset >= hi:
                    break
                if offset >= lo:
                    yield (pid, offset, line.rstrip("\n"))


class KafkaLogDataSource(DataSource):
    """``spark.read.format("kafka_log")`` / ``spark.readStream...``.

    Options: ``path`` (required); batch ``startingOffset`` /
    ``endingOffset`` — a single offset applied per partition, or a
    JSON dict ``{"0": 2500, ...}`` (default 0 / partition end);
    streaming ``startingOffsets`` = ``earliest`` (default) | ``latest``.
    """

    @classmethod
    def name(cls) -> str:
        return "kafka_log"

    def schema(self) -> str:
        return KAFKA_LOG_SCHEMA

    def reader(self, schema) -> "KafkaLogBatchReader":
        return KafkaLogBatchReader(self.options)

    def streamReader(self, schema) -> "KafkaLogStreamReader":
        return KafkaLogStreamReader(self.options)


def _per_partition(option_value: str | None, parts, default_fn) -> dict[int, int]:
    """Resolve a scalar-or-JSON-dict offset option per partition."""
    if option_value is None:
        return {pid: default_fn(pid, d) for pid, d in parts}
    v = option_value.strip()
    if v.startswith("{"):
        parsed = {int(k): int(x) for k, x in json.loads(v).items()}
        return {pid: parsed.get(pid, default_fn(pid, d)) for pid, d in parts}
    return {pid: int(v) for pid, _ in parts}


class KafkaLogBatchReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.path = options["path"]
        parts = _partition_dirs(self.path)
        self.start = _per_partition(
            options.get("startingOffset"), parts, lambda pid, d: 0
        )
        self.end = _per_partition(
            options.get("endingOffset"), parts, lambda pid, d: end_offset(d)
        )
        self.parts = parts

    def partitions(self):
        # One split per (partition, segment): bounds from the NEXT
        # segment's base; the tail bound is the reader's end offset.
        splits = []
        for pid, part_dir in self.parts:
            segs = _segments(part_dir)
            for i, (base, file_path) in enumerate(segs):
                seg_end = segs[i + 1][0] if i + 1 < len(segs) else self.end[pid]
                lo = max(base, self.start[pid])
                hi = min(seg_end, self.end[pid])
                if lo < hi:
                    splits.append(InputPartition((pid, file_path, base, lo, hi)))
        return splits or [InputPartition(None)]

    def read(self, partition: InputPartition):
        if partition.value is None:
            return
        pid, file_path, base, lo, hi = partition.value
        with open(file_path, encoding="utf-8") as f:
            for offset, line in enumerate(f, start=base):
                if offset >= hi:
                    break
                if offset >= lo:
                    yield (pid, offset, line.rstrip("\n"))


class KafkaLogStreamReader(DataSourceStreamReader):
    """Full streaming reader: offsets are per-partition dicts
    (``{"0": n, "1": m}``), each micro-batch plans one input split per
    advancing partition, and splits read ON EXECUTORS — ingest
    parallelism tracks partition count, the Kafka-connector property.
    Every batch is an exact offset range replayable from the sealed
    segments, so checkpoint recovery re-reads identical rows
    (exactly-once into idempotent sinks, the io12 contract)."""

    def __init__(self, options) -> None:
        self.path = options["path"]
        self.starting = options.get("startingOffsets", "earliest").lower()
        if self.starting not in ("earliest", "latest"):
            raise ValueError(
                f"startingOffsets must be earliest|latest, got {self.starting!r}"
            )

    def initialOffset(self) -> dict:
        # Evaluated once per NEW checkpoint; a restart resumes from the
        # checkpointed offsets instead (Structured Streaming contract,
        # same as the Kafka connector's startingOffsets handling).
        if self.starting == "earliest":
            return {str(pid): 0 for pid, _ in _partition_dirs(self.path)}
        return {str(pid): end_offset(d) for pid, d in _partition_dirs(self.path)}

    def latestOffset(self) -> dict:
        return {str(pid): end_offset(d) for pid, d in _partition_dirs(self.path)}

    def partitions(self, start: dict, end: dict):
        # A partition absent from `start` appeared after stream start:
        # read it from 0 (new-partition discovery).
        dirs = dict(_partition_dirs(self.path))
        out = []
        for pid_str, hi in end.items():
            lo = start.get(pid_str, 0)
            if hi > lo:
                out.append(InputPartition((int(pid_str), dirs[int(pid_str)], lo, hi)))
        return out

    def read(self, partition: InputPartition):
        pid, part_dir, lo, hi = partition.value
        return _read_range(pid, part_dir, lo, hi)

    def commit(self, end: dict) -> None:
        pass  # segments are immutable; nothing to release


def register_kafka_log(spark) -> None:
    """Idempotently register the source with a session. The module is
    pickled by value: Spark's Python data-source runners do not see
    ``addPyFile`` zips, so a by-reference pickle fails outside the repo."""
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    try:
        spark.dataSource.register(KafkaLogDataSource)
    except Exception:
        pass  # already registered on this session


def write_trade_log(
    path: str, n_rows: int, segment_rows: int = 2500, n_partitions: int = 1
) -> None:
    """Build a deterministic trade log from the public generator recipe
    (sources/trade_gen.trade_row): n_rows JSON envelopes, round-robin
    over ``n_partitions`` (seq = offset * n_partitions + partition, so
    every (partition, offset) maps to one seq), split into fixed-size
    sealed segments. What a broker topic fed by the reference's
    old/gen.py producer would contain."""
    from kafka_flink_spark.sources.trade_gen import trade_row

    for pid in range(n_partitions):
        part_dir = path if n_partitions == 1 else f"{path}/{_PART_PREFIX}{pid}"
        seqs = range(pid, n_rows, n_partitions)
        values = []
        for seq in seqs:
            seq_, ts_ms, instrument_id, product, price, qty = trade_row(seq, 2000, 100)
            values.append(
                json.dumps(
                    {
                        "seq": seq_,
                        "ts_ms": ts_ms,
                        "instrument_id": instrument_id,
                        "product": product,
                        "price": price,
                        "qty": qty,
                    },
                    separators=(",", ":"),
                )
            )
            if len(values) == segment_rows:
                append_segment(part_dir, values)
                values = []
        if values:
            append_segment(part_dir, values)
