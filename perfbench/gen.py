"""Seeded input generators. The program under test sees only what these
write: trade envelopes in a ``kafka_log`` topic, and the ``events`` and
``documents`` parquet tables its registry queries read.

Every generator takes a ``random.Random`` built from ``--seed``, so one
seed gives byte-identical inputs.
"""

from __future__ import annotations

import random

N_PRODUCTS = 2000
N_INSTRUMENTS = 100
N_PARTITIONS = 4
N_EVENTS = 100_000  # rows of the events table, as at sf0.1
# Documents of the d11 corpus: 0.6x the sf0.1 fixture's 5,000, which keeps
# one run of the ppjoin workload inside the benchmark's time budget.
N_DOCUMENTS = 3000

# The envelope ``sources.kafka_log.write_trade_log`` writes.
ENVELOPE_DDL = (
    "seq long, ts_ms long, instrument_id string, product string, "
    "price double, qty long"
)


def trade_json(rng: random.Random, seq: int, ts_ms: int) -> str:
    """One trade envelope. Prices are exact thousandths in [1, 1000), so
    the JSON text round-trips to the same double in Spark and DuckDB."""
    return (
        f'{{"seq":{seq},"ts_ms":{ts_ms},'
        f'"instrument_id":"Instrument_{rng.randrange(N_INSTRUMENTS)}",'
        f'"product":"Product_{rng.randrange(N_PRODUCTS)}",'
        f'"price":{rng.randrange(1000, 1_000_000) / 1000},'
        f'"qty":{rng.randrange(1, 101)}}}'
    )


def partition_dir(topic: str, pid: int) -> str:
    return f"{topic}/partition={pid}"


def write_backlog(topic: str, rng: random.Random, n: int, t0_ms: int, rate: int,
                  segment_rows: int = 25_000) -> None:
    """A backlog of ``n`` trades scheduled at ``rate`` ev/s from ``t0_ms``,
    round-robin over the topic's partitions (seq = offset * partitions +
    partition, as ``write_trade_log`` lays it out)."""
    from kafka_flink_spark.sources.kafka_log import append_segment

    per_part: list[list[str]] = [[] for _ in range(N_PARTITIONS)]
    for seq in range(n):
        pid = seq % N_PARTITIONS
        per_part[pid].append(trade_json(rng, seq, t0_ms + seq * 1000 // rate))
        if len(per_part[pid]) == segment_rows:
            append_segment(partition_dir(topic, pid), per_part[pid])
            per_part[pid] = []
    for pid, rows in enumerate(per_part):
        if rows:
            append_segment(partition_dir(topic, pid), rows)


# ---------------------------------------------------------------- tables

_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000  # 30 days, as the sf0.1 fixture
_BASE_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "en", "en", "zh", "de", "fr", "es")


def write_events(path: str, rng: random.Random, n: int = N_EVENTS) -> None:
    """The ``events`` table at the sf0.1 fixture's shape: 100k rows, 5
    event types, 1,500 users, distinct microsecond timestamps over 30
    days, ``props = {"k": n}``. One row group, so a scan is one task."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = sorted(rng.sample(range(_EVENT_SPAN_US), n))
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([_BASE_US + t for t in ts], pa.timestamp("us")),
            "user_id": pa.array([rng.randrange(1500) for _ in range(n)], pa.int64()),
            "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n)],
            "value": [rng.randrange(1, 20_000) / 100 for _ in range(n)],
            "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
        }
    )
    pq.write_table(table, path, row_group_size=n)


def write_documents(path: str, rng: random.Random, n: int = N_DOCUMENTS) -> None:
    """The ``documents`` table in the sf0.1 fixture's shape: docs of 10-99
    words over a 31-word vocabulary, of which 5 % are an earlier doc plus
    the word ``dup`` (the near-duplicate pairs a Jaccard join must find)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dup_ids = set(rng.sample(range(1, n), n // 20))
    texts: list[str] = []
    for i in range(n):
        if i in dup_ids:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 99))))
    table = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path, row_group_size=n)
