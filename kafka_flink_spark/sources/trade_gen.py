"""Synthetic trade-event generator as a first-class Spark DataSource
(Python Data Source API, Spark 4.0+).

The reference generates load with a single-process kafka-python loop
(``old/gen.py:13-36``: 2 000 products, price ∈ [1, 1000], qty ∈
[1, 100], epoch-ms timestamps, ~2 000 ev/s). Re-expressed Spark-first,
the generator IS a source: ``spark.read.format("trade_gen")`` with
rows/partitions/products options, planned like any other relation —
partition-parallel on executors, no driver loop, no Kafka dependency
for load tests.

Determinism: every field derives from md5 of the row's global sequence
number, so (a) any reader at any parallelism produces the identical
relation, and (b) a DuckDB oracle reproduces the generator bit-for-bit
from the same public recipe (see suite/rich_udf_queries).
"""

from __future__ import annotations

import sys

from pyspark import cloudpickle
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

TRADE_GEN_SCHEMA = (
    "seq long, ts_ms long, instrument_id string, product string, "
    "price double, qty long"
)

BASE_TS_MS = 1_700_000_000_000  # fixed epoch anchor; 1 event/ms


def trade_row(seq: int, n_products: int, n_instruments: int) -> tuple:
    """The generator recipe: one md5 digest per event, field = hex
    slice mod domain — deterministic instead of random.randint.

    Mirrors old/gen.py's SCHEMA; the value domains deliberately differ:
    the reference emits Product_1..1999 / Instrument_1..100 / integer
    prices 1..1000, this source emits 0-based names and fractional
    prices in [1.0, 1000.0) so repeated runs exercise float paths."""
    import hashlib

    h = hashlib.md5(f"trade:{seq}".encode()).hexdigest()
    product = int(h[0:8], 16) % n_products
    instrument = int(h[8:12], 16) % n_instruments
    price = (int(h[12:20], 16) % 999_000) / 1000.0 + 1.0  # [1.0, 1000.0)
    qty = int(h[20:24], 16) % 100 + 1
    return (
        seq,
        BASE_TS_MS + seq,
        f"Instrument_{instrument}",
        f"Product_{product}",
        price,
        qty,
    )


class TradeGenDataSource(DataSource):
    """``spark.read.format("trade_gen").option("rows", n)`` source."""

    @classmethod
    def name(cls) -> str:
        return "trade_gen"

    def schema(self) -> str:
        return TRADE_GEN_SCHEMA

    def reader(self, schema) -> "TradeGenReader":
        return TradeGenReader(self.options)

    def simpleStreamReader(self, schema) -> "TradeGenStreamReader":
        return TradeGenStreamReader(self.options)


class TradeGenReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n_rows = int(options.get("rows", "10000"))
        self.n_partitions = int(options.get("partitions", "8"))
        self.n_products = int(options.get("products", "2000"))
        self.n_instruments = int(options.get("instruments", "100"))

    def partitions(self):
        # Contiguous seq ranges per split: each executor task generates
        # its slice independently — embarrassingly parallel, scales to
        # any row count by adding splits.
        per = -(-self.n_rows // self.n_partitions)
        return [
            InputPartition((i * per, min((i + 1) * per, self.n_rows)))
            for i in range(self.n_partitions)
        ]

    def read(self, partition: InputPartition):
        lo, hi = partition.value
        for seq in range(lo, hi):
            yield trade_row(seq, self.n_products, self.n_instruments)


def register_trade_gen(spark) -> None:
    """Idempotently register the source with a session. The module is
    pickled by value: Spark's Python data-source runners do not see
    ``addPyFile`` zips, so a by-reference pickle fails outside the repo."""
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    try:
        spark.dataSource.register(TradeGenDataSource)
    except Exception:
        pass  # already registered on this session


class TradeGenStreamReader(SimpleDataSourceStreamReader):
    """Unbounded form of the generator: ``spark.readStream.format(
    "trade_gen")`` — the Kafka-free stand-in for the reference's
    continuous producer loop. The offset is just the global sequence
    number, so replays are exact: readBetweenOffsets regenerates any
    micro-batch bit-for-bit (the generator IS its own write-ahead log),
    giving end-to-end exactly-once without a broker.
    """

    def __init__(self, options) -> None:
        self.rows_per_batch = int(options.get("rowsPerBatch", "1000"))
        self.n_products = int(options.get("products", "2000"))
        self.n_instruments = int(options.get("instruments", "100"))

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def read(self, start: dict):
        lo = start["seq"]
        hi = lo + self.rows_per_batch
        return self._rows(lo, hi), {"seq": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(start["seq"], end["seq"])

    def _rows(self, lo: int, hi: int):
        # Concrete list, not a generator: the driver pickles the batch
        # into its prefetch cache before executors consume it.
        return [
            trade_row(seq, self.n_products, self.n_instruments)
            for seq in range(lo, hi)
        ]
