"""Output checks, run outside the timed sections. DuckDB is the
independent oracle: candles are recomputed from the topic's JSONL
segments, and registry queries run their registered oracle SQL. The
engine's result reaches DuckDB as parquet, so values cross unchanged."""

from __future__ import annotations

TOPIC_TRADES = """
SELECT * FROM read_json('{topic}/partition=*/segment-*.jsonl',
    format = 'newline_delimited',
    columns = {{seq: 'BIGINT', ts_ms: 'BIGINT', instrument_id: 'VARCHAR',
               product: 'VARCHAR', price: 'DOUBLE', qty: 'BIGINT'}})
"""

# Final OHLCV per (1-minute window, product); open and close order by
# (ts_ms, seq), the order key the engine uses.
CANDLES_ORACLE = """
SELECT (ts_ms // 60000) * 60 AS window_start_s,
       product,
       arg_min(price, ts_ms::HUGEINT * 1000000000 + seq) AS open,
       max(price) AS high,
       min(price) AS low,
       arg_max(price, ts_ms::HUGEINT * 1000000000 + seq) AS close,
       sum(qty)::BIGINT AS volume
FROM trades GROUP BY ALL
"""

# The last update per candle out of an update-mode sink. Volume only grows
# as trades arrive (qty >= 1), so the last update has the largest volume.
FINAL_UPDATES = """
SELECT * EXCLUDE (rn) FROM (
    SELECT *, row_number() OVER (PARTITION BY window_start_s, product
                                 ORDER BY volume DESC) AS rn
    FROM actual)
WHERE rn = 1
"""


def mismatch(actual_parquets: list[str], oracle_sql: str, views: dict[str, str],
             actual_sql: str = "SELECT * FROM actual") -> list[str | None]:
    """Per engine output (a parquet dir): None when ``actual_sql`` over it
    and ``oracle_sql`` return the same multiset of rows (columns matched by
    name), else a description of the first difference. ``views`` maps a
    view name to the SQL that defines it."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for name, sql in views.items():
            con.execute(f"CREATE VIEW {name} AS {sql}")
        con.execute(f"CREATE TEMP TABLE o AS {oracle_sql}")
        cols_o = [d[0] for d in con.execute("SELECT * FROM o LIMIT 0").description]
        (n_o,) = con.execute("SELECT count(*) FROM o").fetchone()
        out = []
        for path in actual_parquets:
            con.execute(
                f"CREATE OR REPLACE VIEW actual AS SELECT * FROM read_parquet('{path}/*.parquet')"
            )
            con.execute(f"CREATE OR REPLACE TEMP TABLE a AS {actual_sql}")
            out.append(_diff(con, cols_o, n_o))
        return out
    finally:
        con.close()


def _diff(con, cols_o: list[str], n_o: int) -> str | None:
    cols_a = [d[0] for d in con.execute("SELECT * FROM a LIMIT 0").description]
    if sorted(cols_a) != sorted(cols_o):
        return f"columns {sorted(cols_a)} != oracle {sorted(cols_o)}"
    (n_a,) = con.execute("SELECT count(*) FROM a").fetchone()
    if n_a != n_o:
        return f"{n_a} rows != {n_o} oracle rows"
    cols = ", ".join(f'"{c}"' for c in sorted(cols_a))
    extra = con.execute(f"SELECT {cols} FROM a EXCEPT ALL SELECT {cols} FROM o LIMIT 1").fetchall()
    return f"row {extra[0]} is not in the oracle" if extra else None


def candles_mismatch(actual_parquets: list[str], topic: str) -> list[str | None]:
    """Check update-mode candle outputs against every record of a topic."""
    return mismatch(actual_parquets, CANDLES_ORACLE,
                    {"trades": TOPIC_TRADES.format(topic=topic)}, FINAL_UPDATES)


def query_mismatch(actual_parquet: str, oracle_sql: str, tables: dict[str, str]) -> str | None:
    """Check a registry query's output against its registered oracle SQL."""
    views = {name: f"SELECT * FROM read_parquet('{path}')" for name, path in tables.items()}
    return mismatch([actual_parquet], oracle_sql, views)[0]
