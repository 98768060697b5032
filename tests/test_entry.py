"""Driver-contract smoke tests for __spark_entry__."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "open" in df.columns and "volume" in df.columns


def test_oracle_keys_subset_of_queries():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) > 0


def test_driver_priority_names_all_registered():
    """A typo in the rotation list would silently waste driver budget."""
    from kafka_flink_spark import suite

    qs = suite.all_queries()
    missing = [n for n in suite._DRIVER_PRIORITY if n not in qs]
    assert missing == []
    assert len(set(suite._DRIVER_PRIORITY)) == len(suite._DRIVER_PRIORITY)
    # rotation actually floats the priority block to the front
    assert list(qs)[: len(suite._DRIVER_PRIORITY)] == list(suite._DRIVER_PRIORITY)


def test_cluster_conf_scales_with_shape():
    from kafka_flink_spark.session import cluster_conf

    c = cluster_conf(executors=100, cores_per_executor=8)
    assert c["spark.sql.shuffle.partitions"] == "1600"
    assert "RocksDBStateStoreProvider" in c["spark.sql.streaming.stateStore.providerClass"]
    # runtime confs ride along so a deploy gets the same semantics
    assert c["spark.sql.session.timeZone"] == "UTC"


def test_get_session_shuffle_partitions_argument_wins(spark):
    """An explicit ``shuffle_partitions`` beats the ``RUNTIME_CONF``
    (env / default) value, and keeps beating it after a registry query
    (whose wrapper re-applies ``RUNTIME_CONF``)."""
    from kafka_flink_spark.session import get_session
    from kafka_flink_spark.suite import spark_queries
    from tests.conftest import SF_SMALL

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        session = get_session(shuffle_partitions=5)
        assert session.conf.get(key) == "5"
        spark_queries()["a1_ohlcv_tumbling_1h"](session, SF_SMALL).count()
        assert session.conf.get(key) == "5"
    finally:
        spark.conf.set(key, before)
    assert spark.conf.get(key) == before


def test_get_session_master_from_cpu_setting(monkeypatch):
    """An integer-valued ``SPARK_GRAFT_CPUS`` ("8.0") gives ``local[8]``;
    a non-numeric one gives ``local[*]``. The builder raises at
    ``.master`` so no JVM starts."""
    from pyspark.sql import SparkSession

    from kafka_flink_spark.session import get_session

    class Stop(Exception):
        pass

    seen = []

    def master(self, url):
        seen.append(url)
        raise Stop

    monkeypatch.setattr(SparkSession.Builder, "master", master)
    for cpus in ("8.0", "abc"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
        try:
            get_session()
        except Stop:
            pass
    assert seen == ["local[8]", "local[*]"]


def _hash_spellings(tree) -> list[int]:
    """Line numbers in ``tree`` that write out the 60-bit md5 hash by
    hand: an ``F.conv(`` call, a string constant (f-string parts
    included) containing ``substr(md5(``, or ``hexdigest()[:15]``."""
    import ast

    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "conv"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
        ):
            lines.append(node.lineno)
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "substr(md5(" in node.value
        ):
            lines.append(node.lineno)
        elif (
            isinstance(node, ast.Subscript)
            and isinstance(node.value, ast.Call)
            and isinstance(node.value.func, ast.Attribute)
            and node.value.func.attr == "hexdigest"
            and isinstance(node.slice, ast.Slice)
            and node.slice.lower is None
            and isinstance(node.slice.upper, ast.Constant)
            and node.slice.upper.value == 15
        ):
            lines.append(node.lineno)
    return lines


def test_one_way_to_hash():
    """The 60-bit md5 hash is written out only in
    ``functions/hashing.py`` (Spark, DuckDB SQL and Python forms); every
    other module calls it."""
    import ast
    import pathlib

    import kafka_flink_spark

    injected = (
        "h = F.conv(F.substring(F.md5(c), 1, 15), 16, 10)\n"
        "q = f\"CAST(('0x' || substr(md5({e}), 1, 15)) AS BIGINT)\"\n"
        "v = int(hashlib.md5(b).hexdigest()[:15], 16)\n"
    )
    assert _hash_spellings(ast.parse(injected)) == [1, 2, 3]

    root = pathlib.Path(kafka_flink_spark.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{line}"
        for path in sorted(root.rglob("*.py"))
        if path.relative_to(root).as_posix() != "functions/hashing.py"
        for line in _hash_spellings(ast.parse(path.read_text(), str(path)))
    ]
    assert not offenders, offenders


def test_hash_spellings_agree(spark):
    """``md5_long`` (Spark), ``duckdb_md5_long`` (DuckDB) and
    ``md5_long_value`` (Python) return the same integer, salted or not,
    for empty, short, non-ASCII and long inputs."""
    import duckdb

    from kafka_flink_spark.functions.hashing import (
        duckdb_md5_long,
        md5_long,
        md5_long_value,
    )

    values = ["", "a", "naïve", "doc:42", "x" * 2048]
    rows = list(enumerate(values))
    got_spark = [
        (r["i"], r["h"], r["hs"])
        for r in spark.createDataFrame(rows, "i int, s string")
        .select("i", md5_long("s").alias("h"), md5_long("s", salt="fh:").alias("hs"))
        .orderBy("i")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    got_duckdb = con.execute(
        f"SELECT i, {duckdb_md5_long('s')}, {duckdb_md5_long('s', salt='fh:')} "
        "FROM t ORDER BY i"
    ).fetchall()
    want = [(i, md5_long_value(s), md5_long_value("fh:" + s)) for i, s in rows]
    assert got_spark == want
    assert [tuple(r) for r in got_duckdb] == want
    assert len({h for _, h, _ in want}) == len(values)


def test_one_way_to_pin():
    """Every lineage cut in the package goes through
    ``operators.iterative.pin``: no other code calls
    ``localCheckpoint``, ``checkpoint`` or ``setCheckpointDir`` (the
    checkpoint directory belongs to whoever owns the context)."""
    import ast
    import pathlib

    import kafka_flink_spark

    banned = {"localCheckpoint", "checkpoint", "setCheckpointDir"}
    root = pathlib.Path(kafka_flink_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.relative_to(root).as_posix() == "operators/iterative.py":
            pin = next(
                n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "pin"
            )
            allowed = {id(n) for n in ast.walk(pin)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in banned
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno} .{node.attr}")
    assert not offenders, offenders


def test_pin_without_spark_context_cuts_locally():
    """A Spark Connect session has no ``sparkContext`` attribute; ``pin``
    then takes the local cut instead of raising."""
    from types import SimpleNamespace

    from kafka_flink_spark.operators.iterative import pin

    class ConnectLikeSession:
        def __getattr__(self, name):
            raise AttributeError(name)

    df = SimpleNamespace(
        sparkSession=ConnectLikeSession(),
        localCheckpoint=lambda: "local",
        checkpoint=lambda: "reliable",
    )
    assert pin(df) == "local"


def test_bench_sections_registered_and_disjoint():
    """bench.py times its section table without filtering, so every name
    must be registered, and each query is timed in one section only."""
    import bench
    from kafka_flink_spark import suite

    qs = suite.all_queries()
    names = [n for section in bench.SECTIONS.values() for n in section]
    assert [n for n in names if n not in qs] == []
    assert len(set(names)) == len(names)
    assert list(bench.SECTIONS)[0] == "headline"
    assert list(bench.SECTIONS)[-1] == "stream"


def test_bench_preflight_degrades_on_bad_environment(monkeypatch):
    """A non-integer ``SPARK_GRAFT_CPUS`` or a platform without
    ``os.getloadavg`` skips the bench's load pre-flight instead of
    raising, and never sleeps."""
    import os
    import time

    import bench

    def no_sleep(_):
        raise AssertionError("pre-flight slept")

    monkeypatch.setattr(time, "sleep", no_sleep)
    monkeypatch.setattr(os, "getloadavg", lambda: (100.0, 100.0, 100.0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8.0")
    bench._wait_for_idle_box()

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.delattr(os, "getloadavg")
    bench._wait_for_idle_box()
    assert bench._load_1m() is None
