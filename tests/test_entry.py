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
