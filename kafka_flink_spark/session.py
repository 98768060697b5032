"""SparkSession factory with scale-aware defaults.

The reference pins everything to parallelism 1 (``old/flink.py:9``); we
instead default to Spark AQE so partition counts adapt at runtime — the
same code path that serves local[32] tests serves a 1000-executor
cluster, because nothing below hard-codes a cluster size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-mutable confs we also (re)apply to externally provided
# sessions (e.g. the verification driver's) so query behavior is
# deterministic regardless of who built the SparkSession.
RUNTIME_CONF = {
    # Deterministic timestamp formatting across engines/oracles.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive query execution: runtime shuffle-partition coalescing,
    # skew-join splitting, and dynamic broadcast conversion. This is
    # the main "would it survive 100x scale-up" knob — partition
    # counts are decided from observed sizes, not hard-coded.
    # SPARK_GRAFT_AQE=false is the parity/debug override: no query's
    # CORRECTNESS may depend on AQE (swept both ways each round).
    # Normalized so falsy spellings (0/no/off) don't crash the session
    # build with an opaque IllegalArgumentException.
    "spark.sql.adaptive.enabled": (
        "false"
        if os.environ.get("SPARK_GRAFT_AQE", "true").strip().lower()
        in ("false", "0", "no", "off")
        else "true"
    ),
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / applyInPandas boundary crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Local-mode shuffle/state parallelism. Batch shuffles are governed
    # by AQE coalescing regardless; this mainly sizes streaming state
    # stores (stateful ops pin partition count at first checkpoint).
    # cluster_conf() overrides for multi-executor deployments.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # The events fixture stores TIMESTAMP(NANOS) parquet, which Spark 4
    # rejects outright; read it as a LONG of nanos and convert at the
    # source wrapper (sources/fixtures.py) with exact integer division.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# SPARK_GRAFT_STATESTORE=rocksdb flips every streaming query onto the
# RocksDB provider + changelog checkpointing (the cluster_conf() 100-TB
# default) — the parity/debug twin of SPARK_GRAFT_AQE: stream results
# must be identical on either provider (swept in round 9).
if os.environ.get("SPARK_GRAFT_STATESTORE") == "rocksdb":
    RUNTIME_CONF["spark.sql.streaming.stateStore.providerClass"] = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    RUNTIME_CONF[
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    ] = "true"


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to an existing session (idempotent).

    ``spark.sql.shuffle.partitions`` is only filled in where the session
    has none set, so a count its owner chose (e.g. through
    ``get_session(shuffle_partitions=N)``) survives every registry query.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            if k == "spark.sql.shuffle.partitions" and spark.conf.get(k, None):
                continue
            spark.conf.set(k, v)
        except Exception:
            # Non-mutable conf on this build — keep the session usable.
            pass
    _ship_package(spark)
    return spark


_SHIP_MARKER_CONF = "spark.kafka_flink_spark.shippedPackageHash"


def _package_zip() -> str:
    """Zip the package to a content-addressed temp path; return the path.

    The filename embeds a hash of every .py file's (relpath, mtime, size)
    so editing any package file within a long-lived process produces a
    fresh zip instead of reusing a stale one.
    """
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    entries = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            full = os.path.join(root, fn)
            st = os.stat(full)
            rel = os.path.join("kafka_flink_spark", os.path.relpath(full, pkg_dir))
            entries.append((full, rel, int(st.st_mtime_ns), st.st_size))
    digest = hashlib.sha256(
        repr([(rel, m, s) for _full, rel, m, s in entries]).encode()
    ).hexdigest()[:16]
    zpath = os.path.join(tempfile.gettempdir(), f"kafka_flink_spark_{digest}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for full, rel, _m, _s in entries:
                zf.write(full, rel)
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """Make ``kafka_flink_spark`` importable on executor Python workers.

    Pandas-UDF closures reference functions in this package by module
    name (cloudpickle pickles module-level callables by reference); an
    externally built session whose workers don't have the repo on
    sys.path would fail to unpickle them. Shipping a zip of the
    package via ``addPyFile`` fixes that for any session, any cwd —
    and is exactly how the package would deploy to a real cluster.

    The already-shipped marker lives in a session conf (not an id()-keyed
    set, which can false-positive when a GC'd session's id is reused),
    and records the content hash so a changed package re-ships.
    """
    try:
        zpath = _package_zip()
        if spark.conf.get(_SHIP_MARKER_CONF, None) == zpath:
            return
        spark.sparkContext.addPyFile(zpath)
        spark.conf.set(_SHIP_MARKER_CONF, zpath)
    except Exception:
        # Connect-mode sessions have no sparkContext; local sessions
        # started from the repo root don't need shipping.
        pass


def get_session(
    app_name: str = "kafka_flink_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so the same entry
    point works for tests and bench; an integer-valued setting ("8",
    "8.0") gives ``local[8]``, and an unset, non-numeric or non-positive
    one falls back to ``local[*]``.
    ``shuffle_partitions`` resolves as: the argument, else
    ``$SPARK_GRAFT_SHUFFLE`` (the ``RUNTIME_CONF`` value), else 32.
    """
    if master is None:
        try:
            cpus = float(os.environ.get("SPARK_GRAFT_CPUS", ""))
        except ValueError:
            cpus = 0.0
        whole = cpus >= 1 and cpus.is_integer()
        master = f"local[{int(cpus)}]" if whole else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = apply_runtime_conf(builder.getOrCreate())
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    target_partition_mb: int = 256,
) -> dict[str, str]:
    """Recommended conf for a real multi-executor deployment of this
    engine (the local-mode factory above serves tests/bench; nothing in
    the engine itself assumes either).

    Returned as a dict so deploy tooling can merge it into
    spark-defaults or a SparkSession builder. Rationale per key:

    * shuffle partitions ≈ 2 × total cores — AQE coalesces down from
      there per stage based on observed sizes; starting high avoids
      oversized reducers, starting from cluster shape avoids the
      default 200 becoming a bottleneck at 4 000 cores.
    * maxPartitionBytes governs scan-side parallelism: 256 MB splits
      keep 100 TB ≈ 400k tasks — large enough to amortize task
      overhead, small enough to ride out stragglers.
    * RocksDB state store: streaming state (candles, dedup, joins)
      spills to local disk instead of heap; changelog checkpointing
      makes commits incremental. Measured (SCALING.md round 5): a
      flat ~20-25% throughput toll vs the memory-resident HDFS store,
      constant from 100k to 1M keys — safe to enable ahead of need,
      which is why it is the cluster default here while local tests
      keep the faster HDFS store.
    * Kryo + compressed shuffle are the standard wire-efficiency knobs.
    """
    total_cores = executors * cores_per_executor
    return {
        **RUNTIME_CONF,
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.sql.files.maxPartitionBytes": f"{target_partition_mb}m",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        "spark.shuffle.compress": "true",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.maxExecutors": str(executors),
    }
