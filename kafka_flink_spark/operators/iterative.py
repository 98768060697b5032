"""The one lineage cut of the package: :func:`pin`.

Iterative Spark grows the logical plan every round; without
truncation, planning cost and recompute-on-failure spans grow with the
round count (the classic iterative-Spark trap). Every operator that
cuts lineage — the iterative ops (PageRank, LPA, BFS, k-core,
pointer-doubling CC, k-means, nn_descent) and every relation pinned
before several consumers — goes through ``pin``, so durability is one
switch, and it is Spark's own: the context's reliable checkpoint
directory (``spark.checkpoint.dir`` at context start, or
``SparkContext.setCheckpointDir``).

* unset (default): ``localCheckpoint()`` materializes to
  EXECUTOR-LOCAL block storage. Fastest (no DFS write), right for
  ``local[*]`` runs and short jobs. The blocks die with their
  executor: on a multi-executor cluster ONE lost executor fails the
  job, because the truncated lineage cannot recompute the lost
  partitions.
* set: ``checkpoint()`` writes to the reliable directory — shared
  storage (HDFS / object store) on a real cluster — and survives
  executor loss; lost partitions re-read from the checkpoint files.

Results are IDENTICAL under either mode (truncation never changes
values, only where the materialized blocks live). No query path sets
the directory: it belongs to whoever owns the context.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage: reliable
    ``checkpoint()`` when the SparkContext has a checkpoint directory,
    else ``localCheckpoint()`` (always so on Spark Connect, whose
    sessions expose no SparkContext)."""
    sc = getattr(df.sparkSession, "sparkContext", None)
    if sc is not None and sc.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()
