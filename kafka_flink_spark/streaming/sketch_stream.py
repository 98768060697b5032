"""Streaming sketches — bounded-state summaries over unbounded input.

The batch sketch family (operators/sketches.py: CMS frequencies g15,
KMV/theta intersections g25; plus the built-in HLL g7/g16 and GK g13)
summarizes a corpus in one pass. This module runs the same summaries
as RESIDENT streaming state: the sketch lives in the state store and
every micro-batch folds into it, so the job's state is O(sketch size)
per key — constant — no matter how long the stream runs. That is the
defining contrast with exact streaming dedup/distinct (w16/w25), whose
state grows with the distinct-key count: at 100 TB/day of events, a
distinct-user state store grows unboundedly; a KMV sketch stays k
longs per set forever and still answers cardinality AND overlap
queries within known error.

Correctness anchor: a bottom-k sample is MERGEABLE — bottom-k of a
union equals bottom-k of per-shard bottom-k's (pinned in
tests/test_llm_ops.py) — so the stream's final state after any
micro-batch partitioning equals the batch sketch over the same rows,
and the batch oracle (g25's SQL) checks the streaming execution
end-to-end.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from kafka_flink_spark.operators.sketches import KMV_K


def kmv_stream(
    members: DataFrame,
    set_col: str = "s",
    member_col: str = "m",
    k: int = KMV_K,
) -> DataFrame:
    """Streaming KMV bottom-k sketch: per-set state is the ``k``
    smallest distinct 60-bit md5 member hashes seen so far (k longs —
    bounded, watermark-free, runs forever). Emits one row per set per
    micro-batch: (set, upd_seq, sample); ``upd_seq`` increments per
    fold, so the row with the per-set max ``upd_seq`` is the current
    full-stream sketch. Feed those samples to
    ``operators.sketches.kmv_pairwise_from_samples`` for intersection
    estimates at any point in the stream's life.

    Hashing happens JVM-SIDE with the batch twin's exact expression
    (``md5_long(member, salt='kmv:')`` — functions/hashing.py), in
    a narrow projection BEFORE the stateful operator: the state-store
    shuffle carries 8-byte hashes, never raw members, and stream/batch
    bit-identity holds BY CONSTRUCTION (one shared expression), not by
    a parallel Python re-implementation. NULL members are ignored (the
    batch contract). The Python state function only merges longs.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from kafka_flink_spark.functions.hashing import md5_long

    out_schema = f"{set_col} string, upd_seq long, sample array<long>"
    state_schema = "seq long, hashes array<long>"

    def fn(key, pdfs, state: GroupState):
        seq, hs = 0, []
        if state.exists:
            seq, hs = state.get
            hs = list(hs)
        new = set()
        for pdf in pdfs:
            new.update(int(h) for h in pdf["_h"].tolist())
        merged = sorted(set(hs) | new)[:k]
        seq += 1
        state.update((seq, merged))
        yield pd.DataFrame(
            [(key[0], seq, merged)], columns=[set_col, "upd_seq", "sample"]
        )

    return (
        members.filter(F.col(member_col).isNotNull())
        .select(
            F.col(set_col).alias("_s"),
            md5_long(F.col(member_col).cast("string"), salt="kmv:").alias("_h"),
        )
        .groupBy("_s")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
