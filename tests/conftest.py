from __future__ import annotations

from contextlib import contextmanager

import duckdb
import pytest

from kafka_flink_spark.schemas import FIXTURE_TABLES
from kafka_flink_spark.session import get_session

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_session("kafka_flink_spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture
def reliable_checkpoints(spark, tmp_path):
    """Context manager factory: inside ``with reliable_checkpoints():``
    the SparkContext has a reliable checkpoint directory under
    ``tmp_path`` (yielded), so every ``pin`` writes reliable
    checkpoints; on exit the context's previous directory (normally
    none) is restored."""
    jsc = spark.sparkContext._jsc.sc()

    @contextmanager
    def on():
        saved = jsc.checkpointDir()  # scala Option[String]
        ckdir = str(tmp_path / "reliable_ck")
        spark.sparkContext.setCheckpointDir(ckdir)
        try:
            yield ckdir
        finally:
            getattr(jsc, "checkpointDir_$eq")(saved)

    return on


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def register_duck_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
