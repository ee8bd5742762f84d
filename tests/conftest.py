from contextlib import contextmanager

import pytest

from timedb_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # Tiny frames: a small fixed shuffle width beats 32 (task-launch overhead
    # dominates at test scale; production sizing lives in session.get_spark).
    s = get_spark(
        "timedb_spark-tests",
        extra_conf={"spark.sql.shuffle.partitions": "4", "spark.default.parallelism": "4"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_PROVIDER = "spark.sql.streaming.stateStore.providerClass"


@contextmanager
def rocksdb_state_store(spark):
    """The RocksDB state store provider (the v2 state API requires it) for
    the block, then the session's previous provider again."""
    prev = spark.conf.get(_PROVIDER, None)
    spark.conf.set(_PROVIDER, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_PROVIDER)
        else:
            spark.conf.set(_PROVIDER, prev)
