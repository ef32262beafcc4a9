from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from micromegas_spark.session import get_spark  # noqa: E402

TESTDATA = "/root/testdata"
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_CORRECT = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("micromegas-spark-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@contextmanager
def arrow_batch_rows(spark, n: int):
    """Cap result-stream batches at ``n`` rows (Spark's
    spark.sql.execution.arrow.maxRecordsPerBatch) inside the block, then
    restore the session-wide setting."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    return duckdb.connect()


def register_duck_views(con, sf_dir: str):
    from micromegas_spark.sources.tables import TEST_TABLES

    for t in TEST_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con
