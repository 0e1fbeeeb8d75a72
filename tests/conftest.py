from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trackintel_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="trackintel_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@contextmanager
def shuffle_partitions(spark, n: int):
    """Set ``spark.sql.shuffle.partitions`` on the shared session and
    restore it afterwards. A stateful streaming query started inside
    takes ``n`` state partitions."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def make_pfs(spark, rows):
    """rows: (id, user_id, iso_ts, lon, lat)"""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "id long, user_id long, tracked_at string, lon double, lat double")
    return df.select(
        "id",
        "user_id",
        F.to_timestamp("tracked_at").alias("tracked_at"),
        F.struct(F.col("lon"), F.col("lat")).alias("geom"),
    )
