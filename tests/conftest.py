from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from mlvectordb_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mlvectordb-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """`spark_jobs(fn)` -> (Spark jobs `fn` launched, its result): `fn`
    runs under a fresh job group, counted from the status tracker."""
    sc = spark.sparkContext
    seq = itertools.count()

    def run(fn):
        group = f"test-jobs-{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return run


@pytest.fixture(scope="session")
def upsert_feed():
    """`upsert_feed(df, version=1)` -> `df` as a CDC feed for an index's
    `apply_changes`: every row an `upsert` event stamped `version`."""

    def feed(df, version=1):
        return df.withColumn("change_type", F.lit("upsert")).withColumn(
            "write_version", F.lit(version).cast("long")
        )

    return feed
