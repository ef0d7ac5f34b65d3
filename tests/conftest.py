from __future__ import annotations

import pytest

from bda_spadochrony_spark.session import get_session

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_session("bda-tests", master="local[4]",
                        extra_conf={"spark.sql.shuffle.partitions": "4",
                                    "spark.default.parallelism": "4"})
    yield spark
    spark.stop()


@pytest.fixture
def jobs_issued(spark):
    """``jobs_issued(fn) -> (fn(), n)``: ``n`` counts the Spark jobs ``fn``
    issued, through a ``statusTracker`` job group of its own."""
    import itertools
    sc = spark.sparkContext
    calls = itertools.count()

    def run(fn):
        group = f"jobs-issued-{next(calls)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return run


@pytest.fixture
def conf_override(spark):
    """``conf_override({key: value})`` sets session confs for the rest of
    the test; the fixture restores the previous values."""
    saved = {}

    def apply(conf):
        for k, v in conf.items():
            saved.setdefault(k, spark.conf.get(k, None))
            spark.conf.set(k, v)
    yield apply
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
