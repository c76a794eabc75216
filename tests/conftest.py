"""Shared fixtures: one SparkSession + one DuckDB connection per test run.

The parity tests run at sf0.001 (fast; the driver's gate reruns the same
comparisons at sf0.01). The Spark session uses the engine defaults with a
small shuffle-partition count so the whole suite stays quick on local[N].
"""

from __future__ import annotations

import contextlib
import os
import sys
import threading
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Plan-shape tests monkeypatch builder internals (verify-join hints,
# barrier devices) and must see a FRESH build every call — disable the
# registry's session-scoped built-plan memo for the whole suite, even
# when the calling shell exported MCS_PLAN_CACHE=1. The memo itself has
# its own focused test (test_registry_plan_cache.py, which re-enables
# it locally).
os.environ["MCS_PLAN_CACHE"] = "0"


@pytest.fixture(scope="session")
def spark():
    from mariadb_columnstore_engine_spark.session import get_session

    spark = get_session("mcs-spark-tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    from mariadb_columnstore_engine_spark.oracle import duckdb_connect

    con = duckdb_connect(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def py4j_calls(spark):
    """``with py4j_calls() as calls: ...`` — ``calls.n`` counts the
    py4j round trips this thread made inside the block (the gateway
    client's ``send_command``; the py4j garbage-collection thread's
    commands are not counted)."""
    client = spark.sparkContext._gateway._gateway_client

    class Calls:
        n = 0

    @contextlib.contextmanager
    def counting():
        calls, me, send = Calls(), threading.get_ident(), client.send_command

        def counted(*args, **kwargs):
            if threading.get_ident() == me:
                calls.n += 1
            return send(*args, **kwargs)

        client.send_command = counted
        try:
            yield calls
        finally:
            del client.send_command

    return counting


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` → (``fn()``, the Spark jobs it ran): the jobs
    of a private job group set on this thread around the call."""
    sc = spark.sparkContext

    def run(fn):
        group = f"test-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
