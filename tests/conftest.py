from __future__ import annotations

import contextlib
import os
import sys
import time

import pytest

# Pin the HOST timezone, not just the Spark session's: PySpark's
# TimestampType.fromInternal renders collected timestamps via
# datetime.fromtimestamp() (host TZ), so golden tests that compare
# collect()-ed instants against Python-built naive-UTC datetimes would
# fail on any non-UTC machine. The non-UTC-SESSION contract probe
# (test_driver_contract) is unaffected — it varies the Spark session
# conf, which this does not touch.
os.environ["TZ"] = "UTC"
time.tzset()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spotify_serverless_etl_pipeline_engineering_with_azure_spark import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def boot_test_session():
    return get_spark(
        "sse_tests",
        extra={"spark.sql.shuffle.partitions": "8", "spark.driver.memory": "8g"},
    )


@pytest.fixture(scope="session")
def spark():
    yield boot_test_session()


@pytest.fixture(scope="session")
def plan_records(spark):
    """The plan record of every registered query and index build at
    SF_SMOKE (tests/plan_digest.py), built once per session."""
    from .plan_digest import digests

    return digests(spark, SF_SMOKE)


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SSE_TEST_SF_DIR", SF_SMOKE)


@contextlib.contextmanager
def checkpoint_dir(spark, path):
    """Set the session-scoped SparkContext's checkpoint dir (the
    engine's one durability switch) for the block and yield it as a
    local path; restore the no-dir default on exit, so every other
    test keeps the local-checkpoint path."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None, "fixture session should start without one"
    sc.setCheckpointDir(str(path))
    try:
        yield sc.getCheckpointDir().replace("file:", "")
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(spark._jvm.scala.Option.apply(None))


@contextlib.contextmanager
def py4j_round_trips():
    """Count the commands the calling thread sends to the JVM inside
    the block: every call on a Java object and every JVM attribute
    lookup is one py4j round trip. Releases of dead Java references
    run on py4j's own thread, whenever it gets to them, and are not
    counted. Yields a namespace whose ``n`` is the count so far."""
    import threading
    from types import SimpleNamespace

    from pyspark import SparkContext

    client = SparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    sent = SimpleNamespace(n=0)

    def counted(*args, **kwargs):
        sent.n += threading.get_ident() == caller
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        yield sent
    finally:
        del client.send_command
