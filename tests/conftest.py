import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from adavnceseo_crawler_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture()
def tmp_catalog(spark, tmp_path):
    from adavnceseo_crawler_spark.catalog import SnapshotCatalog

    return SnapshotCatalog(spark, str(tmp_path / "warehouse"))


def count_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group; return its result and the
    number of Spark jobs it submitted."""
    sc = spark.sparkContext
    group = f"count_jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def count_py4j(fn):
    """Run ``fn()``; return its result and the number of Py4J commands its
    thread sent to the JVM meanwhile (each one is a socket round trip).

    Python's cyclic garbage collector is flushed before and paused during
    ``fn``: a collection would release JVM references held by earlier,
    unrelated objects, and each release is a command of its own."""
    import gc
    import threading

    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    caller = threading.get_ident()
    n = 0

    def counting(self, command, *args, **kwargs):
        nonlocal n
        n += threading.get_ident() == caller
        return send(self, command, *args, **kwargs)

    gc.collect()
    gc.disable()
    ClientServerConnection.send_command = counting
    try:
        out = fn()
    finally:
        ClientServerConnection.send_command = send
        gc.enable()
    return out, n
