from __future__ import annotations

import collections
import gc
import time
import uuid

import pytest

from full_lattice_search_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    spark = build_session("fls-tests", cores=4, driver_memory="4g")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    yield spark
    spark.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> ``(fn(), n)``: n = the Spark jobs ``fn``
    launched, counted with a job group and the status tracker (after the
    listener bus has delivered every event)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count jobs")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def count_py4j(spark, monkeypatch):
    """``count_py4j(fn)`` -> ``(fn(), n)``: n = the py4j commands the driver
    sent to the JVM while ``fn`` ran — each one a round trip (a JVM call,
    an attribute read), the unit of planning cost.  py4j releases a JVM
    object from a finalizer thread at an arbitrary moment after its Python
    proxy dies; releases are held back until the count is taken (and the
    cycle collector is off), so the count is ``fn``'s own calls and does
    not depend on that thread's timing."""
    gateway_client = spark.sparkContext._gateway._gateway_client
    client = type(gateway_client)
    real = client.send_command

    def run(fn):
        n = 0

        def counted(self, *args, **kwargs):
            nonlocal n
            n += 1
            return real(self, *args, **kwargs)

        pending = gateway_client.finalizer_deque
        gc.collect()
        for _ in range(500):
            if not pending:
                break
            time.sleep(0.01)
        held = collections.deque()
        gateway_client.finalizer_deque = held
        gc.disable()
        monkeypatch.setattr(client, "send_command", counted)
        try:
            out = fn()
        finally:
            monkeypatch.setattr(client, "send_command", real)
            gc.enable()
            gateway_client.finalizer_deque = pending
            pending.extendleft(reversed(held))
        return out, n

    return run


OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


@pytest.fixture(autouse=True)
def _no_overwrite_mode_leak(request):
    """Fail any test that leaves the session's partition overwrite mode
    changed: under a leaked ``dynamic`` a later full overwrite keeps the
    stale partitions its new data does not touch."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    before = spark.conf.get(OVERWRITE_MODE)
    yield
    after = spark.conf.get(OVERWRITE_MODE)
    if after != before:
        spark.conf.set(OVERWRITE_MODE, before)
        pytest.fail(f"{OVERWRITE_MODE} leaked: {before!r} -> {after!r}")
