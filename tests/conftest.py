from __future__ import annotations

import uuid

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("fls-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
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
    an attribute read, an object release), the unit of planning cost."""
    client = type(spark.sparkContext._gateway._gateway_client)
    real = client.send_command

    def run(fn):
        n = 0

        def counted(self, *args, **kwargs):
            nonlocal n
            n += 1
            return real(self, *args, **kwargs)

        monkeypatch.setattr(client, "send_command", counted)
        try:
            out = fn()
        finally:
            monkeypatch.setattr(client, "send_command", real)
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
