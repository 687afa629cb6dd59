"""The one SparkSession builder for the package's entry points, scripts and
tests (the frozen ``bench.py`` and the benchmark's ``perfbench/run.py``
keep their own).

It sets what every query here relies on and nothing else: adaptive query
execution and Arrow transfers on every session; on a local session also
``local[cores]``, as many shuffle partitions as cores, and no UI.  No time
zone: the query builders compute epoch offsets of ``TIMESTAMP_NTZ``
columns without a zone cast, so their results do not depend on it.
"""

from __future__ import annotations


def build_session(app_name: str, cores: int | None = None,
                  driver_memory: str | None = None):
    """Get or create the session ``app_name``.

    ``cores``: run on ``local[cores]``; None leaves the master to
    spark-submit (the CLI).  ``driver_memory``: ``spark.driver.memory``,
    e.g. ``"4g"``; None keeps Spark's default."""
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if cores is not None:
        builder = (
            builder.master(f"local[{cores}]")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.ui.enabled", "false")
        )
    if driver_memory is not None:
        builder = builder.config("spark.driver.memory", driver_memory)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
