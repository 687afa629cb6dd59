"""Source dispatch: one entry point for every table the engine reads.

The north-rule deployment target is an Iceberg catalog (10^12-row
interleaved-documents table, bucket-partitioned); this sandbox has no
Iceberg runtime jars, so the same call sites read plain parquet.  The
dispatch keeps the two spellable from config/CLI without code changes:

- ``iceberg:db.table``  → ``spark.read.format("iceberg").load("db.table")``
  (requires the Iceberg Spark runtime on the cluster classpath; partition
  transforms — ``bucket(n, doc_id)`` for the corpus, ``bucket(n, token)``
  for the index — make the engine's bucket filters partition pruning)
- ``table:name``        → ``spark.read.table(name)`` (any catalog-managed
  table: Iceberg, Delta, Hive — whatever the session catalog resolves)
- anything else         → ``spark.read.parquet(path)``

Write side: ``write_bucketed`` is the package's one bucketed writer.  It
rebalances the rows by the partition column first (the ``REBALANCE`` hint:
a hash exchange whose partitions AQE coalesces when small and splits when
skewed), so each bucket is written by one task as one file — the analogue
of Iceberg's ``write.distribution-mode=hash``.  It owns dynamic partition
overwrite as a per-write option, never in the session conf, which maps
onto Iceberg's ``overwrite-partitions`` snapshot commit (idempotent
per-bucket replace); the ``bucket`` column maps onto the table's bucket
partition transform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ICEBERG_PREFIX = "iceberg:"
TABLE_PREFIX = "table:"


def read_source(spark: SparkSession, source: str) -> DataFrame:
    """Read a documents/tokens/events table from a source spec string."""
    if source.startswith(ICEBERG_PREFIX):
        name = source[len(ICEBERG_PREFIX):]
        return spark.read.format("iceberg").load(name)
    if source.startswith(TABLE_PREFIX):
        return spark.read.table(source[len(TABLE_PREFIX):])
    return spark.read.parquet(source)


def write_bucketed(
    df: DataFrame,
    target: str,
    partition_col: str = "bucket",
    mode: str = "overwrite",
) -> None:
    """Write partitioned output to parquet or an Iceberg table, rebalanced
    by ``partition_col``: one file per partition value (more only for a
    value AQE splits as skewed).

    Parquet path: dynamic partition overwrite as a per-write option (a
    re-processed bucket replaces itself; the session conf is untouched).
    Iceberg path: ``overwritePartitions`` — the same idempotent per-bucket
    replacement as a snapshot commit."""
    df = df.hint("rebalance", partition_col)
    if target.startswith(ICEBERG_PREFIX):
        name = target[len(ICEBERG_PREFIX):]
        writer = df.writeTo(name).using("iceberg")
        if mode == "overwrite":
            writer.overwritePartitions()
        else:
            writer.append()
        return
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(target)
    )
