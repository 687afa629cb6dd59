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
- anything else         → ``read_parquet(spark, path)``

``read_parquet`` is the package's one parquet reader.  ``spark.read.parquet``
infers the schema with a Spark job on every call (footer read); for a local
regular file the reader caches the inferred ``StructType`` and later reads
pass it in, so re-reading an unchanged file plans with no job.

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

import os
import stat
import threading
import weakref
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

ICEBERG_PREFIX = "iceberg:"
TABLE_PREFIX = "table:"

# inferred schemas of local parquet files, per session, least recently
# used first; the key changes whenever the file is rewritten
_SCHEMAS_PER_SESSION = 64
_schemas: weakref.WeakKeyDictionary[
    SparkSession, OrderedDict[tuple, StructType]
] = weakref.WeakKeyDictionary()
_schemas_lock = threading.Lock()


def read_source(spark: SparkSession, source: str) -> DataFrame:
    """Read a documents/tokens/events table from a source spec string."""
    if source.startswith(ICEBERG_PREFIX):
        name = source[len(ICEBERG_PREFIX):]
        return spark.read.format("iceberg").load(name)
    if source.startswith(TABLE_PREFIX):
        return spark.read.table(source[len(TABLE_PREFIX):])
    return read_parquet(spark, source)


def _file_key(path: str) -> tuple | None:
    """Cache key of a local regular file: absolute path, size and change
    times (a rewrite changes at least one).  ``None`` for anything else —
    URIs (any ``scheme:``), directories, missing or unreadable paths."""
    if ":" in path:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (os.path.abspath(path), st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without re-inferring the schema of an
    unchanged local file.

    The first read of a local regular file infers its schema as usual (one
    Spark job) and caches it under (session, absolute path, size, mtime,
    ctime); later reads pass the cached schema (no job).  Directories
    (their file set can change without the directory's own stat changing)
    and URIs (not stat-able here) read the plain way every time."""
    key = _file_key(path)
    if key is None:
        return spark.read.parquet(path)
    with _schemas_lock:
        cached = _schemas.setdefault(spark, OrderedDict())
        schema = cached.get(key)
        if schema is not None:
            cached.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schemas_lock:
        cached[key] = df.schema
        while len(cached) > _SCHEMAS_PER_SESSION:
            cached.popitem(last=False)
    return df


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
