"""Source/sink dispatch (sources/catalog.py): parquet, catalog tables, and
the Iceberg spelling; the schema-caching parquet reader.

The sandbox has no Iceberg runtime jar, so the `iceberg:` spelling is
exercised to the dispatch boundary and the failure mode is pinned; the
parquet fallback (bucket-partitioned + dynamic partition overwrite — the
behavior the Iceberg `overwritePartitions` path maps onto) is asserted
for real.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from full_lattice_search_spark.sources.catalog import (
    read_parquet,
    read_source,
    write_bucketed,
)


def test_parquet_dispatch_roundtrip(spark, tmp_path):
    df = spark.range(10).withColumnRenamed("id", "doc_id")
    path = str(tmp_path / "docs")
    df.write.parquet(path)
    assert read_source(spark, path).count() == 10


def test_table_dispatch_resolves_session_catalog(spark):
    spark.range(7).createOrReplaceTempView("catalog_smoke_view")
    assert read_source(spark, "table:catalog_smoke_view").count() == 7


def test_iceberg_dispatch_reaches_datasource_lookup(spark):
    """`iceberg:` must be routed to format('iceberg') — with no Iceberg
    runtime jar on this sandbox's classpath the lookup fails with the
    data-source-not-found error (NOT a dispatch/parse error).  On a
    cluster with iceberg-spark-runtime on the classpath the same call
    loads the table; this test then skips."""
    try:
        read_source(spark, "iceberg:db.some_table").count()
    except Exception as ex:  # noqa: BLE001
        msg = str(ex)
        assert (
            "iceberg" in msg.lower()
            and ("DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg)
        ), f"unexpected failure mode: {msg[:300]}"
        return
    pytest.skip("Iceberg runtime present — iceberg: path loaded for real")


def test_write_bucketed_dynamic_partition_overwrite(spark, tmp_path):
    """The parquet fallback of the Iceberg `overwritePartitions` commit:
    rewriting ONE bucket must replace only that bucket's partition and
    leave the others untouched (idempotent per-bucket replace, the
    pipeline's resume primitive)."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "bucketed")
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).alias("bucket")
    )
    # the session stays at its default (static) overwrite mode: dynamic
    # overwrite is write_bucketed's own per-write option
    write_bucketed(df, target)
    # rewrite bucket 2 only, with doubled doc_ids
    patch = df.filter(F.col("bucket") == 2).withColumn(
        "doc_id", F.col("doc_id") * 1000
    )
    write_bucketed(patch, target)
    out = spark.read.parquet(target)
    assert out.count() == 100
    b2 = [r["doc_id"] for r in out.filter("bucket = 2").collect()]
    assert all(d >= 1000 for d in b2) and len(b2) == 25
    assert out.filter("bucket = 1").filter("doc_id >= 1000").count() == 0
    # rebalanced by bucket: one data file per bucket directory
    for b in range(4):
        files = (tmp_path / "bucketed" / f"bucket={b}").glob("*.parquet")
        assert len(list(files)) == 1


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_read_parquet_reuses_the_inferred_schema(spark, tmp_path, count_jobs):
    """Schema inference is a Spark job; a second read of the unchanged
    file passes the cached schema and launches none."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [3, 1, 2], "b": ["x", None, "z"]}), path)
    first, jobs_first = count_jobs(lambda: read_parquet(spark, path))
    again, jobs_again = count_jobs(lambda: read_parquet(spark, path))
    assert jobs_first >= 1  # the count sees the inference job
    assert jobs_again == 0
    plain = spark.read.parquet(path)
    assert again.schema == first.schema == plain.schema
    assert _rows(again) == _rows(first) == _rows(plain)
    # read_source's parquet spelling goes through the same cache
    _, jobs_source = count_jobs(lambda: read_source(spark, path))
    assert jobs_source == 0


def test_read_parquet_reinfers_a_rewritten_file(spark, tmp_path, count_jobs):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    st = os.stat(path)
    pq.write_table(pa.table({"a": [1, 2], "c": [0.5, 1.5]}), path)
    # even with the old mtime put back, size and change time differ
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    df, jobs = count_jobs(lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert df.columns == ["a", "c"]
    assert _rows(df) == _rows(spark.read.parquet(path))


@pytest.mark.parametrize("spelling", ["directory", "file_uri"])
def test_read_parquet_bypasses_cache_for_dirs_and_uris(
    spark, tmp_path, count_jobs, spelling
):
    """A directory's file set (and anything behind a URI) can change
    without the path's own stat changing: every read infers."""
    if spelling == "directory":
        path = str(tmp_path / "dir")
        spark.range(5).write.parquet(path)
    else:
        local = tmp_path / "t.parquet"
        pq.write_table(pa.table({"id": list(range(5))}), str(local))
        path = local.as_uri()
        assert path.startswith("file:")
    read_parquet(spark, path)
    df, jobs = count_jobs(lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert _rows(df) == _rows(spark.read.parquet(path))
