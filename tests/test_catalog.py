"""Source/sink dispatch (sources/catalog.py): parquet, catalog tables, and
the Iceberg spelling.

The sandbox has no Iceberg runtime jar, so the `iceberg:` spelling is
exercised to the dispatch boundary and the failure mode is pinned; the
parquet fallback (bucket-partitioned + dynamic partition overwrite — the
behavior the Iceberg `overwritePartitions` path maps onto) is asserted
for real.
"""

import pytest

from full_lattice_search_spark.sources.catalog import (
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
