"""Checkpointed pipeline: idempotent resume, lineage metrics, skew routing."""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
import pytest

from full_lattice_search_spark.datagen import synth_documents
from full_lattice_search_spark.pipeline import completed_buckets, run_extraction


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "out"), str(tmp_path / "ckpt")


def test_run_and_resume(spark, dirs):
    out_dir, ckpt_dir = dirs
    docs = synth_documents(spark, 60, seed=3, mega_every=20).cache()

    m1 = run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=8)
    assert m1["buckets_processed"] == 8
    assert m1["docs"] == 60

    result = spark.read.parquet(out_dir)
    assert result.count() == 60
    assert result.select("doc_id").distinct().count() == 60

    done = completed_buckets(spark, ckpt_dir)
    assert done == set(range(8))

    # resume over a completed checkpoint: no-op
    m2 = run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=8)
    assert m2["buckets_processed"] == 0
    assert spark.read.parquet(out_dir).count() == 60


def test_partial_resume(spark, dirs):
    out_dir, ckpt_dir = dirs
    docs = synth_documents(spark, 40, seed=5, mega_every=0).cache()

    m1 = run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=4)
    assert m1["docs"] == 40

    # simulate a crash: drop two buckets' checkpoint rows
    ckpt = spark.read.parquet(ckpt_dir).filter(F.col("bucket") < 2)
    pdf = ckpt.toPandas()
    import shutil

    shutil.rmtree(ckpt_dir)
    from full_lattice_search_spark.schema import CHECKPOINT_SCHEMA

    spark.createDataFrame(pdf, CHECKPOINT_SCHEMA).write.parquet(ckpt_dir)

    m2 = run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=4)
    assert m2["buckets_done"] == 2
    assert m2["buckets_processed"] == 2
    # dynamic partition overwrite → still exactly one row per doc
    result = spark.read.parquet(out_dir)
    assert result.count() == 40
    assert result.select("doc_id").distinct().count() == 40


def test_metrics_lineage(spark, dirs):
    out_dir, ckpt_dir = dirs
    docs = synth_documents(spark, 20, seed=9, mega_every=0)
    m = run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=2)
    ckpt = spark.read.parquet(ckpt_dir).toPandas()
    assert set(ckpt["bucket"]) == {0, 1}
    assert (ckpt["status"] == "done").all()
    assert ckpt["n_docs"].sum() == 20
    assert ckpt["run_id"].nunique() == 1
    assert m["run_id"] == ckpt["run_id"].iloc[0]


def test_crash_between_groups_preserves_progress(spark, dirs):
    """buckets_per_job bounds checkpoint granularity: a crash after group 1
    must leave group 1 durable, and the resume must process ONLY the
    remaining buckets (never re-extracting completed ones)."""
    out_dir, ckpt_dir = dirs
    docs = synth_documents(spark, 40, seed=11, mega_every=0).cache()

    class Boom(RuntimeError):
        pass

    groups_seen = []

    def die_after_first(group):
        groups_seen.append(list(group))
        raise Boom()

    with pytest.raises(Boom):
        run_extraction(
            spark, docs, out_dir, ckpt_dir, n_buckets=8,
            buckets_per_job=2, _after_group=die_after_first,
        )
    assert groups_seen == [[0, 1]]
    # group 1's commit survived the crash
    assert completed_buckets(spark, ckpt_dir) == {0, 1}

    m2 = run_extraction(
        spark, docs, out_dir, ckpt_dir, n_buckets=8, buckets_per_job=2
    )
    assert m2["buckets_done"] == 2
    assert m2["buckets_processed"] == 6
    ckpt = spark.read.parquet(ckpt_dir).toPandas()
    # exactly one checkpoint row per bucket: nothing was re-processed
    assert sorted(ckpt["bucket"]) == list(range(8))
    assert ckpt["run_id"].nunique() == 2
    result = spark.read.parquet(out_dir)
    assert result.count() == 40
    assert result.select("doc_id").distinct().count() == 40


def test_no_output_rescan_for_metrics(spark, dirs, monkeypatch):
    """Checkpoint metrics ride the write job (Observation API): the
    just-written output parquet must never be read back during a run —
    at scale a read-back doubles the write path's I/O."""
    import pyspark.sql.readwriter as rw

    out_dir, ckpt_dir = dirs
    docs = synth_documents(spark, 30, seed=7, mega_every=10).cache()
    docs.count()  # materialize before instrumenting the reader

    read_paths = []
    orig = rw.DataFrameReader.parquet

    def spy(self, *paths, **kw):
        read_paths.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    m = run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=4)
    assert m["docs"] == 30
    assert all(not p.startswith(out_dir) for p in read_paths), read_paths
    # and the observed metrics match what actually landed on disk
    result = spark.read.parquet(out_dir)
    per_bucket = {
        r["bucket"]: (r["n"], r["s"])
        for r in result.groupBy("bucket")
        .agg(F.count("*").alias("n"), F.sum("n_spans").alias("s"))
        .collect()
    }
    from full_lattice_search_spark.schema import CHECKPOINT_SCHEMA

    ckpt = spark.read.schema(CHECKPOINT_SCHEMA).parquet(ckpt_dir)
    for r in ckpt.collect():
        want = per_bucket.get(r["bucket"], (0, 0))
        assert (r["n_docs"], r["n_spans"]) == (want[0], want[1] or 0)


def test_group_filter_hashes_the_output_doc_id(spark, dirs):
    """Extraction casts doc_id to string and the output is bucketed by that
    string; a group's input filter must hash the same value.  A bigint id
    hashed as a bigint lands in another group's bucket, whose dynamic
    overwrite then drops it."""
    out_dir, ckpt_dir = dirs
    docs = synth_documents(spark, 40, seed=3, mega_every=0).selectExpr(
        "CAST(substr(doc_id, 5) AS BIGINT) AS doc_id", "spans"
    )
    m = run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=8,
                       buckets_per_job=2)
    assert m["docs"] == 40
    result = spark.read.parquet(out_dir)
    assert result.count() == 40
    assert result.select("doc_id").distinct().count() == 40


def _data_files(directory):
    return list(Path(directory).glob("*.parquet"))


@pytest.mark.parametrize("buckets_per_job", [None, 3])
def test_one_file_per_output_bucket(spark, tmp_path, buckets_per_job):
    """The output write is rebalanced by bucket: each bucket directory
    holds exactly one data file, however many tasks produced its rows."""
    out_dir, ckpt_dir = tmp_path / "out", tmp_path / "ckpt"
    docs = synth_documents(spark, 120, seed=17, mega_every=30, partitions=4)
    m = run_extraction(spark, docs, str(out_dir), str(ckpt_dir), n_buckets=8,
                       buckets_per_job=buckets_per_job)
    assert m["docs"] == 120
    bucket_dirs = sorted(out_dir.glob("bucket=*"))
    assert len(bucket_dirs) == 8
    for d in bucket_dirs:
        assert len(_data_files(d)) == 1, d


def test_checkpoint_one_file_per_group(spark, dirs):
    out_dir, ckpt_dir = dirs
    docs = synth_documents(spark, 40, seed=19, mega_every=0)
    run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=8,
                   buckets_per_job=4)
    assert len(_data_files(ckpt_dir)) == 2
    assert completed_buckets(spark, ckpt_dir) == set(range(8))


def test_run_extraction_leaves_overwrite_mode_static(spark, tmp_path):
    """run_extraction's dynamic partition overwrite is a per-write option:
    it must not leak into the session, where it would turn a later full
    rebuild of the token index into a partial one that keeps the stale
    postings of every bucket the new corpus does not touch."""
    from full_lattice_search_spark.config import LatticeConfig
    from full_lattice_search_spark.functions.tokenizer import lattice_tokenize
    from full_lattice_search_spark.sources.token_index import write_token_index

    key = "spark.sql.sources.partitionOverwriteMode"
    index = str(tmp_path / "index")
    write_token_index(synth_documents(spark, 200, seed=23, mega_every=0), index)

    before = spark.conf.get(key)
    run_extraction(spark, synth_documents(spark, 20, seed=23, mega_every=0),
                   str(tmp_path / "out"), str(tmp_path / "ckpt"), n_buckets=4)
    assert spark.conf.get(key) == before

    small = synth_documents(spark, 3, seed=29, mega_every=0)
    write_token_index(small, index)
    def doc_ids(df):
        return {r["doc_id"] for r in df.select("doc_id").distinct().collect()}

    postings = spark.read.parquet(index)
    assert doc_ids(postings) == doc_ids(small)
    assert postings.count() == lattice_tokenize(small, LatticeConfig()).count()
    assert doc_ids(spark.read.parquet(f"{index}_doclen")) == doc_ids(small)


def test_completed_buckets_missing_dir_is_empty(spark, tmp_path, monkeypatch):
    # a fresh run asks the filesystem; it never probes with a failing read
    from pyspark.sql.readwriter import DataFrameReader

    reads = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.append(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    assert completed_buckets(spark, str(tmp_path / "nothing-here")) == set()
    assert reads == []


def test_completed_buckets_empty_dir_is_empty(spark, tmp_path):
    assert completed_buckets(spark, str(tmp_path)) == set()


def test_completed_buckets_corrupt_checkpoint_raises(spark, dirs):
    # a corrupt checkpoint must not read as "nothing done": that would
    # silently re-process every bucket
    _, ckpt_dir = dirs
    Path(ckpt_dir).mkdir()
    (Path(ckpt_dir) / "part-00000.snappy.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="(?i)parquet|corrupt|footer|magic"):
        completed_buckets(spark, ckpt_dir)


# One run at 32 buckets in one group, built as SQL text, makes ~300 py4j
# round trips; the budget leaves room for the release commands py4j sends
# when Python garbage-collects JVM object handles during the call.  Built
# column by column, the 96 Observation aggregates alone cost ~4,700.
PLAN_BUDGET_PY4J = 1_500


def test_run_extraction_plan_budget(spark, tmp_path, count_py4j):
    """Planning a run is SQL text, not Column-API chains: one run at 32
    buckets stays under a stated py4j round-trip budget."""
    docs = synth_documents(spark, 40, seed=43, mega_every=10).cache()
    docs.count()
    # the first run pays one-time class loading; budget the warm call
    run_extraction(spark, docs, str(tmp_path / "o0"), str(tmp_path / "c0"),
                   n_buckets=32)
    m, trips = count_py4j(lambda: run_extraction(
        spark, docs, str(tmp_path / "o1"), str(tmp_path / "c1"), n_buckets=32,
    ))
    assert m["docs"] == 40 and m["buckets_processed"] == 32
    assert trips < PLAN_BUDGET_PY4J, trips
    docs.unpersist()


@pytest.mark.parametrize("buckets_per_job", [1, 5, None])
def test_checkpoint_metrics_equal_direct_count(spark, dirs, buckets_per_job):
    """The observed per-bucket metrics equal a direct count of the written
    output, whatever the grouping; a bucket no document hashes to gets a
    row of zeros (a group of only empty buckets aggregates to null)."""
    out_dir, ckpt_dir = dirs
    n_buckets = 16
    docs = synth_documents(spark, 9, seed=47, mega_every=3)
    run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=n_buckets,
                   buckets_per_job=buckets_per_job)
    direct = {
        r["bucket"]: (r["n"], r["s"], r["c"])
        for r in spark.read.parquet(out_dir).groupBy("bucket").agg(
            F.count("*").alias("n"),
            F.sum("n_spans").alias("s"),
            F.sum("n_text_chars").alias("c"),
        ).collect()
    }
    assert sum(n for n, _, _ in direct.values()) == 9
    assert len(direct) < n_buckets  # some buckets are empty
    ckpt = spark.read.parquet(ckpt_dir).collect()
    assert sorted(r["bucket"] for r in ckpt) == list(range(n_buckets))
    for r in ckpt:
        want = direct.get(r["bucket"], (0, 0, 0))
        assert (r["n_docs"], r["n_spans"], r["n_text_chars"]) == want, r
