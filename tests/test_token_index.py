"""Materialized token index: partition pruning + result parity with the
direct document-scan path."""

from __future__ import annotations

import pytest

from full_lattice_search_spark.config import LatticeConfig, MatchLatticeParams
from full_lattice_search_spark.datagen import synth_documents
from full_lattice_search_spark.operators.match import match_lattice
from full_lattice_search_spark.sources.token_index import (
    match_lattice_indexed,
    write_token_index,
)


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("index") / "tokens")
    docs = synth_documents(spark, 60, seed=13, mega_every=0)
    write_token_index(docs, path, LatticeConfig(), n_token_buckets=16)
    return path


def test_indexed_match_parity_with_scan(spark, index_path):
    docs = synth_documents(spark, 60, seed=13, mega_every=0)
    params = MatchLatticeParams(slop=3)
    direct = {
        (r["doc_id"], round(r["score"], 6), r["n_spans"])
        for r in match_lattice(docs, "the quick", LatticeConfig(), params).collect()
    }
    indexed = {
        (r["doc_id"], round(r["score"], 6), r["n_spans"])
        for r in match_lattice_indexed(
            spark, index_path, "the quick", LatticeConfig(), params,
            n_token_buckets=16,
        ).collect()
    }
    assert indexed == direct
    assert len(indexed) > 0


def test_indexed_lucene_similarity_parity_with_scan(spark, index_path):
    """similarity='lucene' over the PRUNED index: per-doc lengths come
    from the persisted doclen stats table (dl + dl_norm), per-term df
    from the term's own bucket — results must equal the full doc-scan
    path bit-for-bit."""
    docs = synth_documents(spark, 60, seed=13, mega_every=0)
    params = MatchLatticeParams(slop=3, similarity="lucene")
    key = lambda rows: sorted(
        (r["doc_id"], r["score"], r["n_spans"], r["similarity"])
        for r in rows
    )
    direct = key(
        match_lattice(docs, "the quick", LatticeConfig(), params).collect()
    )
    indexed = key(
        match_lattice_indexed(
            spark, index_path, "the quick", LatticeConfig(), params,
            n_token_buckets=16,
        ).collect()
    )
    assert indexed == direct
    assert len(indexed) > 0


def test_index_scan_prunes_partitions(spark, index_path):
    hits = match_lattice_indexed(
        spark, index_path, "quick", LatticeConfig(), MatchLatticeParams(),
        n_token_buckets=16,
    )
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "token_bucket" in plan.split("PartitionFilters")[1][:200]
    # rowgroup-level pushdown still applies within the bucket
    assert "PushedFilters" in plan


def test_one_postings_file_per_token_bucket(index_path):
    """The postings are rebalanced by bucket before the write: each
    token_bucket directory holds exactly one data file, not one per
    tokenizer task."""
    from pathlib import Path

    bucket_dirs = sorted(Path(index_path).glob("token_bucket=*"))
    assert len(bucket_dirs) == 16
    for d in bucket_dirs:
        assert len(list(d.glob("*.parquet"))) == 1, d


def test_rebuild_is_full_overwrite_under_dynamic_session(spark, tmp_path):
    """A rebuild replaces every bucket even when the caller's session runs
    dynamic partition overwrite: no stale postings survive."""
    key = "spark.sql.sources.partitionOverwriteMode"
    path = str(tmp_path / "tokens")
    write_token_index(synth_documents(spark, 50, seed=37, mega_every=0), path)
    small = synth_documents(spark, 2, seed=41, mega_every=0)
    before = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        write_token_index(small, path)
    finally:
        spark.conf.set(key, before)
    got = {r["doc_id"] for r in spark.read.parquet(path).select("doc_id").collect()}
    assert got == {r["doc_id"] for r in small.select("doc_id").collect()}


def test_read_source_dispatch(spark, tmp_path):
    """catalog.read_source: parquet paths read directly; iceberg:/table:
    specs route to the catalog reader (format check only — no Iceberg
    runtime in this sandbox)."""
    import pytest as _pytest

    from full_lattice_search_spark.datagen import synth_documents
    from full_lattice_search_spark.sources.catalog import read_source

    p = str(tmp_path / "docs")
    synth_documents(spark, 5, seed=1, mega_every=0).write.parquet(p)
    assert read_source(spark, p).count() == 5
    # iceberg spec must reach the iceberg data source (absent here → error
    # mentioning the format/table, not a parquet fallback)
    with _pytest.raises(Exception):
        read_source(spark, "iceberg:db.docs").count()
    with _pytest.raises(Exception):
        read_source(spark, "table:no_such_table").count()


def test_indexed_phrase_prefix_parity_with_scan(spark, index_path):
    """phrase_prefix over the pruned index: expansion buckets resolved
    from the vocab table must make the span DP see every prefix-matching
    token's postings — results equal the full doc-scan path."""
    docs = synth_documents(spark, 60, seed=13, mega_every=0)
    params = MatchLatticeParams(slop=3)
    key = lambda rows: sorted(
        (r["doc_id"], round(r["score"], 6), r["n_spans"]) for r in rows
    )
    direct = key(
        match_lattice(
            docs, "the qu", LatticeConfig(), params, phrase_prefix=True
        ).collect()
    )
    indexed = key(
        match_lattice_indexed(
            spark, index_path, "the qu", LatticeConfig(), params,
            n_token_buckets=16, phrase_prefix=True,
        ).collect()
    )
    assert indexed == direct
    assert len(indexed) > 0


def test_indexed_lucene_phrase_prefix_parity_with_scan(spark, index_path):
    """similarity='lucene' × phrase_prefix over the PRUNED index — the
    combination that used to raise: the expansion idf blend now reads
    document frequencies from the vocab table and must equal the full
    doc-scan path bit-for-bit."""
    docs = synth_documents(spark, 60, seed=13, mega_every=0)
    params = MatchLatticeParams(slop=3, similarity="lucene")
    key = lambda rows: sorted(
        (r["doc_id"], r["score"], r["n_spans"], r["similarity"])
        for r in rows
    )
    direct = key(
        match_lattice(
            docs, "the qu", LatticeConfig(), params, phrase_prefix=True
        ).collect()
    )
    indexed = key(
        match_lattice_indexed(
            spark, index_path, "the qu", LatticeConfig(), params,
            n_token_buckets=16, phrase_prefix=True,
        ).collect()
    )
    assert indexed == direct
    assert len(indexed) > 0


def test_lucene_prefix_pruned_without_vocab_still_raises(spark, index_path):
    """The guard survives for callers that hand match_lattice_tokens a
    pruned view + doclen but NO vocab — silently-wrong idf blends must
    stay impossible."""
    import pyspark.sql.functions as F

    from full_lattice_search_spark.operators.match import (
        match_lattice_tokens,
    )

    tokens = spark.read.parquet(index_path).filter(
        F.col("token_bucket") == 0
    )
    doclen = spark.read.parquet(f"{index_path}_doclen")
    with pytest.raises(ValueError, match="vocab"):
        match_lattice_tokens(
            tokens, "the qu", LatticeConfig(),
            MatchLatticeParams(slop=3, similarity="lucene"),
            phrase_prefix=True, doclen=doclen,
        )


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_write_never_reads_parquet(spark, tmp_path, monkeypatch):
    """The stats come from the tokens the postings write produced: no
    parquet read (no partition listing, no schema inference, no rescan of
    the bucket files just written)."""
    import pyspark.sql.readwriter as rw

    docs = synth_documents(spark, 20, seed=53, mega_every=0)
    reads = []
    real = rw.DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.append(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    write_token_index(docs, str(tmp_path / "tokens"), n_token_buckets=4)
    assert reads == []


def test_write_releases_token_cache(spark, tmp_path, monkeypatch):
    """The token frame persisted for the three writes is released when the
    call returns and when a write raises."""
    import pyspark.sql.readwriter as rw

    docs = synth_documents(spark, 20, seed=59, mega_every=0)
    before = _persistent_rdds(spark)
    write_token_index(docs, str(tmp_path / "ok"), n_token_buckets=4)
    assert _persistent_rdds(spark) == before

    class Boom(RuntimeError):
        pass

    real = rw.DataFrameWriter.parquet

    def doclen_fails(self, path, *args, **kw):
        if str(path).endswith("_doclen"):
            raise Boom(path)
        return real(self, path, *args, **kw)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", doclen_fails)
    with pytest.raises(Boom):
        write_token_index(docs, str(tmp_path / "fails"), n_token_buckets=4)
    assert _persistent_rdds(spark) == before


def test_stats_equal_aggregates_of_the_postings(spark, index_path):
    """``_doclen`` and ``_vocab`` equal the same aggregates computed from
    a plain re-read of the written postings."""
    import pyspark.sql.functions as F

    postings = spark.read.parquet(index_path)
    rows = lambda df, *cols: sorted(tuple(r[c] for c in cols) for r in df.collect())
    doclen = postings.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        F.sum((F.col("pos_inc") > 0).cast("long")).alias("dl_norm"),
    )
    vocab = postings.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df"),
        F.min("token_bucket").alias("token_bucket"),
    )
    cols = ("doc_id", "dl", "dl_norm")
    got = rows(spark.read.parquet(f"{index_path}_doclen"), *cols)
    assert got == rows(doclen, *cols)
    assert len(got) == 60
    cols = ("token", "df", "token_bucket")
    assert rows(spark.read.parquet(f"{index_path}_vocab"), *cols) == rows(vocab, *cols)
