"""Materialized token index: token-sorted layout, scan pushdown, planning
without jobs, and result parity with the direct document-scan path."""

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
    write_token_index(docs, path, LatticeConfig())
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
        ).collect()
    }
    assert indexed == direct
    assert len(indexed) > 0


def test_indexed_lucene_similarity_parity_with_scan(spark, index_path):
    """similarity='lucene' over the index: per-doc lengths come from the
    persisted doclen stats table (dl + dl_norm), per-term df from the
    candidate postings — results must equal the full doc-scan path
    bit-for-bit."""
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
        ).collect()
    )
    assert indexed == direct
    assert len(indexed) > 0


@pytest.mark.parametrize(
    "query, phrase_prefix, pushed",
    [("quick", False, "EqualTo(token,quick)"),
     ("the quick", False, "In(token, [quick,the])"),
     ("the qu", True, "StringStartsWith(token,qu)")],
    ids=["term", "terms", "prefix"],
)
def test_index_scan_pushes_the_token_filter(
    spark, index_path, query, phrase_prefix, pushed
):
    """The candidate filter reaches the parquet scan, where the row-group
    token statistics prune; there is no partition column to filter."""
    hits = match_lattice_indexed(
        spark, index_path, query, LatticeConfig(), MatchLatticeParams(),
        phrase_prefix=phrase_prefix,
    )
    plan = hits._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("PushedFilters"):].split("\n")[0]
    assert pushed in scan
    assert "token_bucket" not in plan
    assert "PartitionFilters: []" in plan


def test_postings_files_hold_disjoint_sorted_token_ranges(spark, tmp_path):
    """The postings are one flat directory sorted by (token, doc_id): each
    file's tokens are sorted, and its footer's token range ends where the
    next file's begins.  Neighbours may share an endpoint token — the
    range partitioner splits on (token, doc_id), so a frequent token can
    straddle two files.  AQE would coalesce this small corpus into one
    file, so the write here keeps every range partition."""
    import pyarrow.parquet as pq

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    path = tmp_path / "tokens"
    spark.conf.set(key, "false")
    try:
        write_token_index(synth_documents(spark, 60, seed=13, mega_every=0),
                          str(path))
    finally:
        spark.conf.unset(key)
    files = sorted(path.glob("*.parquet"))
    assert len(files) > 1
    assert not list(path.glob("*=*"))
    ranges = []
    for f in files:
        tokens = pq.read_table(f, columns=["token"]).column("token").to_pylist()
        assert tokens == sorted(tokens), f
        meta = pq.ParquetFile(f).metadata
        col = meta.schema.names.index("token")
        stats = [meta.row_group(g).column(col).statistics
                 for g in range(meta.num_row_groups)]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, ranges


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
    """phrase_prefix over the index: the pushed ``startswith`` filter must
    let the span DP see every prefix-matching token's postings — results
    equal the full doc-scan path."""
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
            phrase_prefix=True,
        ).collect()
    )
    assert indexed == direct
    assert len(indexed) > 0


def test_indexed_lucene_phrase_prefix_parity_with_scan(spark, index_path):
    """similarity='lucene' × phrase_prefix over the index: the expansion
    idf blend counts document frequencies from the candidate postings and
    must equal the full doc-scan path bit-for-bit."""
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
            phrase_prefix=True,
        ).collect()
    )
    assert indexed == direct
    assert len(indexed) > 0


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_write_never_reads_parquet(spark, tmp_path, monkeypatch):
    """The stats come from the tokens the postings write produced: no
    parquet read (no listing, no schema inference, no rescan of the
    postings just written)."""
    import pyspark.sql.readwriter as rw

    docs = synth_documents(spark, 20, seed=53, mega_every=0)
    reads = []
    real = rw.DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.append(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    write_token_index(docs, str(tmp_path / "tokens"))
    assert reads == []


def test_write_releases_token_cache(spark, tmp_path, monkeypatch):
    """The token frame persisted for the two writes is released when the
    call returns and when a write raises."""
    import pyspark.sql.readwriter as rw

    docs = synth_documents(spark, 20, seed=59, mega_every=0)
    before = _persistent_rdds(spark)
    write_token_index(docs, str(tmp_path / "ok"))
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
        write_token_index(docs, str(tmp_path / "fails"))
    assert _persistent_rdds(spark) == before


def test_stats_equal_aggregates_of_the_postings(spark, index_path):
    """``_doclen`` equals the same aggregate computed from a plain re-read
    of the written postings."""
    import pyspark.sql.functions as F

    postings = spark.read.parquet(index_path)
    rows = lambda df, *cols: sorted(tuple(r[c] for c in cols) for r in df.collect())
    doclen = postings.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        F.sum((F.col("pos_inc") > 0).cast("long")).alias("dl_norm"),
    )
    cols = ("doc_id", "dl", "dl_norm")
    got = rows(spark.read.parquet(f"{index_path}_doclen"), *cols)
    assert got == rows(doclen, *cols)
    assert len(got) == 60


def test_lucene_over_index_without_dl_norm_says_rebuild(
    spark, index_path, tmp_path
):
    """An index whose doclen table predates ``dl_norm`` reads NULLs under
    the explicit schema: a Lucene query over it must fail with the rebuild
    message, not score NULL.  Engine BM25 needs only ``dl`` and still
    runs."""
    path = str(tmp_path / "tokens")
    spark.read.parquet(index_path).write.parquet(path)
    spark.read.parquet(f"{index_path}_doclen").drop("dl_norm").write.parquet(
        f"{path}_doclen"
    )
    lucene = match_lattice_indexed(
        spark, path, "the quick", LatticeConfig(),
        MatchLatticeParams(slop=3, similarity="lucene"),
    )
    with pytest.raises(Exception, match="rebuild the token index"):
        lucene.collect()
    engine = match_lattice_indexed(
        spark, path, "the quick", LatticeConfig(), MatchLatticeParams(slop=3)
    )
    assert engine.count() > 0


# Plan-time jobs over the older 64-bucket layout, for comparison: 3, 4, 6
# and 7 (payload, bm25, payload+prefix, bm25+prefix); Lucene 8-10.
@pytest.mark.parametrize("phrase_prefix", [False, True])
@pytest.mark.parametrize(
    "params",
    [MatchLatticeParams(slop=3, include_span_score=False),
     MatchLatticeParams(slop=3)],
    ids=["payload", "bm25"],
)
def test_indexed_query_plans_without_jobs(
    spark, index_path, count_jobs, params, phrase_prefix
):
    """Explicit schemas over a flat directory: no listing job, no schema
    inference, no driver-side collect while planning."""
    _, jobs = count_jobs(lambda: match_lattice_indexed(
        spark, index_path, "the qu" if phrase_prefix else "the quick",
        LatticeConfig(), params, top_k=5, phrase_prefix=phrase_prefix,
    ))
    assert jobs == 0


@pytest.mark.parametrize("phrase_prefix", [False, True])
def test_indexed_lucene_plans_only_the_composer_collects(
    spark, index_path, count_jobs, phrase_prefix
):
    """What a Lucene query still runs while planning is ``_compose``'s
    two collects (ROADMAP L): the dfs over the stats rows and the corpus
    constants over the doclen table, each a few jobs under AQE (4 when
    an equal stats frame is already cached, 6 when not).  Reading the
    index adds none."""
    _, jobs = count_jobs(lambda: match_lattice_indexed(
        spark, index_path, "the qu" if phrase_prefix else "the quick",
        LatticeConfig(), MatchLatticeParams(slop=3, similarity="lucene"),
        phrase_prefix=phrase_prefix,
    ))
    assert jobs <= 6


def test_bucket_partitioned_index_reads_the_same(spark, index_path, tmp_path):
    """An index written in the older layout — postings ``partitionBy`` an
    ``xxhash64`` token bucket — still reads: the partition column rides
    along unused and every query returns the fresh index's rows."""
    import pyspark.sql.functions as F

    from full_lattice_search_spark.functions.tokenizer import lattice_tokenize

    old = str(tmp_path / "tokens")
    tokens = lattice_tokenize(
        synth_documents(spark, 60, seed=13, mega_every=0), LatticeConfig()
    )
    tokens.withColumn(
        "token_bucket", F.pmod(F.xxhash64("token"), F.lit(64)).cast("int")
    ).write.partitionBy("token_bucket").parquet(old)
    spark.read.parquet(f"{index_path}_doclen").write.parquet(f"{old}_doclen")

    key = lambda rows: sorted(
        (r["doc_id"], r["score"], r["n_spans"]) for r in rows
    )
    for query, prefix in (("the quick", False), ("the qu", True)):
        for params in (MatchLatticeParams(slop=3, include_span_score=False),
                       MatchLatticeParams(slop=3),
                       MatchLatticeParams(slop=3, similarity="lucene")):
            got, want = (
                key(match_lattice_indexed(
                    spark, p, query, LatticeConfig(), params,
                    phrase_prefix=prefix,
                ).collect())
                for p in (old, index_path)
            )
            assert got == want, (query, params)
            assert got
