"""Query-builder hygiene (plans/queries.py): the raw-text candidate probe
(operators/match.py) refuses what it cannot prefilter soundly, every frame a builder persists
is released by the composed-cache scope, building a query over an
already-read table launches no Spark job, building a composed entry
stays within its py4j budget, and the scan-parallelism guard decides
from the file's splits and row groups."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from full_lattice_search_spark import (
    LatticeConfig,
    composed_cache_scope,
    release_composed_caches,
)
from full_lattice_search_spark.operators.match import _contains_probe
from full_lattice_search_spark.plans.lattice_view import scan_parallel
from full_lattice_search_spark.plans.queries import QUERIES

TEXTS = ["Hash join then MERGE", "hash only", "merge hash", "fast fox",
         "a quick Fox", "nothing here"]


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)],
                                 "doc_id long, text string")


def kept(texts, probe):
    return sorted(r["doc_id"] for r in texts.filter(probe).collect())


def test_probe_and_across_slots_or_across_alternatives(texts):
    assert kept(texts, _contains_probe(["hash", "merge"])) == [0, 2]
    assert kept(texts, _contains_probe(["MERGE"])) == [0, 2]
    assert kept(texts, _contains_probe([["fast", "quick"], "fox"])) == [3, 4]


def test_probe_without_lowercase_chain_is_still_a_superset(texts):
    # an empty follow-on chain keeps case; lower(text) CONTAINS lower(term)
    # still admits every doc holding the exact-case token
    probe = _contains_probe(["Fox"], LatticeConfig(lowercase=False))
    assert kept(texts, probe) == [3, 4]


@pytest.mark.parametrize("follow_on", [("soundex",), ("lowercase", "asciifold")])
def test_probe_skipped_for_transforming_chain(follow_on):
    cfg = LatticeConfig(follow_on=follow_on)
    assert _contains_probe(["hash"], cfg) is None


@pytest.mark.parametrize("slots", [[], [["hash"], []], [[]]])
def test_probe_skipped_without_an_anchor(slots):
    assert _contains_probe(slots) is None


@pytest.mark.parametrize("slots", [[1], ["hash", ["merge", None]], [[b"x"]]])
def test_probe_rejects_non_str_alternatives(slots):
    with pytest.raises(TypeError, match="must be str"):
        _contains_probe(slots)


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    """A small documents table: 40 docs over a vocabulary holding the
    registry entries' query terms, every 10th doc cloned as a near dup."""
    rng = np.random.default_rng(5)
    vocab = np.array("table stream hash merge key order data group small "
                     "join index scan row page".split())
    texts = [" ".join(rng.choice(vocab, size=30)) for _ in range(40)]
    out = tmp_path_factory.mktemp("sf")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(40), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * 40, pa.string()),
        }),
        str(out / "documents.parquet"),
    )
    return str(out)


def cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


PERSISTING = ["match_span_score", "bm25", "minhash_lsh_pairs"]


def test_builder_caches_released_by_scope(spark, sf_dir):
    spark.catalog.clearCache()
    with composed_cache_scope():
        for name in PERSISTING:
            QUERIES[name](spark, sf_dir).collect()
        assert not cache_empty(spark)
    assert cache_empty(spark)


def test_builder_caches_released_by_release(spark, sf_dir):
    release_composed_caches()  # whatever earlier callers left tracked
    spark.catalog.clearCache()
    for name in PERSISTING:
        QUERIES[name](spark, sf_dir).collect()
    assert release_composed_caches() == len(PERSISTING)
    assert cache_empty(spark)


@pytest.mark.parametrize("name", ["dedup_exact", "simhash", "minhash_lsh_pairs"])
def test_planning_over_a_read_table_launches_no_job(
    spark, sf_dir, count_jobs, name
):
    """Once a table's schema is known, building a dedup entry is pure
    planning: no schema-inference job, no partition-count job."""
    QUERIES[name](spark, sf_dir)
    _, jobs = count_jobs(lambda: QUERIES[name](spark, sf_dir))
    assert jobs == 0
    spark.catalog.clearCache()


def _big_parquet(path, cores, row_groups):
    """An incompressible table of ``row_groups`` row groups, larger than
    openCostInBytes (4 MB) x ``cores``, so split packing alone would give
    every core a split."""
    n = 16 * cores  # 300 kB rows: 4.8 MB a core
    blob = pa.array([np.random.default_rng(i).bytes(300_000) for i in range(n)],
                    pa.binary())
    pq.write_table(pa.table({"id": pa.array(range(n), pa.int64()), "b": blob}),
                   str(path), row_group_size=n // row_groups, compression="none")
    assert os.path.getsize(path) > (4 << 20) * cores
    assert pq.read_metadata(str(path)).num_row_groups == row_groups
    return str(path)


@pytest.mark.parametrize("per_core,fires", [(False, True), (True, False)])
def test_scan_guard_counts_row_groups(spark, tmp_path, per_core, fires):
    """A split reads only the row groups whose midpoint it holds: a big
    file with one row group still scans in one task (guard fires), one
    with a row group per core does not need the guard."""
    cores = spark.sparkContext.defaultParallelism
    path = _big_parquet(tmp_path / "big.parquet", cores, cores if per_core else 1)
    df = spark.read.parquet(path)
    guarded = scan_parallel(df, spark, size_path=path)
    assert (guarded is not df) == fires
    if fires:
        assert guarded.rdd.getNumPartitions() == cores


@pytest.fixture(scope="module")
def empty_doc_dir(tmp_path_factory):
    """Three ordinary documents and one with empty text."""
    out = tmp_path_factory.mktemp("sf_empty")
    pq.write_table(
        pa.table({
            "doc_id": pa.array([0, 1, 2, 3], pa.int64()),
            "text": pa.array(["hash join then merge", "", "scan the index",
                              "merge key order"], pa.string()),
            "lang": pa.array(["en"] * 4, pa.string()),
        }),
        str(out / "documents.parquet"),
    )
    return str(out)


@pytest.mark.parametrize(
    "name", ["extract_best_path", "extract_boilerplate", "pdf_extract"]
)
def test_first_span_entries_survive_an_empty_document(spark, empty_doc_dir,
                                                      name):
    """An entry reading a document's first extracted span must not raise
    (ANSI INVALID_ARRAY_INDEX) when the extraction keeps no span."""
    rows = QUERIES[name](spark, empty_doc_dir).collect()
    assert len(rows) == 4


# py4j round trips to build each composed entry on the fixture above,
# warm, as this test counted them before the scoring composition became
# one SQL-text composer: match_span_score 1,179, bm25 954, match_lucene_sim
# 432.  The ceiling is half of each.
PLAN_BUDGET = {"match_span_score": 589, "bm25": 477, "match_lucene_sim": 216}


@pytest.mark.parametrize("name", sorted(PLAN_BUDGET))
def test_composed_plan_build_budget(spark, sf_dir, count_py4j, name):
    with composed_cache_scope():
        QUERIES[name](spark, sf_dir)
        _, n = count_py4j(lambda: QUERIES[name](spark, sf_dir))
    assert n <= PLAN_BUDGET[name]


COMPOSED = ["match_span_score", "bm25", "match_lucene_sim",
            "match_lucene_prefix", "match_lucene_prefix_indexed"]


@pytest.mark.parametrize("name", COMPOSED)
def test_composed_entry_leaves_no_cached_frame(spark, sf_dir, name):
    spark.catalog.clearCache()
    with composed_cache_scope():
        assert QUERIES[name](spark, sf_dir).count() > 0
    assert cache_empty(spark)
