"""Query-builder hygiene (plans/queries.py): the raw-text candidate probe
refuses what it cannot prefilter soundly, and every frame a builder
persists is released by the composed-cache scope."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from full_lattice_search_spark import (
    LatticeConfig,
    composed_cache_scope,
    release_composed_caches,
)
from full_lattice_search_spark.plans.queries import QUERIES, _contains_probe

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
