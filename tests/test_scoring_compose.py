"""A7/boost/A10: include_span_score composition, builder boost, and the
per-hit explain surface (reference LatticePayloadScoreQuery.java:316-339)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from full_lattice_search_spark.config import LatticeConfig, MatchLatticeParams
from full_lattice_search_spark.functions.tokenizer import lattice_tokenize
from full_lattice_search_spark.operators.match import (
    composed_cache_scope,
    match_lattice,
    match_lattice_tokens,
)
from full_lattice_search_spark.schema import DOCUMENTS_SCHEMA
from full_lattice_search_spark.sources.token_index import (
    match_lattice_indexed,
    write_token_index,
)

DOC1 = "quick|0|0|0.6 brown|1|0|0.7 fox|2|0|0.5 brown|3|0|0.2"
DOC2 = "how|0|0|0.6 now|1|0|0.7 brown|2|0|0.5 cow|3|0|0.9"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("doc1", [("text", DOC1, None, 0)]),
        ("doc2", [("text", DOC2, None, 0)]),
    ]
    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA).cache()


def _by_doc(rows):
    return {r["doc_id"]: r for r in rows}


def test_payload_only_unchanged_by_flag(docs):
    """include_span_score=False returns exactly the payload-only scores."""
    payload = _by_doc(
        match_lattice(
            docs, "brown", LatticeConfig(),
            MatchLatticeParams(include_span_score=False),
        ).collect()
    )
    # golden: doc1 brown occurrences 0.7 + 0.2, doc2 0.5 (sum of 1e5*s)
    assert payload["doc1"]["score"] == pytest.approx(1e5 * 0.9, rel=1e-5)
    assert payload["doc2"]["score"] == pytest.approx(1e5 * 0.5, rel=1e-5)


def test_include_span_score_multiplies_bm25(docs):
    """Reference default: score == payload_score * similarity
    (scoreCurrentDoc returns getSpanScore() * payloadScore)."""
    composed = _by_doc(
        match_lattice(docs, "brown", LatticeConfig(),
                      MatchLatticeParams()).collect()
    )
    payload = _by_doc(
        match_lattice(
            docs, "brown", LatticeConfig(),
            MatchLatticeParams(include_span_score=False),
        ).collect()
    )
    for d, row in composed.items():
        assert row["payload_score"] == pytest.approx(
            payload[d]["score"], rel=1e-9
        )
        assert row["score"] == pytest.approx(
            row["payload_score"] * row["similarity"], rel=1e-12
        )
        assert row["similarity"] > 0
    # BM25 sanity: doc1 has tf=2 of 'brown' in dl=4, doc2 tf=1 in dl=4
    assert composed["doc1"]["similarity"] > composed["doc2"]["similarity"]


@pytest.fixture(scope="module")
def index_path(docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("compose_index") / "tokens")
    write_token_index(docs, path, LatticeConfig())
    return path


@pytest.mark.parametrize("explain", [False, True])
@pytest.mark.parametrize("phrase_prefix", [False, True])
@pytest.mark.parametrize("similarity", ["engine", "lucene"])
def test_both_paths_compose_identically(
    spark, docs, index_path, similarity, phrase_prefix, explain
):
    """Doc scan, token table and token index compose through one composer:
    every path returns the same rows, bit for bit."""
    query = "br" if phrase_prefix else "brown"
    params = MatchLatticeParams(similarity=similarity)
    cols = ["doc_id", "score", "n_spans", "payload_score", "similarity"]
    if explain:
        cols += ["span_start", "span_end", "span_score"]

    def rows(hits, cols=cols):
        return sorted(tuple(r[c] for c in cols) for r in hits.collect())

    toks = lattice_tokenize(docs, LatticeConfig()).cache()
    with composed_cache_scope():
        via_docs = rows(match_lattice(
            docs, query, LatticeConfig(), params,
            phrase_prefix=phrase_prefix, explain=explain,
        ))
        via_tokens = rows(match_lattice_tokens(
            toks, query, LatticeConfig(), params,
            phrase_prefix=phrase_prefix, explain=explain,
        ))
        via_index = rows(match_lattice_indexed(
            spark, index_path, query, LatticeConfig(), params,
            phrase_prefix=phrase_prefix,
        ), cols[:5])
    toks.unpersist()
    assert [r[0] for r in via_docs] == ["doc1", "doc2"]
    assert via_tokens == via_docs
    assert via_index == [r[:5] for r in via_docs]


def test_boost_scales_score(docs):
    base = _by_doc(
        match_lattice(
            docs, "brown", LatticeConfig(),
            MatchLatticeParams(include_span_score=False),
        ).collect()
    )
    boosted = _by_doc(
        match_lattice(
            docs, "brown", LatticeConfig(),
            MatchLatticeParams(include_span_score=False, boost=2.5),
        ).collect()
    )
    for d in base:
        assert boosted[d]["score"] == pytest.approx(
            2.5 * base[d]["score"], rel=1e-12
        )


def test_boost_composes_with_span_score(docs):
    base = _by_doc(
        match_lattice(docs, "brown", LatticeConfig(),
                      MatchLatticeParams()).collect()
    )
    boosted = _by_doc(
        match_lattice(docs, "brown", LatticeConfig(),
                      MatchLatticeParams(boost=3.0)).collect()
    )
    for d in base:
        assert boosted[d]["score"] == pytest.approx(
            3.0 * base[d]["score"], rel=1e-12
        )


def test_explain_golden(spark):
    """Per-hit breakdown golden, reusing the payload-fold fixtures:
    span score = exp(log(1e5) + log(s1) + log(s2) - log(width * lenNorm))."""
    rows = [("d", [("text", "a|0|0|0.5 b|1|0|0.5", None, 0)])]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    hits = match_lattice(
        docs, "a b", LatticeConfig(),
        MatchLatticeParams(include_span_score=False), explain=True,
    ).collect()
    assert len(hits) == 1
    h = hits[0]
    assert list(h["span_start"]) == [1]
    assert list(h["span_end"]) == [3]
    expected = math.exp(math.log(1e5) + 2 * math.log(0.5) - math.log(2.0))
    assert h["span_score"][0] == pytest.approx(expected, rel=1e-5)
    assert h["score"] == pytest.approx(expected, rel=1e-5)


def test_explain_matches_plain_scores(docs):
    plain = _by_doc(
        match_lattice(
            docs, "brown", LatticeConfig(),
            MatchLatticeParams(include_span_score=False),
        ).collect()
    )
    explained = _by_doc(
        match_lattice(
            docs, "brown", LatticeConfig(),
            MatchLatticeParams(include_span_score=False), explain=True,
        ).collect()
    )
    for d in plain:
        e = explained[d]
        assert len(e["span_start"]) == e["n_spans"] == plain[d]["n_spans"]
        assert e["score"] == pytest.approx(plain[d]["score"], rel=1e-9)
        # sum fold: doc score is the (float32) sum of span scores
        assert float(np.sum(np.asarray(e["span_score"], dtype=np.float32))) \
            == pytest.approx(e["score"], rel=1e-5)
