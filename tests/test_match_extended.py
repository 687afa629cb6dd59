"""Phrase-prefix, keyword-analyzer, and BM25 similarity tests."""

from __future__ import annotations

import pandas as pd
import pytest

from full_lattice_search_spark.config import LatticeConfig, MatchLatticeParams
from full_lattice_search_spark.functions.tokenizer import tokenize_pandas
from full_lattice_search_spark.operators.bm25 import bm25_scores
from full_lattice_search_spark.operators.match import (
    analyze_query,
    match_tokens_pandas,
)

DOC1 = "quick|0|0|0.6 brown|1|0|0.7 fox|2|0|0.5 box|2|0|0.1 jumped|3|0|0.9"
DOC2 = "how|0|0|0.6 now|1|0|0.7 brown|2|0|0.5 yellow|2|0|0.1 cow|3|0|0.9"


def toks():
    return tokenize_pandas(
        pd.Series(["doc1", "doc2"]),
        pd.Series([[DOC1], [DOC2]]),
        LatticeConfig(),
    )


def test_phrase_prefix_last_term():
    # "quick bro" matches "quick brown" via prefix on the last term
    hits = match_tokens_pandas(
        toks(), ["quick", "bro"], 0, True, "sum", 1.0, prefix_last=True
    )
    assert list(hits["doc_id"]) == ["doc1"]
    # without prefix semantics: no match
    hits2 = match_tokens_pandas(
        toks(), ["quick", "bro"], 0, True, "sum", 1.0, prefix_last=False
    )
    assert len(hits2) == 0


def test_phrase_prefix_multiple_expansions():
    # prefix "b" at doc1 matches brown(1) and box(2): quick->brown gap 0 ok
    hits = match_tokens_pandas(
        toks(), ["quick", "b"], 0, True, "sum", 1.0, prefix_last=True
    )
    assert list(hits["doc_id"]) == ["doc1"]


def test_keyword_analyzer_short_circuit():
    cfg = LatticeConfig()
    assert analyze_query("Quick Brown", cfg, analyzer="keyword") == [
        "Quick Brown"
    ]
    assert analyze_query("", cfg, analyzer="keyword") == []
    with pytest.raises(ValueError, match="unknown query analyzer"):
        analyze_query("x", cfg, analyzer="whitespace")


def test_bm25_scores_spark(spark):
    from full_lattice_search_spark.schema import DOCUMENTS_SCHEMA
    from full_lattice_search_spark.functions.tokenizer import lattice_tokenize

    docs = spark.createDataFrame(
        [
            ("doc1", [("text", DOC1, None, 0)]),
            ("doc2", [("text", DOC2, None, 0)]),
        ],
        DOCUMENTS_SCHEMA,
    )
    tokens = lattice_tokenize(docs, LatticeConfig())
    scored = {r["doc_id"]: r["bm25"] for r in bm25_scores(
        tokens, ["brown", "fox"]
    ).collect()}
    # brown appears in both docs (low idf), fox only in doc1
    assert set(scored) == {"doc1", "doc2"}
    assert scored["doc1"] > scored["doc2"]
    import math

    # hand-computed: N=2, dl=5 both, avgdl=5 → tf_norm = 2.2/(1+1.2) for tf=1
    idf_brown = math.log(1 + (2 - 2 + 0.5) / (2 + 0.5))
    idf_fox = math.log(1 + (2 - 1 + 0.5) / (1 + 0.5))
    tfn = 1 * 2.2 / (1 + 1.2 * (1 - 0.75 + 0.75 * 5 / 5))
    assert abs(scored["doc1"] - (idf_brown + idf_fox) * tfn) < 1e-9
    assert abs(scored["doc2"] - idf_brown * tfn) < 1e-9


def test_bm25_scores_independent_of_token_layout(spark):
    """The per-doc BM25 sum is a float sum over the doc's terms: its order
    must not follow the token table's physical layout, or the same index
    scores differently depending on how many files its writer produced."""
    from full_lattice_search_spark.datagen import VOCAB, synth_documents
    from full_lattice_search_spark.functions.tokenizer import lattice_tokenize

    tokens = lattice_tokenize(
        synth_documents(spark, 200, seed=31, mega_every=0), LatticeConfig()
    ).select("doc_id", "token").cache()
    terms = [str(t) for t in VOCAB]

    def scores(layout):
        rows = bm25_scores(layout, terms).collect()
        return {r["doc_id"]: r["bm25"] for r in rows}

    want = scores(tokens)
    assert len(want) == 200
    assert scores(tokens.repartition(1)) == want
    by_token = tokens.repartition(7, "token").sortWithinPartitions("token")
    assert scores(by_token) == want
    tokens.unpersist()


def test_phrase_prefix_beyond_4096_expansions_equals_bm25_scores(spark):
    """A short prefix can expand to more candidate tokens than a plan
    should inline as literals; the composed doc-scan scoring keeps the
    idf side relational, so its similarity is exactly ``bm25_scores``
    over the same tokens, however many the expansion holds."""
    from full_lattice_search_spark.functions.tokenizer import lattice_tokenize
    from full_lattice_search_spark.operators.match import (
        composed_cache_scope,
        match_lattice,
    )
    from full_lattice_search_spark.schema import DOCUMENTS_SCHEMA

    n_docs, width = 120, 40
    rows = []
    for d in range(n_docs):
        words = (["alpha"] if d % 3 else []) + [
            f"zq{d * width + j:05d}" for j in range(width)
        ] + ["zq00000"]
        text = " ".join(f"{w}|{i}|0|0.{1 + (d + i) % 9}"
                        for i, w in enumerate(words))
        rows.append((f"d{d:03d}", [("text", text, None, 0)]))
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA).cache()
    tokens = lattice_tokenize(docs, LatticeConfig()).cache()
    expansions = tokens.filter("token LIKE 'zq%'").select("token").distinct()
    assert expansions.count() > 4096

    params = MatchLatticeParams(slop=3, include_span_score=True)
    with composed_cache_scope():
        hits = {
            r["doc_id"]: r
            for r in match_lattice(
                docs, "alpha zq", LatticeConfig(), params, phrase_prefix=True
            ).collect()
        }
    want = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(
            tokens, ["alpha", "zq"], prefix_last=True
        ).collect()
    }
    assert len(hits) == n_docs - n_docs // 3
    for d, r in hits.items():
        assert r["similarity"] == want[d]
        assert r["score"] == r["payload_score"] * r["similarity"]
    tokens.unpersist()
    docs.unpersist()


# ---------------------------------------------------------------------------
# Multi-phrase (per-position alternatives — MultiPhraseQuery analog)
# ---------------------------------------------------------------------------


def test_multi_phrase_hit_counts():
    """Alternative terms at one position, hit-count fixtures in the
    reference YAML suite's style (doc1: quick brown fox/box jumped;
    doc2: how now brown yellow cow)."""
    # slot 2 matches fox OR box: the greedy ordered chain (Lucene
    # NearSpansOrdered) anchors one span per FIRST-slot occurrence, so
    # brown -> (fox|box) is 1 span even though both alternatives sit at
    # position 2...
    hits = match_tokens_pandas(
        toks(), ["brown", ["fox", "box"]], 0, True, "sum", 1.0
    )
    assert list(hits["doc_id"]) == ["doc1"]
    assert list(hits["n_spans"]) == [1]
    # ...while alternatives in the FIRST slot each anchor their own span
    hits_anchor = match_tokens_pandas(
        toks(), [["fox", "box"], ["jumped"]], 0, True, "sum", 1.0
    )
    assert list(hits_anchor["doc_id"]) == ["doc1"]
    assert list(hits_anchor["n_spans"]) == [2]
    # first slot alternatives: quick|how anchors both docs
    hits2 = match_tokens_pandas(
        toks(), [["quick", "how"], ["brown", "now"]], 0, True, "sum", 1.0
    )
    assert sorted(hits2["doc_id"]) == ["doc1", "doc2"]
    # no alternative present at the slot -> no match
    hits3 = match_tokens_pandas(
        toks(), [["quick"], ["purple", "green"]], 5, True, "sum", 1.0
    )
    assert len(hits3) == 0


def test_multi_phrase_end_to_end_and_analysis(spark):
    from full_lattice_search_spark.operators.match import (
        analyze_multi_phrase,
        match_lattice,
    )
    from full_lattice_search_spark.schema import DOCUMENTS_SCHEMA

    cfg = LatticeConfig()
    # analysis lowercases alternatives and collapses single-alt slots
    assert analyze_multi_phrase(["Brown", ["Fox", "Box"]], cfg) == [
        "brown",
        ["box", "fox"],
    ]
    with pytest.raises(ValueError, match="no alternatives"):
        analyze_multi_phrase(["brown", []], cfg)
    with pytest.raises(ValueError, match="one term"):
        analyze_multi_phrase([["two words"]], cfg)

    docs = spark.createDataFrame(
        [
            ("d1", [("text", DOC1, None, 0)]),
            ("d2", [("text", DOC2, None, 0)]),
        ],
        DOCUMENTS_SCHEMA,
    )
    hits = {
        r["doc_id"]: r["n_spans"]
        for r in match_lattice(
            docs,
            [["quick", "now"], ["brown", "yellow"]],
            cfg,
            MatchLatticeParams(slop=0, include_span_score=False),
        ).collect()
    }
    # d1: quick@0 -> brown@1; d2: now@1 -> brown@2 (yellow@2 is the
    # overlap alternative — nearest wins in the greedy chain)
    assert hits == {"d1": 1, "d2": 1}
    # phrase_prefix needs a single-term final slot
    with pytest.raises(ValueError, match="single-term final slot"):
        match_lattice(
            docs,
            ["brown", ["fo", "bo"]],
            cfg,
            MatchLatticeParams(slop=0),
            phrase_prefix=True,
        )


def test_multi_phrase_through_search_facade(spark):
    """The ES-DSL facade passes a list-shaped query straight through."""
    from full_lattice_search_spark.api import search
    from full_lattice_search_spark.schema import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame(
        [("d1", [("text", DOC1, None, 0)])], DOCUMENTS_SCHEMA
    )
    resp = search(
        docs,
        {
            "match_lattice": {
                "spans": {
                    "query": [["quick"], ["brown", "fox"]],
                    "slop": 0,
                    "include_span_score": False,
                }
            }
        },
    )
    assert resp["hits"]["total"]["value"] == 1


def test_composed_cache_scope_releases_stats_frames(spark):
    """The composed doc-scan path persists one O(docs) stats frame per
    query; composed_cache_scope must leave NOTHING registered in Spark's
    cache manager after the scope exits (scoped unpersist, not
    clearCache)."""
    from full_lattice_search_spark import (
        composed_cache_scope,
        release_composed_caches,
    )
    from full_lattice_search_spark.datagen import synth_documents
    from full_lattice_search_spark.operators.match import match_lattice

    release_composed_caches()  # clean slate from earlier tests
    spark.catalog.clearCache()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    assert cache_mgr.isEmpty()

    docs = synth_documents(spark, 30, seed=17, mega_every=0)
    with composed_cache_scope():
        hits = match_lattice(
            docs,
            "the quick",
            LatticeConfig(),
            MatchLatticeParams(slop=5, include_span_score=True),
        )
        n = hits.count()
        assert not cache_mgr.isEmpty()  # stats frame cached inside
    assert cache_mgr.isEmpty()  # scoped unpersist on exit
    assert n >= 0

    # non-scope surface: frames accumulate, release_composed_caches drains
    match_lattice(
        docs, "the quick", LatticeConfig(),
        MatchLatticeParams(slop=5, include_span_score=True),
    ).count()
    assert not cache_mgr.isEmpty()
    assert release_composed_caches() >= 1
    assert cache_mgr.isEmpty()
