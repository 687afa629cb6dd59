"""Arrow batching invariance: the token-table matcher's carry-over logic
(a document split across Arrow batches mid-stream) must be invisible, and
the two physical match paths must agree under arbitrary queries."""

from __future__ import annotations

import pytest

from full_lattice_search_spark.config import LatticeConfig, MatchLatticeParams
from full_lattice_search_spark.datagen import synth_documents
from full_lattice_search_spark.functions.tokenizer import lattice_tokenize
from full_lattice_search_spark.operators.match import (
    match_lattice,
    match_lattice_tokens,
)


def _hits(df):
    return sorted(
        (r["doc_id"], round(r["score"], 6), r["n_spans"]) for r in df.collect()
    )


def test_match_invariant_under_tiny_arrow_batches(spark):
    """Force Arrow to split every partition into many small batches so
    documents straddle batch boundaries — the carry-over path must produce
    byte-identical hits to the default batching."""
    docs = synth_documents(spark, 80, seed=17, mega_every=10).cache()
    toks = lattice_tokenize(docs, LatticeConfig()).cache()
    toks.count()
    params = MatchLatticeParams(slop=4, include_span_score=False)

    baseline = _hits(match_lattice_tokens(toks, "the quick", LatticeConfig(), params))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "7")
        tiny = _hits(match_lattice_tokens(toks, "the quick", LatticeConfig(), params))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert tiny == baseline
    assert len(baseline) > 0


@pytest.mark.parametrize(
    "query,slop,in_order",
    [
        ("the quick", 3, True),
        ("quick brown fox", 6, True),
        ("fox the", 8, False),
        ("the the", 2, False),
        ("lazy dog jumps", 5, True),
    ],
)
def test_doc_scan_and_token_paths_agree(spark, query, slop, in_order):
    """The document-scan (fused tokenize+match) and token-table (shuffle +
    carry-over) formulations are two physical plans of ONE operator — same
    hits, same scores, under ordered and unordered semantics."""
    docs = synth_documents(spark, 60, seed=23, mega_every=0).cache()
    toks = lattice_tokenize(docs, LatticeConfig())
    params = MatchLatticeParams(
        slop=slop, in_order=in_order, include_span_score=False
    )
    via_docs = _hits(match_lattice(docs, query, LatticeConfig(), params))
    via_toks = _hits(match_lattice_tokens(toks, query, LatticeConfig(), params))
    assert via_docs == via_toks


def test_brute_force_arrow_equals_hof_path(spark):
    """The BLAS (numpy matmul) brute-force ANN variant returns the
    HOF-expression path's top-k on this fixture.  The equality is empirical,
    not arithmetic-guaranteed (SIMD accumulation order can differ from the
    left-to-right HOF fold by ~1 ULP, which at an exact 0.00005 rounding
    boundary flips the 4-decimal cosine) — so any discrepancy is accepted
    ONLY if it is exactly that boundary case: cosines within one rounding
    quantum (1e-4).  Anything larger is a real bug."""
    from full_lattice_search_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(3)
    key = lambda df: sorted(
        (r["query_id"], r["rn"], r["vec_id"], r["cosine"])
        for r in df.collect()
    )
    hof = key(brute_force_topk(emb, queries, k=7))
    blas = key(brute_force_topk_arrow(emb, queries, k=7))
    assert len(hof) == 21
    assert len(blas) == 21
    if hof != blas:  # ULP-at-rounding-boundary escape hatch (see docstring)
        for (q1, r1, v1, c1), (q2, r2, v2, c2) in zip(hof, blas):
            assert q1 == q2 and r1 == r2
            assert abs(c1 - c2) <= 1e-4 + 1e-12, (
                f"non-boundary divergence at ({q1},{r1}): "
                f"{(v1, c1)} vs {(v2, c2)}"
            )


def _with_empty_doc(spark, docs):
    """``docs`` plus one document whose only text span is empty."""
    from full_lattice_search_spark.schema import DOCUMENTS_SCHEMA

    empty = spark.createDataFrame(
        [("doc-empty", [("text", "", None, 0)])], DOCUMENTS_SCHEMA
    )
    return docs.unionByName(empty)


def test_match_many_zero_terms_honors_params(spark):
    """A zero-term standing query must not silently vanish: with
    zero_terms_query='all' it emits a MIN_SCORE row per document; with
    'none' it contributes no rows (while other queries still match)."""
    from full_lattice_search_spark.config import MIN_SCORE
    from full_lattice_search_spark.operators.match import match_lattice_many

    docs = _with_empty_doc(
        spark, synth_documents(spark, 40, seed=29, mega_every=0)
    ).cache()
    # same universe as match_lattice's zero-terms path: every document,
    # the empty-text one included
    n_docs = docs.count()
    queries = [("q_real", "the quick"), ("q_zero", "   ")]

    all_hits = match_lattice_many(
        docs,
        queries,
        LatticeConfig(),
        MatchLatticeParams(
            slop=4, include_span_score=False, zero_terms_query="all"
        ),
    ).collect()
    zero_rows = [r for r in all_hits if r["query_id"] == "q_zero"]
    assert len(zero_rows) == n_docs
    assert all(r["n_spans"] == 0 for r in zero_rows)
    assert all(abs(r["score"] - float(MIN_SCORE)) < 1e-12 for r in zero_rows)
    assert any(r["query_id"] == "q_real" for r in all_hits)

    none_hits = match_lattice_many(
        docs,
        queries,
        LatticeConfig(),
        MatchLatticeParams(
            slop=4, include_span_score=False, zero_terms_query="none"
        ),
    ).collect()
    assert not any(r["query_id"] == "q_zero" for r in none_hits)
    assert any(r["query_id"] == "q_real" for r in none_hits)


def test_match_many_equals_per_query_match_lattice(spark):
    """The batch operator runs N queries on the doc-scan kernel: its rows
    for each query equal a payload-only ``match_lattice`` of that query,
    and a zero-term query under 'all' yields one row per document — the
    same universe as ``match_lattice``'s, the empty-text doc included."""
    from full_lattice_search_spark.operators.match import match_lattice_many

    docs = _with_empty_doc(
        spark, synth_documents(spark, 60, seed=41, mega_every=0)
    ).cache()
    cfg = LatticeConfig()
    params = MatchLatticeParams(
        slop=3, include_span_score=False, zero_terms_query="all", boost=2.0
    )
    queries = [("q_two", "the quick"), ("q_multi", [["quick", "fast"], "fox"]),
               ("q_one", "fox"), ("q_unordered", "fox the"), ("q_zero", " ")]

    many = sorted(
        (r["query_id"], r["doc_id"], r["score"], r["n_spans"])
        for r in match_lattice_many(docs, queries, cfg, params).collect()
    )
    single = sorted(
        (qid, r["doc_id"], r["score"], r["n_spans"])
        for qid, q in queries
        for r in match_lattice(docs, q, cfg, params).collect()
    )
    assert many == single
    zero_docs = [d for qid, d, _, _ in many if qid == "q_zero"]
    assert sorted(zero_docs) == sorted(
        r["doc_id"] for r in docs.select("doc_id").collect()
    )
    assert "doc-empty" in zero_docs
    assert {qid for qid, *_ in many} == {qid for qid, _ in queries}
