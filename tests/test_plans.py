"""Physical-plan audits: the properties that matter at 100 TB —
filter pushdown into the parquet scan, column pruning, Arrow-only Python,
and broadcast joins for small dimensions."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from full_lattice_search_spark.config import LatticeConfig, MatchLatticeParams
from full_lattice_search_spark.datagen import synth_documents
from full_lattice_search_spark.functions.tokenizer import lattice_tokenize
from full_lattice_search_spark.operators.match import match_lattice_tokens


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def token_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tokens") / "tokens.parquet")
    docs = synth_documents(spark, 50, seed=5, mega_every=0)
    lattice_tokenize(docs, LatticeConfig()).write.parquet(path)
    return spark.read.parquet(path)


def test_token_filter_pushed_to_scan(token_table):
    """token IN (...) must reach the parquet scan (PushedFilters), so the
    inverted-index-like skip happens at the storage layer."""
    hits = match_lattice_tokens(
        token_table, "quick fox", LatticeConfig(), MatchLatticeParams(slop=5)
    )
    plan = plan_of(hits)
    assert "PushedFilters" in plan
    assert "In(token" in plan or "in(token" in plan.lower()


def test_scan_schema_pruned(token_table):
    """The matcher reads 5 of 10 token columns — the scan must prune."""
    hits = match_lattice_tokens(
        token_table, "quick", LatticeConfig(), MatchLatticeParams()
    )
    plan = plan_of(hits)
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    assert read_schema, plan
    assert "start_t" not in read_schema[0]
    assert "stop_t" not in read_schema[0]
    assert "token" in read_schema[0]


def test_no_row_python_anywhere(spark, token_table):
    """input_hint: no per-row Python — BatchEvalPython must never appear."""
    from full_lattice_search_spark.operators.extract import extract_spans
    from full_lattice_search_spark.plans import queries as Q

    docs = synth_documents(spark, 10, seed=1, mega_every=0)
    plans = [
        plan_of(extract_spans(docs)),
        plan_of(lattice_tokenize(docs, LatticeConfig())),
        plan_of(
            match_lattice_tokens(
                token_table, "quick", LatticeConfig(), MatchLatticeParams()
            )
        ),
        plan_of(Q.QUERIES["minhash_lsh_pairs"](spark, "/root/testdata/sf0.001")),
    ]
    for p in plans:
        assert "BatchEvalPython" not in p


def test_ann_query_broadcasts(spark):
    """The tiny query side of the ANN join must broadcast, never shuffle
    the corpus."""
    from full_lattice_search_spark.plans.queries import q_ann_bruteforce

    plan = plan_of(q_ann_bruteforce(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_extract_direct_path_has_no_exchange(spark):
    """The whole-doc extraction path must be shuffle-free apart from the
    scan-parallelism guard: a single-file corpus is ONE unsplittable input
    split, so ``lattice_docs`` round-robin-repartitions the raw rows below
    every heavy projection (r06).  No hash/range exchange may appear, and
    the guard must no-op when the scan already provisions the cores."""
    from full_lattice_search_spark.operators.extract import extract_spans
    from full_lattice_search_spark.plans.lattice_view import (
        lattice_docs,
        scan_parallel,
    )

    out = extract_spans(lattice_docs(spark, "/root/testdata/sf0.001"))
    plan = plan_of(out)
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("Exchange") <= 1, plan  # at most the guard

    # guard no-ops on an already-parallel input (the at-scale shape)
    par = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).repartition(par)
    assert scan_parallel(docs, spark) is docs


def test_docscan_prefilter_single_probe(spark):
    """The doc-scan prefilter must evaluate the document-reconstruction
    chain exactly ONCE per doc: one Contains probe on one term, not one per
    query term (Catalyst collapses the projection into the interpreted
    Filter, so each extra Contains re-concatenates the document)."""
    from full_lattice_search_spark.operators.match import match_lattice

    docs = synth_documents(spark, 10, seed=1, mega_every=0)
    hits = match_lattice(
        docs, "quick brown fox", LatticeConfig(),
        MatchLatticeParams(include_span_score=False),
    )
    plan = plan_of(hits)
    assert plan.count("concat_ws") == 1, plan
    assert plan.count("Contains") == 1, plan


# every registry entry matching over the derived lattice view with
# payload-only scoring
MATCH_FAMILY = [
    "match_ordered_2", "match_ordered_3", "match_multi_phrase",
    "match_score_single", "match_topk", "match_unordered_3",
    "match_payload_max", "match_payload_min", "match_boosted",
    "match_buckets_score", "match_unordered_2", "match_audio_seconds",
    "match_null_payload", "match_phrase_prefix", "match_many",
    "match_many_multi",
]
PYTHON_NODE = re.compile(r"\w*(?:InPandas|InArrow|EvalPython)\b")


@pytest.mark.parametrize("name", MATCH_FAMILY)
def test_match_family_runs_one_python_node(spark, name):
    """A registry match is ONE Python node, the doc-scan kernel, over ONE
    evaluation of the record transform: no tokenize node feeding a second
    matcher node, and no probe over the reconstructed record text that
    Catalyst would push below the scan guard's exchange (which re-runs the
    transform in the scan task)."""
    from full_lattice_search_spark.plans.queries import QUERIES

    plan = plan_of(QUERIES[name](spark, "/root/testdata/sf0.001"))
    assert len(PYTHON_NODE.findall(plan)) == 1, plan
    assert plan.count("slice(split(text") == 1, plan
    assert "transform(" in plan


def test_curate_no_forced_broadcast(spark):
    """Curation must not force-broadcast corpus-sized tables (reps/dropped
    grow with the corpus; at 10^12 docs a forced broadcast OOMs the
    driver).  AQE may still *choose* broadcast at runtime — that's fine;
    the logical plan just must not demand it."""
    from full_lattice_search_spark.operators.curate import curate_documents

    docs = synth_documents(spark, 30, seed=3, mega_every=0)
    for mode in ("exact", "minhash"):
        kept = curate_documents(docs, LatticeConfig(), dedup=mode)
        optimized = kept._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" not in optimized, (mode, optimized)


def test_simhash_plan_is_codegen_aggregate(spark):
    """The simhash rewrite must hash each token ONCE and aggregate with
    HashAggregate (ints), not 32 interpreted aggregate() HOFs and not a
    SortAggregate fallback."""
    from full_lattice_search_spark.operators.dedup import simhash_signature

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e")], "doc_id long, text string"
    )
    plan = plan_of(simhash_signature(docs))
    assert plan.count("md5") == 1, plan          # one digest per token
    assert "aggregate(" not in plan, plan        # no interpreted HOF folds
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_minhash_plan_hashaggregates_integer_mins(spark):
    from full_lattice_search_spark.operators.dedup import minhash_signature

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "d e f g h i")], "doc_id long, text string"
    )
    plan = plan_of(minhash_signature(docs))
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan
    assert plan.count("md5") == 1, plan          # one digest per shingle
    assert "conv" in plan                        # codegen hex->int


def test_ivf_assignment_has_no_exchange(spark):
    """IVF centroids are plan-time literals: assignment must be a pure
    projection over the scan — zero shuffles at any corpus size."""
    from full_lattice_search_spark.operators.similarity import (
        ivf_assign,
        seed_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = plan_of(ivf_assign(emb, seed_centroids(emb)))
    assert "Exchange" not in plan, plan


def test_every_registered_query_is_arrow_only_and_cartesian_free(spark):
    """Blanket invariant over the WHOLE driver-contract surface: every
    queries() plan must be free of row-at-a-time Python and of
    un-broadcast cartesian products.  (Broadcast nested-loop joins against
    deliberately tiny sides — ANN query sets, corpus-stat rows — are the
    sanctioned shape.)"""
    from full_lattice_search_spark.plans import queries as Q

    sf = "/root/testdata/sf0.001"
    for name, fn in Q.QUERIES.items():
        plan = plan_of(fn(spark, sf))
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_exact_rerank_broadcast_join_constant_plan(spark):
    """r06: the rerank refine stage must broadcast-join the query frame
    (O(1) plan size in the batch width), not build a per-query CaseWhen
    chain of literal vectors — Catalyst analysis choked on chains at a
    few thousand queries.  300 queries is far past where the old chain
    was already pathological, and analyzes instantly as a join."""
    from pyspark.sql import Row

    from full_lattice_search_spark.operators.similarity import _exact_rerank

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, -1.0]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    q_rows = [
        Row(query_id=i, qvec=[1.0, float(i % 7), 0.25, 0.125])
        for i in range(300)
    ]
    short = spark.createDataFrame(
        [(r.query_id, v) for r in q_rows for v in (1, 2, 3)],
        "query_id long, vec_id long",
    )
    out = _exact_rerank(short, q_rows, emb, k=2)
    plan = plan_of(out)
    assert "CaseWhen" not in plan, plan[:2000]
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    # 3 shortlist rows per query, k=2 survivors
    assert out.count() == 600
