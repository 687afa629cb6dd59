"""Payload-scoring golden tests, ported from
SumLatticePayloadFunctionTests.java:22-84 (FIXTURES.md §4)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from full_lattice_search_spark.config import MIN_LOG_SCORE, MIN_SCORE, SCORE_MULT
from full_lattice_search_spark.operators.match import (
    _fold_leaf_scores,
    _span_scores,
    match_tokens_pandas,
)


def test_constants():
    assert MIN_SCORE == 1e-6
    assert MIN_LOG_SCORE == math.log(1e-6)
    assert SCORE_MULT == math.log(1e5)


def span_score(start, end, leaf, len_norm):
    return float(
        _span_scores(
            np.array([start]),
            np.array([end]),
            np.array([leaf], dtype=np.float32),
            len_norm,
            np.float32,
        )[0]
    )


def test_span_score_len_norm_1():
    # start 1, end 3, leaf -3.506 → 1500 ± 1
    assert abs(span_score(1, 3, -3.506, 1.0) - 1500.0) < 1.5


def test_span_score_len_norm_half():
    assert abs(span_score(1, 3, -3.506, 0.5) - 3000.0) < 2.5


def test_span_score_len_norm_zero_disables():
    assert abs(span_score(1, 3, -3.506, 0.0) - 3000.0) < 2.5


def test_leaf_fold_steps():
    # acc 0, payload 0.6 → -0.510825
    leaf = _fold_leaf_scores([np.array([0.6], dtype=np.float32)], np.float32)
    assert abs(float(leaf[0]) - (-0.510825)) < 1e-5
    # acc -0.510825, payload 0.03 → -0.510825 + -3.506558
    leaf2 = _fold_leaf_scores(
        [
            np.array([0.6], dtype=np.float32),
            np.array([0.03], dtype=np.float32),
        ],
        np.float32,
    )
    assert abs(float(leaf2[0]) - (-0.510825 - 3.506558)) < 1e-4


def test_leaf_fold_clamps_per_step():
    # acc -12.5, payload 0.03 → clamped at MIN_LOG_SCORE (order-dependent)
    acc = np.array([-12.5], dtype=np.float32)
    step = np.maximum(
        acc + np.log(np.array([0.03], dtype=np.float32)),
        np.float32(MIN_LOG_SCORE),
    )
    assert float(step[0]) == np.float32(MIN_LOG_SCORE)
    # through the fold: payloads that drive acc below the floor stick at it
    leaf = _fold_leaf_scores(
        [np.full(1, 0.001, dtype=np.float32)] * 3, np.float32
    )
    assert float(leaf[0]) >= MIN_LOG_SCORE - 1e-6


def doc_scores(payloads, payload_function, len_norm=1.0):
    """Scores the matching kernel gives documents whose one-term spans
    carry ``payloads`` (doc id -> list; a span scores 1e5 · payload /
    len_norm): the doc score path, A4-A8."""
    rows = [(d, "a", i, p) for d, ps in payloads.items()
            for i, p in enumerate(ps)]
    toks = pd.DataFrame(rows, columns=["doc_id", "token", "abs_pos", "score"])
    toks["score"] = toks["score"].astype(np.float32)
    toks["seq"] = 0
    with np.errstate(invalid="ignore"):
        hits = match_tokens_pandas(
            toks, ["a"], 0, True, payload_function, len_norm, np.float64
        )
    return dict(zip(hits["doc_id"], hits["score"]))


def test_doc_score_single_span_identity():
    # a document none of whose tokens matches gets no hit row at all
    got = doc_scores({"d": [0.5], "e": []}, "sum")
    assert got == {"d": pytest.approx(50000.0, rel=1e-6)}


def test_doc_score_max_min():
    s = {"d": [0.01, 0.03, 0.02]}
    assert doc_scores(s, "max")["d"] == pytest.approx(3000.0, rel=1e-6)
    assert doc_scores(s, "min")["d"] == pytest.approx(1000.0, rel=1e-6)
    assert doc_scores(s, "sum")["d"] == pytest.approx(6000.0, rel=1e-6)


def test_doc_score_negative_and_nan_guard():
    # a negative payload folds to NaN, as does a negative length norm
    assert doc_scores({"d": [-0.5]}, "sum") == {"d": 0.0}
    assert doc_scores({"d": [0.5]}, "sum", len_norm=-1.0) == {"d": 0.0}
