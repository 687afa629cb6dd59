"""Property tests (hypothesis): tokenizer invariants, batch-split
invariance (what makes mapInPandas/mapInArrow batching safe), and the
vectorized span DP vs a straightforward per-doc reference implementation
of Lucene's forward-only enumeration."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from full_lattice_search_spark.config import LatticeConfig
from full_lattice_search_spark.functions.tokenizer import tokenize_pandas
from full_lattice_search_spark.operators.match import (
    _DOC_STRIDE,
    _unordered_matches_vec,
    match_tokens_pandas,
)

WORDS = ["a", "b", "c", "dd", "eee"]


@st.composite
def lattice_doc(draw):
    n_pos = draw(st.integers(1, 8))
    recs = []
    for p in range(n_pos):
        n_alt = draw(st.integers(1, 3))
        for r in range(n_alt):
            w = draw(st.sampled_from(WORDS))
            s = draw(st.integers(1, 99))
            recs.append(f"{w}|{p}|{r}|0.{s:02d}")
    return " ".join(recs)


@given(st.lists(lattice_doc(), min_size=1, max_size=5))
@settings(max_examples=40, deadline=None)
def test_tokenizer_batch_split_invariance(docs):
    """Tokenizing a batch == concatenating per-doc tokenizations —
    the property that makes arbitrary Arrow batch boundaries safe."""
    cfg = LatticeConfig(score_buckets=(0.5, 2))
    ids = pd.Series([f"d{i}" for i in range(len(docs))])
    vals = pd.Series([[d] for d in docs])
    whole = tokenize_pandas(ids, vals, cfg).reset_index(drop=True)
    parts = pd.concat(
        [
            tokenize_pandas(ids.iloc[[i]], vals.iloc[[i]], cfg)
            for i in range(len(docs))
        ],
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(whole, parts)


@given(st.lists(lattice_doc(), min_size=1, max_size=4))
@settings(max_examples=40, deadline=None)
def test_tokenizer_invariants(docs):
    cfg = LatticeConfig()
    out = tokenize_pandas(
        pd.Series([f"d{i}" for i in range(len(docs))]),
        pd.Series([[d] for d in docs]),
        cfg,
    )
    for _, g in out.groupby("doc_id"):
        # absolute positions are non-decreasing and start at 1
        ap = g["abs_pos"].to_numpy()
        assert (np.diff(ap) >= 0).all()
        assert ap[0] == 1
        # pos_inc 0 exactly when the lattice position repeats
        pos = g["pos"].to_numpy()
        inc = g["pos_inc"].to_numpy()
        assert inc[0] == 1
        same = pos[1:] == pos[:-1]
        assert ((inc[1:] == 0) == same).all()


def _reference_ordered_enum(plists, slop):
    """Direct transcription of Lucene NearSpansOrdered: forward-only
    pointers, greedy stretch, gap telescoping — O(total positions)."""
    k = len(plists)
    ptrs = [0] * k
    matches = 0
    while ptrs[0] < len(plists[0][0]):
        p1 = plists[0][0][ptrs[0]]
        target = p1 + 1
        ok = True
        for i in range(1, k):
            pos_i = plists[i][0]
            while ptrs[i] < len(pos_i) and pos_i[ptrs[i]] < target:
                ptrs[i] += 1
            if ptrs[i] >= len(pos_i):
                ok = False
                break
            target = pos_i[ptrs[i]] + 1
        if not ok:
            break
        last = target - 1
        if last - p1 - (k - 1) <= slop:
            matches += 1
        ptrs[0] += 1
    return matches


@given(
    st.lists(lattice_doc(), min_size=1, max_size=4),
    st.lists(st.sampled_from(WORDS), min_size=1, max_size=3, unique=True),
    st.integers(0, 6),
)
@settings(max_examples=60, deadline=None)
def test_ordered_dp_matches_reference(docs, terms, slop):
    cfg = LatticeConfig()
    ids = pd.Series([f"d{i}" for i in range(len(docs))])
    toks = tokenize_pandas(ids, pd.Series([[d] for d in docs]), cfg)
    got = match_tokens_pandas(toks, terms, slop, True, "sum", 1.0)
    got_map = dict(zip(got["doc_id"], got["n_spans"]))

    for doc_id, g in toks.groupby("doc_id"):
        g = g.sort_values(["abs_pos", "seq"], kind="stable")
        plists = []
        ok = True
        for t in terms:
            m = (g["token"] == t).to_numpy()
            if not m.any():
                ok = False
                break
            plists.append(
                (g["abs_pos"].to_numpy()[m], g["score"].to_numpy()[m])
            )
        expected = _reference_ordered_enum(plists, slop) if ok else 0
        assert got_map.get(doc_id, 0) == expected, (doc_id, terms, slop)


def test_match_deterministic_across_parallelism(spark):
    from full_lattice_search_spark.config import MatchLatticeParams
    from full_lattice_search_spark.datagen import synth_documents
    from full_lattice_search_spark.operators.match import match_lattice

    results = []
    for parts in (1, 7):
        docs = synth_documents(spark, 60, seed=21, partitions=parts)
        hits = match_lattice(
            docs, "the quick", LatticeConfig(), MatchLatticeParams(slop=3)
        )
        results.append(
            sorted(
                (r["doc_id"], round(r["score"], 9), r["n_spans"])
                for r in hits.collect()
            )
        )
    assert results[0] == results[1]
    assert len(results[0]) > 0


def _unordered_matches(
    plists: list[tuple[np.ndarray, np.ndarray]], slop: int
) -> tuple[np.ndarray, np.ndarray, list[np.ndarray]]:
    """NearSpansUnordered analog: enumerate candidate windows by advancing
    the minimum-start term pointer (heap-free k-way walk); match when the
    covering window satisfies ``(max_end - min_start) - k <= slop``.

    Sequential reference implementation: the equivalence oracle for the
    engine's vectorized ``_unordered_matches_vec``."""
    k = len(plists)
    if k == 1:
        p1, s1 = plists[0]
        return p1, p1 + 1, [s1]
    ptrs = [0] * k
    lens = [len(p) for p, _ in plists]
    starts_out, ends_out = [], []
    scores_out: list[list[float]] = [[] for _ in range(k)]
    while all(ptrs[i] < lens[i] for i in range(k)):
        cur = [plists[i][0][ptrs[i]] for i in range(k)]
        lo = min(cur)
        hi = max(cur)
        if (hi + 1 - lo) - k <= slop:
            starts_out.append(lo)
            ends_out.append(hi + 1)
            for i in range(k):
                scores_out[i].append(plists[i][1][ptrs[i]])
        i_min = int(np.argmin(cur))
        ptrs[i_min] += 1
    return (
        np.asarray(starts_out, dtype=np.int64),
        np.asarray(ends_out, dtype=np.int64),
        [np.asarray(s, dtype=np.float32) for s in scores_out],
    )


def _unordered_matches_by_doc(
    plists: list[tuple[np.ndarray, np.ndarray]], slop: int
) -> tuple[np.ndarray, np.ndarray, list[np.ndarray], np.ndarray]:
    """Sequential unordered walk over doc-encoded positions, one document
    slice at a time."""
    k = len(plists)
    doc_sets = [np.unique(p // _DOC_STRIDE) for p, _ in plists]
    docs = doc_sets[0]
    for d in doc_sets[1:]:
        docs = np.intersect1d(docs, d, assume_unique=True)
    starts_all, ends_all, docs_all = [], [], []
    scores_all: list[list[np.ndarray]] = [[] for _ in range(k)]
    for d in docs:
        sub = []
        for p, s in plists:
            lo = np.searchsorted(p, d * _DOC_STRIDE, side="left")
            hi = np.searchsorted(p, (d + 1) * _DOC_STRIDE, side="left")
            sub.append((p[lo:hi] - d * _DOC_STRIDE, s[lo:hi]))
        st, en, sc = _unordered_matches(sub, slop)
        if len(st):
            starts_all.append(st + d * _DOC_STRIDE)
            ends_all.append(en + d * _DOC_STRIDE)
            docs_all.append(np.full(len(st), d, dtype=np.int64))
            for i in range(k):
                scores_all[i].append(sc[i])
    if not starts_all:
        empty = np.array([], dtype=np.int64)
        return empty, empty, [np.array([], dtype=np.float32)] * k, empty
    return (
        np.concatenate(starts_all),
        np.concatenate(ends_all),
        [np.concatenate(s).astype(np.float32) for s in scores_all],
        np.concatenate(docs_all),
    )


def test_unordered_vec_equals_sequential_walk():
    """The vectorized NearSpansUnordered enumeration must emit exactly the
    sequential min-pointer walk's matches — same spans, same per-term
    payload picks, same emission order — including duplicate positions
    (score-bucket postings) and multi-document encodings."""
    rng = np.random.default_rng(7)
    for trial in range(400):
        k = int(rng.integers(2, 5))
        n_docs = int(rng.integers(1, 4))
        slop = int(rng.integers(0, 8))
        plists = []
        for _ in range(k):
            parts = []
            for d in range(n_docs):
                n = int(rng.integers(0, 8))
                pos = np.sort(rng.integers(0, 15, size=n)) + d * _DOC_STRIDE
                parts.append(pos)
            pos = np.concatenate(parts)
            scores = rng.integers(10, 99, size=len(pos)).astype(np.float32)
            plists.append((pos.astype(np.int64), scores / 100))
        s1, e1, sc1, d1 = _unordered_matches_by_doc(plists, slop)
        s2, e2, sc2 = _unordered_matches_vec(plists, slop)
        assert np.array_equal(s1, s2), trial
        assert np.array_equal(e1, e2), trial
        assert np.array_equal(d1, (s2 // _DOC_STRIDE).astype(np.int64)), trial
        for a, b in zip(sc1, sc2):
            assert np.array_equal(a, b), trial


@st.composite
def multi_phrase_slots(draw):
    k = draw(st.integers(1, 3))
    slots = []
    for _ in range(k):
        n_alt = draw(st.integers(1, 3))
        alts = draw(
            st.lists(
                st.sampled_from(WORDS),
                min_size=n_alt,
                max_size=n_alt,
                unique=True,
            )
        )
        slots.append(alts[0] if len(alts) == 1 else sorted(alts))
    return slots


@given(
    st.lists(lattice_doc(), min_size=1, max_size=4),
    multi_phrase_slots(),
    st.integers(0, 6),
)
@settings(max_examples=60, deadline=None)
def test_multi_phrase_matches_reference(docs, slots, slop):
    """Multi-phrase slots through the vectorized searchsorted chain equal
    the straightforward per-doc forward-only enumeration where each
    slot's postings are the UNION of its alternatives (the SpanOr-merged
    iterator Lucene's NearSpansOrdered consumes)."""
    cfg = LatticeConfig()
    ids = pd.Series([f"d{i}" for i in range(len(docs))])
    toks = tokenize_pandas(ids, pd.Series([[d] for d in docs]), cfg)
    got = match_tokens_pandas(toks, slots, slop, True, "sum", 1.0)
    got_map = dict(zip(got["doc_id"], got["n_spans"]))

    for doc_id, g in toks.groupby("doc_id"):
        g = g.sort_values(["abs_pos", "seq"], kind="stable")
        plists = []
        ok = True
        for t in slots:
            alts = [t] if isinstance(t, str) else t
            m = g["token"].isin(alts).to_numpy()
            if not m.any():
                ok = False
                break
            plists.append(
                (g["abs_pos"].to_numpy()[m], g["score"].to_numpy()[m])
            )
        expected = _reference_ordered_enum(plists, slop) if ok else 0
        assert got_map.get(doc_id, 0) == expected, (doc_id, slots, slop)
