"""``match_lattice`` — ordered span matching + probabilistic payload scoring.

Re-expresses the reference's Lucene query stack (SpanNearQuery wrapped in
LatticePayloadScoreQuery; ``index/query/MatchLatticeQueryBuilder.java:263-347``
and ``index/query/LatticePayloadScoreQuery.java:52-343``) as one doc-scan
kernel plus one token-table entry:

1. **Doc-scan kernel** (``_scan_match``, behind `match_lattice` and
   `match_lattice_many`): one ``mapInPandas`` over ``(doc_id, values)``
   rows — tokenize + match + score inside a single Arrow batch, N queries
   over one tokenization.  A JVM-side substring prefilter keeps
   non-candidate documents out of Python entirely, so at 100 TB the scan
   stays a parallel filter→project with **zero shuffles**; the only
   exchange is the final top-k (`TakeOrderedAndProject`, per-partition k
   then merge — the same physical shape as ES per-shard top-k +
   coordinator merge).

2. **Token-table entry** (`match_lattice_tokens`): for a pre-materialized
   token table (the index, or a user's token table), filter
   ``token IN terms`` — pushed to the parquet/Iceberg scan — then one
   shuffle co-locates each candidate doc's postings for the same span DP.

Span-matching semantics replicate Lucene's ``NearSpansOrdered``: subspan
iterators only move forward; for each occurrence of the first term the later
terms stretch greedily to the earliest in-order positions, and the match is
emitted iff the accumulated gap ``start_n - end_1 - …`` is within slop.  For
unit-width terms the gap telescopes to ``p_k - p_1 - (k-1)``, which makes the
whole enumeration a chain of ``np.searchsorted`` calls — fully vectorized
across match candidates.

Scoring replicates the payload algebra (``SumLatticePayloadFunction.java``
and siblings) including the order-dependent per-step clamp of the log fold
and the float32 constants (MIN_SCORE=10e-7f, SCORE_MULT=log(10e4)).
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from full_lattice_search_spark.config import (
    MIN_LOG_SCORE,
    MIN_SCORE,
    NULL_PAYLOAD_SCORE,
    SCORE_MULT,
    LatticeConfig,
    MatchLatticeParams,
)
from full_lattice_search_spark.functions.tokenizer import (
    text_values_col,
    tokenize_pandas,
)
from full_lattice_search_spark.schema import (
    EXPLAIN_HITS_SCHEMA,
    HITS_SCHEMA,
    SPAN_STATS_SCHEMA,
)


def analyze_query(
    query: str, config: LatticeConfig, analyzer: str = "default"
) -> list[str]:
    """Run the search analyzer over the query text (whitespace + lowercase,
    same chain as indexing).  Rejects graph queries — query tokens that land
    at the same position (posInc 0), mirroring
    ``MatchLatticeQueryBuilder.java:312-314``.

    ``analyzer='keyword'`` short-circuits to a single term on the raw value
    (MatchLatticeQueryBuilder.java:292-295)."""
    if analyzer == "keyword":
        return [query] if query else []
    if analyzer != "default":
        raise ValueError(f"unknown query analyzer [{analyzer}]")
    toks = tokenize_pandas(
        pd.Series(["q"]), pd.Series([[query]]), config
    )
    if len(toks) == 0:
        return []
    if (toks["pos_inc"].to_numpy() == 0).any():
        raise ValueError("graph queries are not supported")
    return list(toks["token"])


# ---------------------------------------------------------------------------
# Per-document span DP (numpy)
# ---------------------------------------------------------------------------


def _ordered_matches(
    plists: list[tuple[np.ndarray, np.ndarray]], slop: int
) -> tuple[np.ndarray, np.ndarray, list[np.ndarray]]:
    """Lucene NearSpansOrdered enumeration over unit-width terms.

    ``plists[i] = (positions, payload_scores)`` for query term i, sorted by
    position (duplicates kept — score-bucket duplicates are real postings).

    Returns ``(span_start, span_end_exclusive, per_term_scores)`` for every
    enumerated match, vectorized over occurrences of the first term.
    """
    p1, s1 = plists[0]
    k = len(plists)
    if k == 1:
        return p1, p1 + 1, [s1]
    starts = p1
    valid = np.ones(len(p1), dtype=bool)
    target = p1 + 1  # next subspan must start at/after previous end
    term_scores = [s1]
    last = p1
    for pos_i, score_i in plists[1:]:
        idx = np.searchsorted(pos_i, target, side="left")
        ok = idx < len(pos_i)
        idx_c = np.minimum(idx, max(len(pos_i) - 1, 0))
        m = pos_i[idx_c]
        sc = score_i[idx_c]
        valid &= ok
        term_scores.append(sc)
        last = m
        target = m + 1
    gap = last - starts - (k - 1)
    matched = valid & (gap <= slop)
    return (
        starts[matched],
        last[matched] + 1,
        [s[matched] for s in term_scores],
    )


def _unordered_matches_vec(
    plists: list[tuple[np.ndarray, np.ndarray]], slop: int
) -> tuple[np.ndarray, np.ndarray, list[np.ndarray]]:
    """Vectorized NearSpansUnordered walk (no per-document Python loop).

    Equivalence with the sequential min-pointer walk: every posting is
    consumed exactly once, at the step where it is the global minimum
    (ties break to the lowest term index, then list order).  At the step
    where posting ``e`` of list ``i`` at position ``p`` is consumed,
    pointer ``j`` sits at the first posting of list ``j`` with position
    ``> p`` (for ``j < i`` — its positions ``<= p`` were consumed at
    earlier steps) or ``>= p`` (for ``j > i`` — equal positions are still
    unconsumed because ``i`` wins the tie).  The step executes iff all
    those pointers exist (a missing one is exactly the walk's exhaustion
    stop), and emits iff the covering width satisfies the slop.  Each
    condition is one ``np.searchsorted`` per (i, j) pair over the
    doc-encoded positions, so the whole enumeration is k(k-1)
    searchsorteds regardless of document count; windows that would cross
    a document boundary exceed the slop by construction and mask out.
    Results are re-sorted to the sequential walk's emission order
    (position, term index, duplicate order) so downstream float folds see
    the same accumulation order.  Property-tested against the sequential
    walk in ``tests/test_properties.py``.
    """
    k = len(plists)
    if k == 1:
        p1, s1 = plists[0]
        return p1, p1 + 1, [s1]
    if any(len(p) == 0 for p, _ in plists):
        empty = np.array([], dtype=np.int64)
        return empty, empty, [np.array([], dtype=np.float32)] * k
    starts_parts: list[np.ndarray] = []
    ends_parts: list[np.ndarray] = []
    scores_parts: list[list[np.ndarray]] = [[] for _ in range(k)]
    key_i_parts: list[np.ndarray] = []
    key_e_parts: list[np.ndarray] = []
    for i, (p_i, s_i) in enumerate(plists):
        n_i = len(p_i)
        if n_i == 0:
            continue
        valid = np.ones(n_i, dtype=bool)
        maxpos = p_i.copy()
        window_scores: list[np.ndarray | None] = [None] * k
        window_scores[i] = s_i
        for j, (p_j, s_j) in enumerate(plists):
            if j == i:
                continue
            side = "right" if j < i else "left"
            idx = np.searchsorted(p_j, p_i, side=side)
            ok = idx < len(p_j)
            idx_c = np.minimum(idx, max(len(p_j) - 1, 0))
            valid &= ok
            np.maximum(maxpos, p_j[idx_c], out=maxpos)
            window_scores[j] = s_j[idx_c]
        matched = valid & ((maxpos + 1 - p_i) - k <= slop)
        if not matched.any():
            continue
        starts_parts.append(p_i[matched])
        ends_parts.append(maxpos[matched] + 1)
        for j in range(k):
            scores_parts[j].append(window_scores[j][matched])
        key_i_parts.append(np.full(int(matched.sum()), i, dtype=np.int64))
        key_e_parts.append(np.flatnonzero(matched))
    if not starts_parts:
        empty = np.array([], dtype=np.int64)
        return empty, empty, [np.array([], dtype=np.float32)] * k
    starts = np.concatenate(starts_parts)
    ends = np.concatenate(ends_parts)
    key_i = np.concatenate(key_i_parts)
    key_e = np.concatenate(key_e_parts)
    # sequential consumption order: (position, term index, in-list order)
    order = np.lexsort((key_e, key_i, starts))
    return (
        starts[order],
        ends[order],
        [np.concatenate(s)[order] for s in scores_parts],
    )


def _fold_leaf_scores(
    term_scores: list[np.ndarray], dtype: type
) -> np.ndarray:
    """A2: per-span payload fold ``acc = max(acc + log(payload), MIN_LOG)``,
    clamped at *every step* (order-dependent — do NOT sum-then-clamp;
    SumLatticePayloadFunction.java:44-49).  Null payloads decode to 1e-5
    (FloatDecoder.java:24-44)."""
    n = len(term_scores[0]) if term_scores else 0
    acc = np.zeros(n, dtype=dtype)
    min_log = dtype(MIN_LOG_SCORE)
    for s in term_scores:
        s = s.astype(dtype)
        s = np.where(np.isnan(s), dtype(NULL_PAYLOAD_SCORE), s)
        acc = np.maximum(acc + np.log(s), min_log)
    return acc


def _span_scores(
    starts: np.ndarray,
    ends: np.ndarray,
    leaf: np.ndarray,
    len_norm: float,
    dtype: type,
) -> np.ndarray:
    """A3: ``exp(SCORE_MULT + leaf - log((end-start) * lenNorm))``;
    lenNorm == 0 disables length normalization
    (SumLatticePayloadFunction.java:30-41)."""
    base = dtype(SCORE_MULT) + leaf
    if len_norm != 0.0:
        width = (ends - starts).astype(dtype)
        base = base - np.log(width * dtype(len_norm))
    return np.exp(base)


_EMPTY_HITS = pd.DataFrame(
    {
        "doc_id": pd.Series([], dtype=object),
        "score": pd.Series([], dtype=np.float64),
        "n_spans": pd.Series([], dtype=np.int32),
    }
)


_SPAN_COLS = ("span_start", "span_end", "span_score")


def _kernel_schema(base, explain: bool, doclen: bool = False):
    """Arrow schema of a matching kernel's output: ``base`` (HITS_SCHEMA
    or the SPAN_STATS_SCHEMA contract), then the explain arrays, then —
    for a kernel that sees every token of its documents — their lengths.
    The order mirrors the kernels' construction order."""
    fields = list(base.fields)
    if explain:
        fields += [
            f for f in EXPLAIN_HITS_SCHEMA.fields if f.name in _SPAN_COLS
        ]
    if doclen:
        fields += [
            T.StructField("dl", T.LongType(), False),
            # overlap-discounted length (posinc>0 tokens only — what a
            # Lucene norm stores before quantization)
            T.StructField("dl_norm", T.LongType(), False),
        ]
    return T.StructType(fields)


# a batch's hits (match_lattice_many): the query id leads HITS_SCHEMA
_QUERY_HITS_SCHEMA = T.StructType(
    [T.StructField("query_id", T.StringType(), False)] + HITS_SCHEMA.fields
)


def _empty_hits(explain: bool, with_freq: bool = False) -> pd.DataFrame:
    out = _EMPTY_HITS.copy()
    if with_freq:
        out["sloppy_freq"] = pd.Series([], dtype=np.float64)
    if explain:
        for c in ("span_start", "span_end", "span_score"):
            out[c] = pd.Series([], dtype=object)
    return out

# per-doc position space for the cross-document encoding; abs_pos is far
# below this for any real document, and slop is validated against it
_DOC_STRIDE = np.int64(1) << 40


# Every stats frame composed scoring persists (and every intermediate
# frame a query builder persists) is tracked here so
# callers can scope its lifetime instead of reaching for
# spark.catalog.clearCache() (which would evict unrelated caches too).
_COMPOSED_STATS_CACHE: list[DataFrame] = []


def track_cached(df: DataFrame) -> DataFrame:
    """Register a persisted frame with ``composed_cache_scope`` and
    ``release_composed_caches``; returns it unchanged."""
    _COMPOSED_STATS_CACHE.append(df)
    return df


@contextlib.contextmanager
def composed_cache_scope():
    """Scoped lifecycle for composed query caches.

    With the reference-default ``include_span_score`` every match operator
    persists one statistics frame per query — O(docs) rows for
    ``match_lattice``, O(candidate docs) for ``match_lattice_tokens`` and
    ``match_lattice_indexed`` — and Spark keeps it registered until
    unpersist/session end.  A long-running interactive
    driver issuing many distinct composed queries accumulates cache;
    wrap each query (or batch of queries) in this scope and every stats
    frame persisted inside is unpersisted on exit::

        with composed_cache_scope():
            hits = match_lattice(docs, "q", cfg, params)
            hits.collect()          # consume INSIDE the scope

    Consume the hits inside the scope — using the DataFrame afterwards
    still works but recomputes the stats pass."""
    mark = len(_COMPOSED_STATS_CACHE)
    try:
        yield
    finally:
        while len(_COMPOSED_STATS_CACHE) > mark:
            df = _COMPOSED_STATS_CACHE.pop()
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped


def release_composed_caches() -> int:
    """Unpersist every tracked composed-query stats frame (the
    non-context-manager surface).  Returns how many were released."""
    n = 0
    while _COMPOSED_STATS_CACHE:
        df = _COMPOSED_STATS_CACHE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def match_tokens_pandas(
    tokens: pd.DataFrame,
    terms: list[str],
    slop: int,
    in_order: bool,
    payload_function: str,
    len_norm: float,
    dtype: type = np.float32,
    prefix_last: bool = False,
    explain: bool = False,
    with_freq: bool = False,
) -> pd.DataFrame:
    """Match + score one batch of token rows (any number of docs).

    ``tokens`` needs columns doc_id, token, abs_pos, score, seq.
    Returns (doc_id, score, n_spans) for docs with >= 1 enumerated span;
    with ``explain=True`` adds per-doc ``span_start``/``span_end``/
    ``span_score`` arrays (doc-relative, enumeration order) — the analog of
    the reference's per-hit Explanation tree
    (LatticePayloadScoreQuery.java:316-326).  With ``with_freq=True`` adds
    ``sloppy_freq``: Lucene's span frequency Σ 1/(1 + span gap count),
    float32-accumulated in enumeration order (SpanScorer.setFreqCurrentDoc
    analog) — the raw material of the "lucene" similarity flavor.

    Vectorized across documents: positions are encoded as
    ``doc_index * 2^40 + abs_pos`` so the greedy in-order chain (one
    ``searchsorted`` per query term) runs over ALL documents at once — a
    chain that leaks into the next document necessarily exceeds the slop
    and is masked out.  No per-document Python loop on either path.
    """
    if slop < 0:  # audio seconds→slop conversion can go negative: no match
        return _empty_hits(explain, with_freq)
    assert slop < (1 << 39), "slop out of range for position encoding"
    cand = tokens[_candidate_mask(tokens["token"], terms, prefix_last)]
    if len(cand) == 0:
        return _empty_hits(explain, with_freq)
    # postings order: by (abs_pos, seq) per term — stable, deterministic
    cand = cand.sort_values(["doc_id", "abs_pos", "seq"], kind="stable")
    doc_codes, doc_uniques = pd.factorize(cand["doc_id"], sort=False)
    gpos = doc_codes.astype(np.int64) * _DOC_STRIDE + cand["abs_pos"].to_numpy(
        dtype=np.int64
    )
    tok_arr = cand["token"].to_numpy()
    score_arr = cand["score"].to_numpy(dtype=np.float32)

    plists: list[tuple[np.ndarray, np.ndarray]] = []
    for i, t in enumerate(terms):
        if prefix_last and i == len(terms) - 1:
            # phrase-prefix: the final term matches any token with the
            # prefix (SpanMultiTermQueryWrapper(PrefixQuery) analog,
            # mapper/LatticeFieldMapper.java:251-271)
            m = cand["token"].str.startswith(t).to_numpy()
        elif not isinstance(t, str):
            # multi-phrase slot: any of the alternatives matches this
            # position (SpanOrQuery over the slot's terms — the
            # MultiPhraseQuery analog); the union list inherits the
            # (abs_pos, seq) postings order from `cand`
            m = np.isin(tok_arr, t)
        else:
            m = tok_arr == t
        if not m.any():
            return _empty_hits(explain, with_freq)
        plists.append((gpos[m], score_arr[m]))

    if in_order:
        starts, ends, term_scores = _ordered_matches(plists, slop)
    else:
        starts, ends, term_scores = _unordered_matches_vec(plists, slop)
    # matches whose window crossed a document boundary exceed the slop and
    # were already masked; starts/ends share one doc by construction
    match_docs = (starts // _DOC_STRIDE).astype(np.int64)
    if len(starts) == 0:
        return _empty_hits(explain, with_freq)

    leaf = _fold_leaf_scores(term_scores, dtype)
    spans = _span_scores(starts, ends, leaf, len_norm, dtype)

    n_docs = len(doc_uniques)
    n_spans = np.bincount(match_docs, minlength=n_docs).astype(np.int64)
    if payload_function == "sum":
        # ordered fold per doc to mirror the reference's accumulation
        agg = np.zeros(n_docs, dtype=dtype)
        np.add.at(agg, match_docs, spans.astype(dtype))
    elif payload_function == "max":
        agg = np.full(n_docs, -np.inf, dtype=dtype)
        np.maximum.at(agg, match_docs, spans.astype(dtype))
    else:  # min
        agg = np.full(n_docs, np.inf, dtype=dtype)
        np.minimum.at(agg, match_docs, spans.astype(dtype))

    hit_mask = n_spans > 0
    out_scores = agg[hit_mask].astype(np.float64)
    out_scores = np.where(
        np.isnan(out_scores) | (out_scores < 0), 0.0, out_scores
    )
    out = pd.DataFrame(
        {
            "doc_id": pd.Series(np.asarray(doc_uniques, dtype=object)[hit_mask]),
            "score": out_scores,
            "n_spans": n_spans[hit_mask].astype(np.int32),
        }
    )
    if with_freq:
        # Lucene sloppy freq: per span 1/(1 + gaps), gaps = width minus the
        # matched terms; accumulated in `dtype` — float32 (the default)
        # mirrors SpanScorer's float freq field; the float64 variant is
        # for order-insensitive oracle comparison
        gaps = (ends - starts - len(terms)).astype(np.int64)
        np.maximum(gaps, 0, out=gaps)
        slop_factor = (1.0 / (1.0 + gaps)).astype(dtype)
        freq = np.zeros(n_docs, dtype=dtype)
        np.add.at(freq, match_docs, slop_factor)
        out["sloppy_freq"] = freq[hit_mask].astype(np.float64)
    if explain:
        # match rows are sorted by doc (gpos-ascending on both paths), so the
        # per-doc breakdown is an offset split — no per-row Python objects
        # beyond the output lists themselves (explain is a debugging surface).
        cuts = np.cumsum(n_spans[hit_mask])[:-1]
        rel_start = (starts % _DOC_STRIDE).astype(np.int64)
        rel_end = (ends % _DOC_STRIDE).astype(np.int64)
        out["span_start"] = pd.Series(
            np.split(rel_start, cuts), dtype=object
        )
        out["span_end"] = pd.Series(np.split(rel_end, cuts), dtype=object)
        out["span_score"] = pd.Series(
            np.split(spans.astype(np.float64), cuts), dtype=object
        )
    return out


def _cells(values: pd.Series) -> list:
    """Array cells for Arrow: a doc the lookup missed maps to NaN, which
    must become None (a null cell), not a float."""
    return [None if isinstance(x, float) else x for x in values]


def span_stats_pandas(
    tokens: pd.DataFrame,
    doc_ids,
    terms: list,
    slop: int,
    in_order: bool,
    payload_function: str,
    len_norm: float,
    dtype: type = np.float32,
    prefix_last: bool = False,
    explain: bool = False,
) -> pd.DataFrame:
    """One batch of the composed-scoring contract (SPAN_STATS_SCHEMA):
    one row per document of ``doc_ids``, whose token rows ``tokens``
    holds completely (at least its candidate-term rows).

    A row carries the hit fields (``payload_score``, null for a document
    without a span, and ``n_spans``), the document's candidate-term
    frequencies as parallel ``tf_tokens``/``tf_counts`` arrays (null
    without a candidate term), the float32 Lucene ``sloppy_freq`` and,
    with ``explain``, the per-span arrays.  Every matching kernel emits
    these rows when scoring is composed, so the similarity is composed
    in one place from the pass that matched."""
    hits = match_tokens_pandas(
        tokens, terms, slop, in_order, payload_function, len_norm, dtype,
        prefix_last=prefix_last, explain=explain, with_freq=True,
    ).set_index("doc_id")
    out = pd.DataFrame({"doc_id": np.asarray(doc_ids, dtype=object)})
    doc = out["doc_id"]
    out["payload_score"] = doc.map(hits["score"])
    out["n_spans"] = doc.map(hits["n_spans"]).fillna(0).astype("int32")
    tf = (
        tokens[_candidate_mask(tokens["token"], terms, prefix_last)]
        .groupby(["doc_id", "token"])
        .size()
        .reset_index(name="tf")
        .groupby("doc_id")
    )
    out["tf_tokens"] = _cells(doc.map(tf["token"].agg(list)))
    out["tf_counts"] = _cells(doc.map(tf["tf"].agg(list)))
    out["sloppy_freq"] = doc.map(hits["sloppy_freq"])
    if explain:
        for c in _SPAN_COLS:
            out[c] = _cells(doc.map(hits[c]))
    return out


# ---------------------------------------------------------------------------
# Spark plans
# ---------------------------------------------------------------------------


def _resolve(
    query,
    config: LatticeConfig,
    params: MatchLatticeParams,
    analyzer: str = "default",
):
    if isinstance(query, str):
        terms = analyze_query(query, config, analyzer)
    else:
        terms = analyze_multi_phrase(query, config, analyzer)
    slop = params.effective_slop(config, len(terms))
    return terms, slop


def analyze_multi_phrase(
    slots, config: LatticeConfig, analyzer: str = "default"
) -> list:
    """Multi-phrase query analysis (Lucene MultiPhraseQuery analog — the
    reference delegates phrase/multi-phrase/phrase-prefix to the text
    query machinery, ``mapper/LatticeFieldMapper.java:259-271``): the
    query is a list of per-position slots, each a string or a list of
    alternative strings ("synonyms at one position").  Every alternative
    runs through the query analyzer and must come out as exactly one
    term.  Returns the slot list with single-alternative slots collapsed
    to plain strings (the downstream kernels treat a list slot as
    match-any-of)."""
    terms: list = []
    for slot in slots:
        alts = [slot] if isinstance(slot, str) else list(slot)
        if not alts:
            raise ValueError("multi-phrase slot with no alternatives")
        analyzed = []
        for alt in alts:
            t = analyze_query(alt, config, analyzer)
            if len(t) != 1:
                raise ValueError(
                    "each multi-phrase alternative must analyze to one "
                    f"term; {alt!r} analyzed to {t!r}"
                )
            analyzed.append(t[0])
        uniq = sorted(set(analyzed))
        terms.append(uniq[0] if len(uniq) == 1 else uniq)
    return terms


def _flat_terms(terms: list) -> list[str]:
    """Flatten multi-phrase slots to the candidate-term list."""
    out: list[str] = []
    for t in terms:
        if isinstance(t, str):
            out.append(t)
        else:
            out.extend(t)
    return out


def _candidate_mask(tokens: pd.Series, terms: list, prefix: bool) -> pd.Series:
    """Rows of a token column that can take part in a match."""
    keep = tokens.isin(_flat_terms(terms))
    if prefix and terms:
        keep |= tokens.str.startswith(terms[-1]).fillna(False).astype(bool)
    return keep


def candidate_pred(terms: list, prefix: bool = False):
    """``_candidate_mask`` as a Column predicate over ``token`` — the
    filter pushed down to a token-table scan."""
    pred = F.col("token").isin(_flat_terms(terms))
    if prefix and terms:
        pred = pred | F.col("token").startswith(terms[-1])
    return pred


def _zero_terms_hits(source: DataFrame, params: MatchLatticeParams) -> DataFrame:
    """zero_terms_query='all': every doc matches with MIN_SCORE (× boost).
    ``source`` holds ``doc_id`` (led by ``query_id`` for a batch)."""
    return source.select(
        *source.columns,
        F.lit(float(MIN_SCORE) * params.boost).alias("score"),
        F.lit(0).alias("n_spans"),
    )


def _lucene_idf_terms(
    terms: list, dfs: dict[str, int], prefix: bool
) -> list[str]:
    """The distinct term set Lucene's SpanWeight collects for the idf sum
    (``extractTermStates`` dedups into a Map<Term, TermStates>; terms
    absent from the corpus contribute no TermStatistics).  For
    phrase_prefix the last slot expands to every corpus token with the
    prefix ("blended" statistics over the rewritten SpanOr); multi-phrase
    slots contribute each alternative."""
    fixed = terms[:-1] if prefix else terms
    out = list(dict.fromkeys(_flat_terms(fixed)))
    if prefix:
        p = terms[-1]
        out.extend(
            t for t in sorted(dfs) if t.startswith(p) and t not in out
        )
    return [t for t in out if dfs.get(t, 0) > 0]


def _lucene_sim_sql(weight: float, avgdl: float) -> str:
    """Float32 Lucene-similarity SQL over per-row ``sloppy_freq`` /
    ``dl_norm`` columns with plan-time ``weight``/``avgdl`` literals.  The
    `d` suffixes matter: bare fractional literals parse as DECIMAL in
    Spark SQL and would silently turn the norm into 6-digit decimal math."""
    from full_lattice_search_spark.operators.bm25 import B, K1

    # Lucene SmallFloat.byte4ToInt(intToByte4(dl_norm)): exact below 24
    # (NUM_FREE_VALUES = 255 - longToInt4(Integer.MAX_VALUE) = 24 small
    # values get dedicated bytes), else 24 + top-4-significant-bits of
    # (dl_norm - 24).  A plain top-4-bit truncation is wrong for e.g.
    # 21 (->20) and 50 (->48): Lucene keeps both exact.
    s_expr = (
        "greatest(cast(floor(log2(greatest(dl_norm - 24, 1))) as int)"
        " - 3, 0)"
    )
    dlq = (
        f"(case when dl_norm < 24 then dl_norm else 24 + "
        f"shiftleft(shiftright(dl_norm - 24, {s_expr}), {s_expr}) end)"
    )
    norm = f"({K1!r}d * (1.0d - {B!r}d + {B!r}d * {dlq} / {avgdl!r}d))"
    tfn = f"cast(sloppy_freq / (sloppy_freq + {norm}) as float)"
    return f"cast(cast({weight!r}d as float) * {tfn} as float)"


def _lucene_corpus_consts(
    doclen: DataFrame, dfs: dict[str, int], terms: list[str], boost: float
) -> tuple[float, float]:
    """(weight, avgdl) literals from corpus statistics, float32-composed
    exactly like ``lucene_legacy_span_similarity``."""
    import math

    from full_lattice_search_spark.operators.bm25 import K1

    crow = doclen.where("dl > 0").selectExpr(
        "count(1) AS n", "sum(dl) AS t"
    ).collect()[0]
    n_docs = int(crow["n"] or 0)
    total_len = int(crow["t"] or 0)
    if n_docs == 0:
        return 0.0, 1.0
    idf = np.float32(
        sum(
            math.log(
                1.0 + (n_docs - dfs.get(t, 0) + 0.5) / (dfs.get(t, 0) + 0.5)
            )
            for t in terms
        )
    )
    weight = float(np.float32(np.float32(boost * (K1 + 1.0)) * idf))
    avgdl = float(np.float32(total_len / n_docs))
    return weight, avgdl


def _compose(
    stats: DataFrame,
    doclen: DataFrame,
    terms: list,
    params: MatchLatticeParams,
    prefix: bool,
) -> DataFrame:
    """A7 ``include_span_score``: multiply the similarity into the payload
    score, mirroring ``LatticePayloadScoreQuery.java:333-339``
    (``scoreCurrentDoc`` returns ``getSpanScore() * payloadScore``), and
    apply the builder ``boost``.  The decomposition is exposed as
    ``payload_score`` / ``similarity`` columns (the Explanation analog at
    the doc level); explain arrays ride along.

    ``stats``: the persisted per-doc frame a matching kernel emitted
    (``span_stats_pandas``).  ``doclen``: (doc_id, dl[, dl_norm]) for
    every document of the corpus.  The dfs come from the stats rows,
    which hold every document with a candidate term.

    - ``similarity='engine'``: ``bm25_from_tf`` over the exploded tf
      arrays — the same expression ``bm25_scores`` uses.
    - ``similarity='lucene'``: the reconstructed ES-7.x span similarity
      (``bm25.lucene_legacy_span_similarity``, FIXTURES.md §6), which
      reproduces the reference's published end-to-end scores.  freq is
      the kernel's float32 sloppy span frequency (Σ 1/(1+gaps)); dl is
      ``dl_norm``, the overlap-discounted token count, quantized to
      Lucene's SmallFloat norm byte; avgdl counts the FULL token count
      (Lucene's dl and avgdl are structurally inconsistent on lattice
      fields).  idf and weight are corpus constants collected by one tiny
      eager job each (k df values, 2 scalars) and inlined as literals;
      every step is cast through float32 in Lucene's association order,
      and the boost is folded into the weight."""
    from full_lattice_search_spark.operators.bm25 import bm25_from_tf

    lucene = params.similarity == "lucene"
    doclen = doclen.selectExpr(
        "CAST(doc_id AS STRING) AS doc_id", "dl",
        *(["dl_norm"] if lucene else []),
    )
    if lucene:
        df_rows = stats.selectExpr("explode(tf_tokens) AS token").groupBy(
            "token"
        ).agg(F.expr("count(1) AS df"))
        dfs = {r["token"]: int(r["df"]) for r in df_rows.collect()}
        weight, avgdl = _lucene_corpus_consts(
            doclen, dfs, _lucene_idf_terms(terms, dfs, prefix),
            float(params.boost),
        )
        sims = doclen.selectExpr("doc_id", "dl_norm")
        similarity = _lucene_sim_sql(weight, avgdl)
        score = (
            "CAST(CAST(payload_score AS FLOAT)"
            " * CAST(similarity AS FLOAT) AS FLOAT)"
        )
    else:
        sims = bm25_from_tf(
            stats.selectExpr(
                "doc_id",
                "inline(arrays_zip(tf_tokens, tf_counts)) AS (token, tf)",
            ),
            doclen,
        )
        similarity = "bm25"
        score = f"payload_score * similarity * {float(params.boost)!r}D"
    explain = [c for c in _SPAN_COLS if c in stats.columns]
    return (
        stats.where("n_spans > 0")
        .join(sims, "doc_id")
        .selectExpr("doc_id", "n_spans", "payload_score",
                    f"CAST({similarity} AS DOUBLE) AS similarity", *explain)
        .selectExpr("doc_id", f"CAST({score} AS DOUBLE) AS score", "n_spans",
                    "payload_score", "similarity", *explain)
    )


def _persisted(stats: DataFrame) -> DataFrame:
    """The one tracked persist of a composed query's stats frame: the
    composition reads it more than once (dfs or the tf rows, the hits,
    on the doc-scan path the lengths too), and every read would re-run
    the kernel."""
    from pyspark import StorageLevel

    return track_cached(stats.persist(StorageLevel.MEMORY_AND_DISK))


def _contains_probe(
    slots, config: LatticeConfig = LatticeConfig(), text=None
) -> "F.Column | None":
    """Superset candidate predicate over RAW text (``text``, default the
    ``text`` column) for an analyzed query: a document can only produce a
    span if every slot term occurs as a token, and every token is a
    lowercased whitespace word of the text — so ``lower(text) CONTAINS
    term`` (OR across a slot's alternatives, AND across slots) never drops
    a matching doc.

    VALIDITY: the probe compares ANALYZED terms against RAW text, a
    superset only while ``config``'s follow-on chain is at most
    ``lowercase``.  A transforming chain (soundex turns 'Robert' into
    'R163'; asciifold folds accents the raw text still carries) emits
    tokens the raw text never contains, so no probe (``None``) is
    returned.  No probe either for an empty slot list or an empty slot
    (nothing to anchor on); a non-str alternative raises ``TypeError``.
    False positives just flow through the real matcher."""
    alts_per_slot = [list(slot) if isinstance(slot, (list, tuple)) else [slot]
                     for slot in slots]
    for alts in alts_per_slot:
        for alt in alts:
            if not isinstance(alt, str):
                raise TypeError(
                    f"query term must be str, got {type(alt).__name__}: {alt!r}"
                )
    if (
        set(config.effective_follow_on()) - {"lowercase"}
        or not alts_per_slot
        or not all(alts_per_slot)
    ):
        return None
    lowered = F.lower(F.col("text") if text is None else text)
    pred = None
    for alts in alts_per_slot:
        slot_pred = None
        for alt in alts:
            c = lowered.contains(alt.lower())
            slot_pred = c if slot_pred is None else (slot_pred | c)
        pred = slot_pred if pred is None else (pred & slot_pred)
    return pred


def _values(
    docs: DataFrame, doc_id_col: str = "doc_id", spans_col: str = "spans"
) -> DataFrame:
    """The ``(doc_id, values)`` rows the doc-scan kernel reads: the span
    filtering and ordering run JVM-side, so two narrow columns cross
    Arrow."""
    return docs.select(
        F.expr(f"CAST({doc_id_col} AS STRING) AS doc_id"),
        text_values_col(spans_col).alias("values"),
    )


def _scan_match(
    values: DataFrame,
    queries: list,
    config: LatticeConfig,
    params: MatchLatticeParams,
    dtype: type = np.float32,
    phrase_prefix: bool = False,
    explain: bool = False,
) -> DataFrame:
    """The doc-scan kernel: ONE ``mapInPandas`` over ``(doc_id, values)``
    rows (``_values``) that tokenizes each Arrow batch once and matches
    every analyzed ``(query_id, terms, slop)`` of ``queries`` over its
    tokens.  A document's tokens never leave its batch: no shuffle.

    - Payload-only: the boosted hits (``HITS_SCHEMA``, plus the explain
      arrays when asked), led by a ``query_id`` column when the queries
      carry ids (``None`` for a single query).
    - Composed (``include_span_score``, one query): the per-doc stats rows
      (``span_stats_pandas``) of EVERY document with its lengths ``dl`` /
      ``dl_norm`` — the kernel sees all of a document's tokens — for the
      caller to persist and hand to ``_compose``.

    The record chain under ``values`` must be evaluated once, so the rows
    reaching the kernel carry at most one raw-text probe: a caller that
    already filtered the raw text calls the kernel, not ``match_lattice``
    (whose own probe over the reconstructed text Catalyst pushes below
    the scan guard's exchange, re-running the record transform there)."""
    composed = params.include_span_score
    tagged = queries[0][0] is not None
    scoring = (params.in_order, params.payload_function,
               params.payload_length_norm_factor, dtype)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = tokenize_pandas(pdf["doc_id"], pdf["values"], config)
            for qid, terms, slop in queries:
                if composed:
                    out = span_stats_pandas(
                        toks, pdf["doc_id"], terms, slop, *scoring,
                        prefix_last=phrase_prefix, explain=explain,
                    )
                    doc = out["doc_id"]
                    positional = toks[toks["pos_inc"].to_numpy() > 0]
                    for col, rows in (("dl", toks), ("dl_norm", positional)):
                        sizes = rows.groupby("doc_id").size()
                        out[col] = doc.map(sizes).fillna(0).astype("int64")
                else:
                    out = match_tokens_pandas(
                        toks, terms, slop, *scoring,
                        prefix_last=phrase_prefix, explain=explain,
                    )
                if tagged:
                    out.insert(0, "query_id", qid)
                yield out

    if composed:
        return values.mapInPandas(
            run, schema=_kernel_schema(SPAN_STATS_SCHEMA, explain, doclen=True)
        )
    schema = (_QUERY_HITS_SCHEMA if tagged
              else _kernel_schema(HITS_SCHEMA, explain))
    return _boosted(values.mapInPandas(run, schema=schema), params)


def _whole_docs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The Arrow batches of a doc-local partition (each document's rows
    contiguous, ``match_lattice_tokens``), re-cut so that no
    document spans two of them: Arrow may split a partition mid-document,
    so each batch's trailing document is carried over to the next."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if len(pdf) == 0:
            continue
        last_doc = pdf["doc_id"].iloc[-1]
        tail_mask = pdf["doc_id"] == last_doc
        carry = pdf[tail_mask]
        head = pdf[~tail_mask]
        if len(head):
            yield head
    if carry is not None and len(carry):
        yield carry


def match_lattice(
    docs: DataFrame,
    query: str,
    config: LatticeConfig | None = None,
    params: MatchLatticeParams | None = None,
    top_k: int | None = None,
    doc_id_col: str = "doc_id",
    spans_col: str = "spans",
    dtype: type = np.float32,
    phrase_prefix: bool = False,
    query_analyzer: str = "default",
    explain: bool = False,
) -> DataFrame:
    """Document-scan match: the query-level work (analysis, the
    zero-terms case, the JVM probe, composition) around the doc-scan
    kernel ``_scan_match`` — tokenize + span-match + score in one
    ``mapInPandas`` pass over the interleaved documents table.

    Physical plan: parquet scan (column-pruned to doc_id+spans) →
    JVM substring prefilter → ArrowEval mapInPandas → optional
    TakeOrderedAndProject.  No shuffle except the final top-k merge.

    With the reference-default ``include_span_score=True`` the payload score
    is multiplied by the similarity (``params.similarity``).  The corpus
    statistics it needs (document lengths, term frequencies, document
    frequencies) come from the SAME kernel pass that matches: it emits one
    stats row per document (``span_stats_pandas``, plus the document's
    lengths) and ``_compose`` assembles the similarity from those columns
    — the corpus is tokenized exactly once.  ``explain=True`` changes
    nothing in that shape: the explain arrays are columns of the same
    stats rows.  The composition reads the stats frame more than once, so
    it is persisted (MEMORY_AND_DISK) — one O(docs)-row materialization,
    never O(tokens).
    Cache lifecycle: Spark keeps the cached frame registered until
    ``unpersist``/session end.  A LONG-RUNNING driver issuing many
    ad-hoc composed queries should wrap each in
    ``composed_cache_scope()`` (or call ``release_composed_caches()``
    periodically) — scoped unpersist of exactly these frames, nothing
    else.  A per-job driver doesn't care.
    The JVM substring prefilter is skipped on this path because corpus
    statistics are defined over every document, matched or not; the
    matcher's own term filter makes non-candidate docs nearly free.
    Deployments at scale can still prefer the materialized token index
    (``match_lattice_tokens``), where lengths and dfs come from the index
    and the stats frame holds only the candidate documents.
    """
    config = config or LatticeConfig()
    params = params or MatchLatticeParams()
    composed = params.include_span_score
    if composed and docs.isStreaming:
        raise ValueError(
            "include_span_score=True needs corpus statistics, which are "
            "undefined over an unbounded stream; pass "
            "include_span_score=False for streaming matches (see "
            "streaming/stream.py:match_stream)"
        )
    terms, slop = _resolve(query, config, params, query_analyzer)
    if phrase_prefix and terms and not isinstance(terms[-1], str):
        raise ValueError(
            "phrase_prefix needs a single-term final slot, got "
            f"alternatives {terms[-1]!r}"
        )

    spark = docs.sparkSession
    if not terms:
        if params.zero_terms_query == "none":
            return spark.createDataFrame([], HITS_SCHEMA)
        return _zero_terms_hits(
            docs.select(F.col(doc_id_col).cast("string").alias("doc_id")),
            params,
        )

    values = _values(docs, doc_id_col, spans_col)
    # JVM-side candidate prefilter: ONE substring probe on the longest
    # single-term slot (a superset of token equality — the bare token
    # prefixes each pipe record; length is the cheap rarity proxy).
    # Probing every term would re-evaluate the document-reconstruction
    # chain once per Contains: Catalyst collapses the projection into the
    # (interpreted, HOF-bearing) Filter.  The matcher verifies ALL terms,
    # so one probe is correctness-neutral.  Multi-phrase slots can't
    # anchor it (the doc may hold any alternative); ``_contains_probe``
    # returns None for a transforming follow-on chain.  Composed scoring
    # skips it: corpus statistics cover every document.
    single_terms = [t for t in terms if isinstance(t, str)]
    if not composed and single_terms:
        probe = _contains_probe(
            [max(single_terms, key=len)], config,
            F.concat_ws(" ", F.col("values")),
        )
        if probe is not None:
            values = values.filter(probe)

    hits = _scan_match(
        values, [(None, terms, slop)], config, params, dtype, phrase_prefix,
        explain,
    )
    if composed:
        stats = _persisted(hits)
        hits = _compose(
            stats.drop("dl", "dl_norm"),
            stats.selectExpr("doc_id", "dl", "dl_norm"),
            terms, params, phrase_prefix,
        )
    if top_k is not None:
        hits = hits.orderBy(F.desc("score"), "doc_id").limit(top_k)
    return hits


def _boosted(hits: DataFrame, params: MatchLatticeParams) -> DataFrame:
    """Payload-only scoring: the builder ``boost`` scales the score."""
    if params.boost == 1.0:
        return hits
    return hits.withColumn(
        "score", F.col("score") * F.lit(float(params.boost))
    )


def match_lattice_tokens(
    tokens: DataFrame,
    query: str,
    config: LatticeConfig | None = None,
    params: MatchLatticeParams | None = None,
    top_k: int | None = None,
    dtype: type = np.float32,
    phrase_prefix: bool = False,
    query_analyzer: str = "default",
    explain: bool = False,
    doclen: DataFrame | None = None,
) -> DataFrame:
    """Token-table match, the one entry for a pre-materialized token table
    (the index, ``match_snippets``, a user's token table): ``token IN
    terms`` filter (pushed down to the scan) → one hash exchange on doc_id
    plus a sort, so each doc's candidate postings sit contiguous and
    position-ordered in one partition → the span DP via ``mapInPandas``
    over thousands of docs per Arrow batch (``_whole_docs`` re-cuts the
    batches at document boundaries).  Matching over documents goes
    through the doc-scan kernel instead (``match_lattice``).
    The reference-default ``include_span_score=True``
    multiplies in the similarity computed from the same token table (the
    index-statistics analog): the kernel emits the per-doc stats rows of
    every candidate document (``span_stats_pandas``), the operator
    persists them like ``match_lattice`` does (O(candidate docs)), and
    ``_compose`` reads them with the document lengths.

    ``doclen``: precomputed (doc_id, dl[, dl_norm]) statistics table (the
    materialized index writes one), so the lengths cost no scan beyond
    the candidate postings.  Without it they are aggregated from
    ``tokens``.  The document frequencies always come from the stats
    rows: the candidate filter keeps every document holding a candidate
    term, so they are exact whenever ``tokens`` holds every posting.

    Semantics note: with ``zero_terms_query='all'`` this path returns only
    documents that produced at least one token (all-media documents are not
    present in a token table) — the document-scan path returns every doc.
    """
    config = config or LatticeConfig()
    params = params or MatchLatticeParams()
    terms, slop = _resolve(query, config, params, query_analyzer)
    if phrase_prefix and terms and not isinstance(terms[-1], str):
        raise ValueError(
            "phrase_prefix needs a single-term final slot, got "
            f"alternatives {terms[-1]!r}"
        )
    spark = tokens.sparkSession
    if not terms:
        if params.zero_terms_query == "none":
            return spark.createDataFrame([], HITS_SCHEMA)
        return _zero_terms_hits(
            tokens.select(F.col("doc_id").cast("string")).distinct(), params
        )

    composed = params.include_span_score
    lucene = composed and params.similarity == "lucene"
    if lucene and doclen is not None and "dl_norm" not in doclen.columns:
        raise ValueError(
            "similarity='lucene' needs a doclen table with a dl_norm "
            "column; rebuild the token index with this version's "
            "write_token_index"
        )

    cand = tokens.filter(candidate_pred(terms, phrase_prefix)).select(
        "doc_id", "token", "abs_pos", "score", "seq"
    )
    cand = cand.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).sortWithinPartitions("doc_id", "abs_pos", "seq")

    kernel = (terms, slop, params.in_order, params.payload_function,
              params.payload_length_norm_factor, dtype)

    def step(pdf: pd.DataFrame) -> pd.DataFrame:
        if composed:
            return span_stats_pandas(
                pdf, pdf["doc_id"].unique(), *kernel,
                prefix_last=phrase_prefix, explain=explain,
            )
        return match_tokens_pandas(
            pdf, *kernel, prefix_last=phrase_prefix, explain=explain
        )

    def run(batches) -> Iterator[pd.DataFrame]:
        return map(step, _whole_docs(batches))

    if composed:
        if doclen is None:
            doclen = tokens.groupBy("doc_id").agg(
                F.expr("count(1) AS dl"),
                *([F.expr("sum(CAST(pos_inc > 0 AS BIGINT)) AS dl_norm")]
                  if lucene else []),
            )
        stats = _persisted(cand.mapInPandas(
            run, schema=_kernel_schema(SPAN_STATS_SCHEMA, explain)
        ))
        hits = _compose(stats, doclen, terms, params, phrase_prefix)
    else:
        hits = _boosted(
            cand.mapInPandas(run, schema=_kernel_schema(HITS_SCHEMA, explain)),
            params,
        )
    if top_k is not None:
        hits = hits.orderBy(F.desc("score"), "doc_id").limit(top_k)
    return hits


def exists_lattice(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """P2: exists query — documents whose lattice field would index at
    least one token (the analog of ES ``exists`` on the mapped field:
    a text span with non-whitespace content).  Pure JVM plan: the span
    projection + one trimmed-length filter, no Python, no shuffle."""
    joined = F.concat_ws(" ", text_values_col(spans_col))
    return docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        joined.alias("_j"),
    ).filter(F.length(F.trim(F.col("_j"))) > 0).select("doc_id")


def match_snippets(
    tokens: DataFrame,
    query: str,
    config: LatticeConfig | None = None,
    params: MatchLatticeParams | None = None,
    dtype: type = np.float32,
) -> DataFrame:
    """Highlight surface: the matched span windows with their token text.

    Composes the explain arrays (span boundaries per hit) with the token
    table: explode spans → doc_id-equi join with a position-range predicate
    → ordered concat of the query-term tokens inside each window.  Returns
    distinct (doc_id, span_start, span_end, snippet).

    At scale this is one extra equi-join keyed on doc_id against the
    already-filtered ``token IN terms`` projection — the range predicate
    rides along as a post-join filter, never a cross product."""
    config = config or LatticeConfig()
    params = params or MatchLatticeParams()
    terms, _ = _resolve(query, config, params, "default")
    hits = match_lattice_tokens(
        tokens, query, config, params, dtype=dtype, explain=True
    )
    spans = hits.select(
        "doc_id",
        F.explode(F.arrays_zip("span_start", "span_end")).alias("s"),
    ).select(
        "doc_id",
        F.col("s.span_start").alias("span_start"),
        F.col("s.span_end").alias("span_end"),
    ).distinct()
    toks = tokens.filter(F.col("token").isin(terms)).select(
        "doc_id",
        "token",
        F.col("abs_pos").cast("long").alias("abs_pos"),
    ).distinct()
    joined = spans.join(toks, "doc_id").filter(
        (F.col("abs_pos") >= F.col("span_start"))
        & (F.col("abs_pos") < F.col("span_end"))
    )
    return (
        joined.groupBy("doc_id", "span_start", "span_end")
        .agg(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(abs_pos, token))), s -> s.token)"
                ),
            ).alias("snippet")
        )
    )


def match_lattice_many(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    config: LatticeConfig | None = None,
    params: MatchLatticeParams | None = None,
    dtype: type = np.float32,
    doc_id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Batch execution of many standing queries in ONE pass — the
    percolator-shaped operator: at 10^12 documents, N queries as N jobs
    cost N corpus scans; this costs one.

    ``docs``: the interleaved documents table, as for ``match_lattice``.
    ``queries``: (query_id, query) pairs sharing ``params`` — each query
    a text string or a multi-phrase slot list.  The doc-scan kernel
    tokenizes each Arrow batch once and runs every query's span DP over
    its tokens (pure numpy — the marginal cost per extra query is the DP,
    not IO); no shuffle.  There is no prefilter of its own: a caller that
    can probe the raw text filters ``docs`` at the scan (an OR over the
    queries' ``_contains_probe``).  Output: (query_id, doc_id, score,
    n_spans), payload-only scoring × ``boost`` (compose BM25 per query
    downstream if needed — corpus statistics are query-independent).

    Zero-term queries (all stopwords/whitespace) honor
    ``params.zero_terms_query`` exactly like ``match_lattice``: 'none'
    contributes no rows for that query_id; 'all' emits a MIN_SCORE row
    per document of ``docs``."""
    config = config or LatticeConfig()
    params = params or MatchLatticeParams()
    if params.include_span_score:
        raise ValueError(
            "match_lattice_many scores payload-only; compose BM25 per "
            "query downstream (corpus statistics are query-independent)"
        )
    analyzed: list[tuple[str, list, int]] = []
    zero_qids: list[str] = []
    for qid, qtext in queries:
        # a list-shaped query is a multi-phrase slot list (same contract
        # as match_lattice)
        terms, slop = _resolve(qtext, config, params)
        if terms:
            analyzed.append((qid, terms, slop))
        else:
            zero_qids.append(qid)
    values = _values(docs, doc_id_col, spans_col)
    spark = docs.sparkSession
    parts = []
    if analyzed:
        parts.append(_scan_match(values, analyzed, config, params, dtype))
    if zero_qids and params.zero_terms_query == "all":
        qdf = spark.createDataFrame(
            [(q,) for q in zero_qids], schema="query_id string"
        )
        parts.append(_zero_terms_hits(
            F.broadcast(qdf).crossJoin(values.select("doc_id")), params
        ))
    if not parts:
        return spark.createDataFrame([], _QUERY_HITS_SCHEMA)
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
