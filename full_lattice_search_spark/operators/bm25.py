"""BM25 similarity over the token table.

The reference's ``include_span_score`` multiplies the payload score by the
Lucene similarity (BM25 by default; LatticePayloadScoreQuery.java:328-339).
Exact Lucene-BM25 parity is out of scope (FIXTURES.md §6) — this is the
engine's own corpus-statistics similarity, written once as SQL text over
(doc_id, token, tf) rows (``bm25_from_tf``) so Catalyst plans it: one
df aggregation, one doclen join, one per-doc fold, no UDFs.  Both
``bm25_scores`` and the composed match scoring
(``operators.match._compose``) go through it.

At scale the stats tables are tiny (|vocab| and |docs| projections) and the
df/corpus sides broadcast; the per-(doc,term) tf aggregation is the only
real shuffle and it is map-side combined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75

# idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene flavor) times
# tf_norm = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)), float64.  The `D`
# suffixes keep the literals DOUBLE (a bare 0.75 parses as DECIMAL).
_BM25_PART = (
    "ln(1.0D + (n_docs - df + 0.5D) / (df + 0.5D))"
    f" * (tf * {K1 + 1.0!r}D / (tf + {K1!r}D * ({1.0 - B!r}D"
    f" + {B!r}D * dl / (total_len / n_docs))))"
)


def bm25_from_tf(tf: DataFrame, doclen: DataFrame) -> DataFrame:
    """(doc_id, bm25) for every document with a row in ``tf``.

    ``tf``: (doc_id, token, tf) — one row per document and candidate
    token.  A token's df is its row count.  ``doclen``: (doc_id, dl); N
    and avgdl count only documents with dl > 0 (a document without a
    token is not in the corpus statistics).  Each document's parts are
    summed in token order: a float sum in row-arrival order would tie the
    score's last bits to the physical layout of the input (file count,
    shuffle fetch order)."""
    corpus = doclen.where("dl > 0").selectExpr(
        "count(1) AS n_docs", "sum(dl) AS total_len"
    )
    df = tf.groupBy("token").agg(F.expr("count(1) AS df"))
    return (
        tf.join(F.broadcast(df), "token")
        .join(doclen.select("doc_id", "dl"), "doc_id")
        .crossJoin(F.broadcast(corpus))
        .selectExpr("doc_id", "token", f"{_BM25_PART} AS p")
        .groupBy("doc_id")
        .agg(F.expr(
            "aggregate(array_sort(collect_list(struct(token, p))), 0D,"
            " (acc, x) -> acc + x.p) AS bm25"
        ))
    )


def bm25_scores(
    tokens: DataFrame,
    terms: list[str],
    round_to: int | None = None,
    prefix_last: bool = False,
    doclen: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, bm25) for every document matching >= 1 query term
    (``bm25_from_tf`` over the token table's candidate-term counts).

    ``prefix_last``: phrase-prefix queries expand the final term to every
    token with the prefix; each expanded token contributes with its own
    tf/df (the SpanMultiTermQueryWrapper rewrite analog).

    ``doclen``: precomputed (doc_id, dl) table — the index-statistics
    analog.  Pass it when ``tokens`` is a pruned view (e.g. the
    bucket-partitioned token index after partition pruning), where
    recomputing lengths from the visible rows would be wrong AND would
    defeat the pruning with a full scan.
    """
    from full_lattice_search_spark.operators.match import candidate_pred

    toks = tokens.select("doc_id", "token")
    if doclen is None:
        doclen = toks.groupBy("doc_id").agg(F.expr("count(1) AS dl"))
    tf = (
        toks.filter(candidate_pred(terms, prefix_last))
        .groupBy("doc_id", "token")
        .agg(F.expr("count(1) AS tf"))
    )
    scored = bm25_from_tf(tf, doclen)
    if round_to is not None:
        scored = scored.selectExpr(
            "doc_id", f"round(bm25, {int(round_to)}) AS bm25"
        )
    return scored


def smallfloat_byte4_roundtrip(i: int) -> int:
    """Lucene 8 ``SmallFloat.byte4ToInt(intToByte4(i))`` — the doc-length
    quantization a norm byte survives.  ``NUM_FREE_VALUES = 255 -
    longToInt4(Integer.MAX_VALUE) = 24`` small values get dedicated bytes
    (exact), larger values encode ``24 + top-4-significant-bits(i - 24)``
    (so also exact below 40, and e.g. 50 stays 50 while 61 -> 60)."""
    if i < 24:
        return i
    j = i - 24
    nb = j.bit_length()
    if nb >= 4:
        shift = nb - 4
        j = (j >> shift) << shift
    return 24 + j


def lucene_legacy_span_similarity(
    dfs: list[int],
    n_docs: int,
    dl: int,
    avgdl: float,
    width: int,
    k1: float = 1.2,
    b: float = 0.75,
    boost: float = 1.0,
) -> float:
    """Reference-parity MODEL of the similarity the reference multiplies
    into the payload score (``LatticePayloadScoreQuery.java:328-339``
    ``getSpanScore()`` → Lucene ``SpanScorer.scoreCurrentDoc``): the exact
    ES-7.3 / Lucene-8.1 span-query similarity, reconstructed from the two
    published end-to-end scores in the reference README (``README.md:291``
    36.987705, ``README.md:393`` 9041.438) and pinned to float32.  Used by
    the parity goldens (FIXTURES.md §6) to quantify the delta between the
    engine's relational BM25 (``bm25_from_tf`` above) and Lucene's; not part
    of the query path.

    The reconstructed flavor (each element verified against the README
    scores to < 1e-6 relative, the residual being float32 association
    order inside Lucene):

    - **LegacyBM25Similarity**: ES 7.x preserves the classic (k1+1)
      numerator that Lucene 8 removed, by folding (k1+1) into the boost.
    - **idf** = Σ_terms ln(1 + (N − df + 0.5)/(df + 0.5)) — summed over
      the span query's terms.
    - **freq** = 1/(1 + width) where width is the span's total gap count
      (Lucene sloppy-freq of the ONE matched span; per-span, summed over
      spans when a doc has several).
    - **dl** comes from the norm, which discounts overlap tokens
      (posinc=0 lattice alternatives do NOT count), while **avgdl** =
      sumTotalTermFreq/docCount counts every token — so the two disagree
      on any lattice corpus by construction.
    - all of it composed in float32.

    The engine's ``bm25_from_tf`` deliberately differs: classic (k1+1)
    numerator but tf = occurrence count (not sloppy freq), dl = total
    token count for both dl and avgdl, float64 relational math.
    """
    import math

    import numpy as np

    f32 = np.float32
    idf = f32(
        sum(
            math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)) for df in dfs
        )
    )
    weight = f32(f32(boost * (k1 + 1.0)) * idf)
    norm = k1 * (1.0 - b + b * float(smallfloat_byte4_roundtrip(dl))
                 / float(f32(avgdl)))
    freq = f32(1.0 / (1.0 + width))
    tfn = f32(float(freq) / (float(freq) + norm))
    return float(f32(weight * tfn))
