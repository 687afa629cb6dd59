"""BM25 similarity over the token table.

The reference's ``include_span_score`` multiplies the payload score by the
Lucene similarity (BM25 by default; LatticePayloadScoreQuery.java:328-339).
Exact Lucene-BM25 parity is out of scope (FIXTURES.md §6) — this is the
engine's own corpus-statistics similarity, built entirely from relational
primitives so Catalyst plans it: two aggregations (document lengths, term
document-frequencies) + one join, no UDFs.

At scale the stats tables are tiny (|vocab| and |docs| projections) and the
df/idf side broadcasts; the per-(doc,term) tf aggregation is the only real
shuffle and it is map-side combined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


def bm25_scores(
    tokens: DataFrame,
    terms: list[str],
    round_to: int | None = None,
    prefix_last: bool = False,
    doclen: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, bm25) for every document matching >= 1 query term.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene flavor);
    tf_norm = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).

    ``prefix_last``: phrase-prefix queries expand the final term to every
    token with the prefix; each expanded token contributes with its own
    tf/df (the SpanMultiTermQueryWrapper rewrite analog).

    ``doclen``: precomputed (doc_id, dl) table — the index-statistics
    analog.  Pass it when ``tokens`` is a pruned view (e.g. the
    bucket-partitioned token index after partition pruning), where
    recomputing lengths from the visible rows would be wrong AND would
    defeat the pruning with a full scan.
    """
    toks = tokens.select("doc_id", "token")
    if doclen is None:
        doclen = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    corpus = doclen.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
    )

    # multi-phrase slots (list elements) flatten: every alternative is a
    # candidate term contributing its own tf/df
    flat = [x for t in terms for x in ([t] if isinstance(t, str) else t)]
    pred = F.col("token").isin(flat)
    if prefix_last and terms:
        pred = pred | F.col("token").startswith(terms[-1])
    cand = toks.filter(pred)
    tf = cand.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = cand.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )

    scored = (
        tf.join(F.broadcast(df_), "token")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "tf_norm",
            (F.col("tf") * (K1 + 1))
            / (
                F.col("tf")
                + K1
                * (
                    1.0
                    - B
                    + B * F.col("dl") / (F.col("total_len") / F.col("n_docs"))
                )
            ),
        )
        # each doc's per-term parts are summed in token order: a float sum
        # in row-arrival order would tie the score's last bits to the
        # physical layout of ``tokens`` (file count, shuffle fetch order)
        .withColumn("p", F.col("idf") * F.col("tf_norm"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("token", "p"))).alias("ps"))
        .select(
            "doc_id",
            F.aggregate("ps", F.lit(0.0), lambda acc, x: acc + x["p"]).alias(
                "bm25"
            ),
        )
    )
    if round_to is not None:
        scored = scored.select(
            "doc_id", F.round("bm25", round_to).alias("bm25")
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
    engine's relational BM25 (``bm25_scores`` above) and Lucene's; not part
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

    The engine's ``bm25_scores`` deliberately differs: classic (k1+1)
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
