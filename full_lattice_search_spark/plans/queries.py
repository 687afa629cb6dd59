"""Query registry: every implemented operator as a (Spark callable,
DuckDB oracle SQL) pair — the driver-contract surface behind
``__spark_entry__.py``.

The Spark side exercises the *real* engine operators (tokenizer, span
matcher, extractor, dedup, similarity, text analysis, multimodal stub);
the oracle recomputes the expected result relationally in DuckDB over the
same parquet views.  Shared arithmetic is integer/string-based (md5, two-
digit score mantissas, decimal sums) precisely so both engines agree
bit-for-bit; floating aggregates are rounded on both sides.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_lattice_search_spark.config import LatticeConfig, MatchLatticeParams
from full_lattice_search_spark.functions.text import (
    fingerprints,
    lang_id,
    quality_features,
    token_counts,
)
from full_lattice_search_spark.functions.tokenizer import lattice_tokenize
from full_lattice_search_spark.operators.dedup import (
    exact_dup_groups,
    lsh_candidate_pairs,
    minhash_jaccard,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash_signature,
)
from full_lattice_search_spark.operators.extract import extract_spans
from full_lattice_search_spark.operators.match import (
    _contains_probe,
    _resolve,
    _scan_match,
    _values,
    match_lattice,
    match_lattice_many,
    track_cached,
)
from full_lattice_search_spark.operators.multimodal import media_features
from full_lattice_search_spark.operators.similarity import (
    brute_force_topk,
    embedding_dup_pairs,
    lsh_bucket_topk,
)
from full_lattice_search_spark.plans.lattice_view import (
    ORACLE_TOKENS_CTE,
    lattice_docs,
)
from full_lattice_search_spark.sources.catalog import read_parquet

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

_ABS_CTE = f"""{ORACLE_TOKENS_CTE},
incs AS (
  SELECT doc_id, i, token, tok_raw, pos, rank, score_i,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY i) = pos
              THEN 0 ELSE 1 END AS pos_inc
  FROM lattice
),
abs_tokens AS (
  SELECT doc_id, i, token, tok_raw, pos, rank, score_i, pos_inc,
         SUM(pos_inc) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS UNBOUNDED PRECEDING) AS abs_pos
  FROM incs
)
"""


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _par(
    df: DataFrame, spark: SparkSession, size_path: str | None = None
) -> DataFrame:
    """Scan-parallelism guard for row-wise-heavy derivations over small
    unsplittable tables (see plans/lattice_view.scan_parallel)."""
    from full_lattice_search_spark.plans.lattice_view import scan_parallel

    return scan_parallel(df, spark, size_path=size_path)


def _tokens(
    spark: SparkSession, sf_dir: str, where=None, **cfg
) -> DataFrame:
    return lattice_tokenize(
        lattice_docs(spark, sf_dir, where=where), LatticeConfig(**cfg)
    )


def _scan(docs, query, config, params, dtype=np.float32, phrase_prefix=False):
    """Hits of one query over ``docs`` through the doc-scan kernel.  Every
    caller has already probed the raw text at the scan
    (``lattice_docs(where=_contains_probe(...))``), so this calls the
    kernel, not ``match_lattice``: that adds its own probe over the
    reconstructed record text, which Catalyst pushes below the scan
    guard's exchange, and the record transform would run twice."""
    terms, slop = _resolve(query, config, params)
    return _scan_match(
        _values(docs), [(None, terms, slop)], config, params, dtype,
        phrase_prefix,
    )


# Exact-duplicate augmentation: clone every 10th document.
def _docs_with_exact_dups(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    copies = docs.filter("doc_id % 10 = 0").withColumn(
        "doc_id", F.expr("doc_id + 1000000")
    )
    return docs.unionByName(copies)


_EXACT_DUP_SQL = """
aug AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang
  FROM documents WHERE doc_id % 10 = 0
)
"""

# Near-duplicate augmentation: clone every 10th doc with the last 3 words
# dropped.
def _docs_with_near_dups(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    copies = docs.filter("doc_id % 10 = 0").withColumns({
        "doc_id": F.expr("doc_id + 1000000"),
        "text": F.expr(
            "concat_ws(' ', slice(split(text, ' '), 1,"
            " greatest(size(split(text, ' ')) - 3, 1)))"
        ),
    })
    return docs.unionByName(copies)


_NEAR_DUP_SQL = """
aug AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1,
             greatest(len(string_split(text, ' ')) - 3, 1)), ' ') AS text,
         lang
  FROM documents WHERE doc_id % 10 = 0
)
"""

_SHINGLES_SQL = """
toks AS (
  SELECT doc_id, i - 1 AS i, ts.tok FROM (
    SELECT doc_id, string_split(lower(text), ' ') AS xs FROM aug) d,
  LATERAL (SELECT UNNEST(d.xs) AS tok, generate_subscripts(d.xs, 1) AS i) ts
),
shingles AS (
  SELECT DISTINCT t1.doc_id,
         t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
  FROM toks t1
  JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.i = t1.i + 1
  JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.i = t1.i + 2
)
"""

from full_lattice_search_spark.operators.dedup import (  # noqa: E402
    hex_to_int_expr,
    minhash_value_exprs,
)

_MH_VALS = minhash_value_exprs("h1", "h2", 16)
_MINHASH_SQL = (
    _SHINGLES_SQL
    + f""",
hx AS (SELECT doc_id, md5(sh) AS h FROM shingles),
hh AS (
  SELECT doc_id,
         {hex_to_int_expr("h", 1, 12, "strpos")} AS h1,
         {hex_to_int_expr("h", 13, 12, "strpos")} AS h2
  FROM hx
),
mh AS (
  SELECT doc_id,
         {", ".join(f"min({v}) AS m{j}" for j, v in enumerate(_MH_VALS))}
  FROM hh GROUP BY doc_id
)
"""
)

_MH_LIST = "list_value(" + ", ".join(f"m{j}" for j in range(16)) + ")"


# ---------------------------------------------------------------------------
# lattice-core queries (exercise tokenizer / matcher / extractor)
# ---------------------------------------------------------------------------


def q_tokenize_posinc(spark, sf_dir):
    toks = _tokens(spark, sf_dir)
    return toks.select(
        "doc_id",
        F.col("seq").cast("long").alias("seq"),
        "token",
        F.col("pos").cast("long").alias("pos"),
        F.col("rank").cast("long").alias("rank"),
        F.round(F.col("score").cast("double"), 2).alias("score_d"),
        F.col("pos_inc").cast("long").alias("pos_inc"),
        F.col("abs_pos").cast("long").alias("abs_pos"),
    )


SQL_TOKENIZE_POSINC = f"""
WITH {_ABS_CTE}
SELECT doc_id, CAST(i AS BIGINT) AS seq, token, pos, rank,
       round(score_i / 100.0, 2) AS score_d,
       CAST(pos_inc AS BIGINT) AS pos_inc, CAST(abs_pos AS BIGINT) AS abs_pos
FROM abs_tokens
"""


def q_tokenize_follow_on(spark, sf_dir):
    """Configurable follow-on analyzer chain (reference composes the
    lattice filter with arbitrary ES token filters, README.md:214-230;
    phonetic follow-on :487-493): accents are planted into every lattice
    token (a→á, e→é, o→ó), then the NON-DEFAULT chain ('lowercase',
    'asciifold') folds them back — the output must equal the default
    chain over clean text, which is exactly what the oracle computes.
    Any chain-order or folding bug breaks the hash."""
    docs = lattice_docs(spark, sf_dir)
    accented = docs.withColumn(
        "spans",
        F.expr(
            "transform(spans, s -> named_struct("
            "'kind', s.kind, 'text', translate(s.text, 'aeo', 'áéó'), "
            "'media_ref', s.media_ref, 'offset', s.offset))"
        ),
    )
    toks = lattice_tokenize(
        accented, LatticeConfig(follow_on=("lowercase", "asciifold"))
    )
    return toks.select(
        "doc_id",
        F.col("seq").cast("long").alias("seq"),
        "token",
        F.col("abs_pos").cast("long").alias("abs_pos"),
    )


SQL_TOKENIZE_FOLLOW_ON = f"""
WITH {_ABS_CTE}
SELECT doc_id, CAST(i AS BIGINT) AS seq, token,
       CAST(abs_pos AS BIGINT) AS abs_pos
FROM abs_tokens
"""


def q_match_lucene_sim(spark, sf_dir):
    """similarity='lucene' (the reconstructed ES-7.x span similarity that
    reproduces the reference's published scores, FIXTURES.md §6) over the
    doc-scan path.  The oracle mirrors every float32 cast with DuckDB
    REAL casts — bit-identical composition; the only double-summed parts
    (sloppy freq with dtype=float64, idf) are order-insensitive to 1e-16.
    Gated on the similarity column so the new machinery (span-width freq,
    overlap-discounted + SmallFloat-quantized dl, corpus stats, float32
    chain) is what the hash covers."""
    hits = match_lattice(
        lattice_docs(spark, sf_dir),
        "hash merge",
        LatticeConfig(),
        MatchLatticeParams(
            slop=5, include_span_score=True, similarity="lucene"
        ),
        dtype=np.float64,
    )
    return hits.selectExpr(
        "doc_id",
        "CAST(n_spans AS BIGINT) AS n_spans",
        "round(similarity, 6) AS similarity",
    )


def _sql_match_lucene_sim(
    terms: list[str], slop: int, prefix: bool = False
) -> str:
    k = len(terms)

    def slot_pred(j: int, t: str) -> str:
        if prefix and j == k:
            return f"token LIKE '{t}%'"
        return f"token = '{t}'"

    ctes = [
        f"t{j} AS (SELECT doc_id, abs_pos FROM abs_tokens "
        f"WHERE {slot_pred(j, t)})"
        for j, t in enumerate(terms, start=1)
    ]
    chain = (
        "c1 AS (SELECT doc_id, abs_pos AS p1, abs_pos AS m, "
        "count(*) AS cnt FROM t1 GROUP BY doc_id, abs_pos)"
    )
    prev = "c1"
    for j in range(2, k + 1):
        chain += f""",
c{j} AS (
  SELECT {prev}.doc_id, {prev}.p1, min(t{j}.abs_pos) AS m,
         min({prev}.cnt) AS cnt
  FROM {prev} JOIN t{j}
    ON t{j}.doc_id = {prev}.doc_id AND t{j}.abs_pos >= {prev}.m + 1
  GROUP BY {prev}.doc_id, {prev}.p1
)"""
        prev = f"c{j}"
    # idf over DISTINCT terms (Lucene SpanWeight dedups term states); a
    # phrase_prefix last slot contributes every corpus token with the
    # prefix instead of itself ("blended" statistics over the rewritten
    # SpanOr — mirrors operators/match.py:_lucene_idf_terms)
    fixed = list(dict.fromkeys(terms[:-1] if prefix else terms))
    # each fixed term contributes ONLY when corpus-present (df > 0) —
    # mirrors _lucene_idf_terms dropping absent terms (a df=0 term would
    # otherwise add ln(1+(n+0.5)/0.5) here while the engine adds nothing)
    idf_parts = [
        f"(CASE WHEN (SELECT count(DISTINCT doc_id) FROM abs_tokens "
        f"WHERE token = '{t}') > 0 THEN "
        f"ln(1.0 + ((SELECT n_docs FROM corpus) - "
        f"(SELECT count(DISTINCT doc_id) FROM abs_tokens WHERE token = '{t}')"
        f" + 0.5) / ((SELECT count(DISTINCT doc_id) FROM abs_tokens "
        f"WHERE token = '{t}') + 0.5)) ELSE 0.0 END)"
        for t in fixed
    ]
    if prefix:
        not_fixed = (
            " AND token NOT IN (" + ", ".join(f"'{t}'" for t in fixed) + ")"
            if fixed
            else ""
        )
        idf_parts.append(
            f"(SELECT coalesce(sum(ln(1.0 + "
            f"((SELECT n_docs FROM corpus) - df + 0.5) / (df + 0.5))), 0.0)"
            f" FROM (SELECT count(DISTINCT doc_id) AS df FROM abs_tokens"
            f" WHERE token LIKE '{terms[-1]}%'{not_fixed} GROUP BY token))"
        )
    idf_sum = " + ".join(idf_parts)
    # SmallFloat.intToByte4 roundtrip: exact < 24 (free values), else
    # 24 + top-4-significant-bits of (dl_norm - 24) — mirrors
    # operators/match.py:_lucene_sim_sql
    dlq_s = (
        "greatest(CAST(floor(log2(greatest(dl_norm - 24, 1))) AS INT)"
        " - 3, 0)"
    )
    dlq = (
        f"(CASE WHEN dl_norm < 24 THEN dl_norm ELSE 24 + "
        f"(((dl_norm - 24) >> {dlq_s}) << {dlq_s}) END)"
    )
    return f"""
WITH {_ABS_CTE},
{", ".join(ctes)},
{chain},
doclen AS (
  SELECT doc_id, count(*) AS dl,
         count(*) FILTER (WHERE pos_inc = 1) AS dl_norm
  FROM abs_tokens GROUP BY doc_id
),
corpus AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM doclen),
consts AS (
  SELECT CAST(CAST(2.2 AS REAL) * CAST({idf_sum} AS REAL) AS REAL) AS w,
         CAST(CAST(total_len AS DOUBLE) / n_docs AS REAL) AS avgdl
  FROM corpus
),
freq AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_spans,
         sum(cnt / (1.0 + (m - p1 - {k - 1}))) AS f
  FROM {prev} WHERE m - p1 - {k - 1} <= {slop}
  GROUP BY doc_id
)
SELECT freq.doc_id, freq.n_spans,
       round(CAST(CAST(consts.w *
         CAST(freq.f / (freq.f + 1.2 * (1.0 - 0.75 +
           0.75 * ({dlq}) / CAST(consts.avgdl AS DOUBLE))) AS REAL)
         AS REAL) AS DOUBLE), 6) AS similarity
FROM freq JOIN doclen ON doclen.doc_id = freq.doc_id
CROSS JOIN consts
"""


SQL_MATCH_LUCENE_SIM = _sql_match_lucene_sim(["hash", "merge"], 5)


def q_match_lucene_prefix(spark, sf_dir):
    """similarity='lucene' × phrase_prefix: idf blends over the prefix
    expansion vocabulary (every corpus token starting 'mer'), the span
    chain stretches to the nearest prefix-matching token — the engine and
    the oracle must agree on BOTH the expansion set's statistics and the
    float32 composition."""
    hits = match_lattice(
        lattice_docs(spark, sf_dir),
        "hash mer",
        LatticeConfig(),
        MatchLatticeParams(
            slop=5, include_span_score=True, similarity="lucene"
        ),
        dtype=np.float64,
        phrase_prefix=True,
    )
    return hits.selectExpr(
        "doc_id",
        "CAST(n_spans AS BIGINT) AS n_spans",
        "round(similarity, 6) AS similarity",
    )


SQL_MATCH_LUCENE_PREFIX = _sql_match_lucene_sim(
    ["hash", "mer"], 5, prefix=True
)


def q_match_lucene_prefix_indexed(spark, sf_dir):
    """similarity='lucene' × phrase_prefix THROUGH the token index: the
    prefix filter is pushed into the token-sorted postings scan, the idf
    blend's document frequencies are counted from the candidate postings,
    and the result must stay hash-identical to the full-scan oracle."""
    import tempfile

    from full_lattice_search_spark.plans.lattice_view import lattice_docs
    from full_lattice_search_spark.sources.token_index import (
        match_lattice_indexed,
        write_token_index,
    )

    path = tempfile.mkdtemp(prefix="fls_lpi_") + "/tokens"
    write_token_index(lattice_docs(spark, sf_dir), path, LatticeConfig())
    hits = match_lattice_indexed(
        spark, path, "hash mer", LatticeConfig(),
        MatchLatticeParams(
            slop=5, include_span_score=True, similarity="lucene"
        ),
        phrase_prefix=True,
        dtype=np.float64,
    )
    return hits.selectExpr(
        "doc_id",
        "CAST(n_spans AS BIGINT) AS n_spans",
        "round(similarity, 6) AS similarity",
    )


def q_tokenize_buckets(spark, sf_dir):
    toks = _tokens(spark, sf_dir, score_buckets=(0.7, 3, 0.4, 2))
    return toks.select(
        "doc_id",
        "token",
        F.col("abs_pos").cast("long").alias("abs_pos"),
        F.col("pos_inc").cast("long").alias("pos_inc"),
    )


SQL_TOKENIZE_BUCKETS = f"""
WITH {_ABS_CTE},
reps AS (
  SELECT *, CASE WHEN score_i >= 70 THEN 3
                 WHEN score_i >= 40 THEN 2 ELSE 1 END AS rep
  FROM abs_tokens
)
SELECT doc_id, token, CAST(abs_pos AS BIGINT) AS abs_pos,
       CAST(CASE WHEN k.k = 1 THEN pos_inc ELSE 0 END AS BIGINT) AS pos_inc
FROM reps JOIN (VALUES (1), (2), (3)) k(k) ON k.k <= reps.rep
"""


def _doclen_jvm(spark, sf_dir, n_tokens: int = 24) -> DataFrame:
    """(doc_id, dl) document lengths computed as a pure-JVM projection.

    The lattice view derives exactly one token per record and one record
    per (first ``n_tokens``) whitespace word of ``text`` — so the token
    count equals ``size(slice(split(text), 1, n))`` without running the
    tokenizer.  Passing this as the ``doclen`` statistics table removes a
    full corpus re-tokenization from every BM25 composition subtree
    (guide §2.3: shuffle/compute metadata, not payloads); equivalence is
    oracle-checked hash-exact at every SF."""
    docs = _read(spark, sf_dir, "documents")
    return docs.selectExpr(
        "CAST(doc_id AS STRING) AS doc_id",
        f"size(slice(split(text, ' '), 1, {n_tokens})) AS dl",
    )


def _match(spark, sf_dir, query, slop, dtype=np.float32, **params):
    """Payload-only hits of ``query``: only documents that can match reach
    the record projection (a raw-text probe at the scan), then the
    doc-scan kernel."""
    slots = query.split() if isinstance(query, str) else query
    return _scan(
        lattice_docs(spark, sf_dir, where=_contains_probe(slots)),
        query,
        LatticeConfig(),
        MatchLatticeParams(slop=slop, include_span_score=False, **params),
        dtype,
    )


def q_match_ordered_2(spark, sf_dir):
    hits = _match(spark, sf_dir, "hash merge", slop=5)
    return hits.select("doc_id", F.col("n_spans").cast("long").alias("n_spans"))


def _sql_match_chain(terms: list[str], slop: int, cte: str | None = None) -> str:
    """Greedy forward-chain enumeration (Lucene NearSpansOrdered): for each
    occurrence of term1, later terms stretch to the minimal in-order
    positions; the span matches iff p_k - p_1 - (k-1) <= slop.  ``cte`` is
    the abs-position token CTE (default: the lattice view; the audio view
    passes its own)."""
    cte = cte or _ABS_CTE
    k = len(terms)

    def slot_pred(t):
        # multi-phrase slot: any alternative matches this position
        if isinstance(t, str):
            return f"token = '{t}'"
        alts = ", ".join(f"'{a}'" for a in t)
        return f"token IN ({alts})"

    ctes = [
        f"t{j} AS (SELECT doc_id, abs_pos FROM abs_tokens "
        f"WHERE {slot_pred(t)})"
        for j, t in enumerate(terms, start=1)
    ]
    # cnt carries first-term occurrence multiplicity (several alternatives at
    # one position can share the token — each is a separate Lucene match).
    chain = (
        "c1 AS (SELECT doc_id, abs_pos AS p1, abs_pos AS m, "
        "count(*) AS cnt FROM t1 GROUP BY doc_id, abs_pos)"
    )
    prev = "c1"
    for j in range(2, k + 1):
        chain += f""",
c{j} AS (
  SELECT {prev}.doc_id, {prev}.p1, min(t{j}.abs_pos) AS m,
         min({prev}.cnt) AS cnt
  FROM {prev} JOIN t{j}
    ON t{j}.doc_id = {prev}.doc_id AND t{j}.abs_pos >= {prev}.m + 1
  GROUP BY {prev}.doc_id, {prev}.p1
)"""
        prev = f"c{j}"
    return f"""
WITH {cte},
{", ".join(ctes)},
{chain}
SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_spans
FROM {prev}
WHERE m - p1 - {k - 1} <= {slop}
GROUP BY doc_id
"""


SQL_MATCH_ORDERED_2 = _sql_match_chain(["hash", "merge"], 5)


def q_match_multi_phrase(spark, sf_dir):
    """P4 multi-phrase (MultiPhraseQuery analog): per-position alternative
    terms — slot 1 matches hash|key, slot 2 matches merge|order; the span
    DP unions each slot's postings (reference
    mapper/LatticeFieldMapper.java:259-271 delegates multi-phrase to the
    text query machinery)."""
    hits = _match(
        spark, sf_dir, [["hash", "key"], ["merge", "order"]], slop=5
    )
    return hits.select(
        "doc_id", F.col("n_spans").cast("long").alias("n_spans")
    )


SQL_MATCH_MULTI_PHRASE = _sql_match_chain(
    [["hash", "key"], ["merge", "order"]], 5
)


def q_match_indexed_2(spark, sf_dir):
    """Same query as match_ordered_2 but through the materialized token
    index (postings sorted by token; the term filter prunes row groups
    at the scan)."""
    import tempfile

    from full_lattice_search_spark.sources.token_index import (
        match_lattice_indexed,
        write_token_index,
    )
    from full_lattice_search_spark.plans.lattice_view import lattice_docs

    path = tempfile.mkdtemp(prefix="fls_idx_") + "/tokens"
    write_token_index(lattice_docs(spark, sf_dir), path, LatticeConfig())
    hits = match_lattice_indexed(
        spark, path, "hash merge", LatticeConfig(),
        MatchLatticeParams(slop=5, include_span_score=False),
    )
    return hits.select("doc_id", F.col("n_spans").cast("long").alias("n_spans"))


def q_match_ordered_3(spark, sf_dir):
    hits = _match(spark, sf_dir, "key order data", slop=8)
    return hits.select("doc_id", F.col("n_spans").cast("long").alias("n_spans"))


SQL_MATCH_ORDERED_3 = _sql_match_chain(["key", "order", "data"], 8)


def q_match_score_single(spark, sf_dir):
    hits = _match(spark, sf_dir, "table", slop=0, dtype=np.float64)
    return hits.select(
        "doc_id",
        F.round("score", 4).alias("score"),
        F.col("n_spans").cast("long").alias("n_spans"),
    )


# Single-term sum score: each occurrence contributes
# exp(log(1e5) + max(log(s), log(1e-6)) - log(1*lenNorm)) = 1e5 * s
# with s the float32 payload (hence the REAL cast).
SQL_MATCH_SCORE_SINGLE = f"""
WITH {_ABS_CTE}
SELECT doc_id,
       round(sum(1e5 * CAST(CAST(score_i / 100.0 AS REAL) AS DOUBLE)), 4)
         AS score,
       CAST(count(*) AS BIGINT) AS n_spans
FROM abs_tokens WHERE token = 'table'
GROUP BY doc_id
"""


def q_match_topk(spark, sf_dir):
    hits = _match(spark, sf_dir, "stream", slop=0, dtype=np.float64)
    return _top_k(
        hits.select("doc_id", F.round("score", 4).alias("score")),
        20, "score", "doc_id",
    )


def _top_k(df: DataFrame, k: int, desc: str, asc: str) -> DataFrame:
    """The first ``k`` rows of ``df`` in (``desc`` DESC, ``asc``) order,
    with their 1-based rank ``rn`` appended: what ``row_number() <= k``
    over that order selects, as the order is total (``asc`` is unique).
    ``limit`` keeps k rows per partition before one merge, and only
    those k rows are ranked, in one sorted array — an unpartitioned
    window would move every row through one task."""
    cmp = (
        f"(a, b) -> CASE WHEN a.{desc} > b.{desc} THEN -1"
        f" WHEN a.{desc} < b.{desc} THEN 1"
        f" WHEN a.{asc} < b.{asc} THEN -1"
        f" WHEN a.{asc} > b.{asc} THEN 1 ELSE 0 END"
    )
    return (
        df.orderBy(F.desc(desc), F.asc(asc)).limit(k)
        .agg(F.expr(f"array_sort(collect_list(struct(*)), {cmp}) AS r"))
        .selectExpr("posexplode(r) AS (i, t)")
        .selectExpr("t.*", "CAST(i + 1 AS BIGINT) AS rn")
    )


SQL_MATCH_TOPK = f"""
WITH {_ABS_CTE},
scored AS (
  SELECT doc_id,
         round(sum(1e5 * CAST(CAST(score_i / 100.0 AS REAL) AS DOUBLE)), 4)
           AS score
  FROM abs_tokens WHERE token = 'stream'
  GROUP BY doc_id
)
SELECT doc_id, score, CAST(rn AS BIGINT) AS rn FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rn
  FROM scored
) WHERE rn <= 20
"""


def q_extract_best_path(spark, sf_dir):
    out = extract_spans(lattice_docs(spark, sf_dir), LatticeConfig())
    return out.select(
        "doc_id", F.expr("get(spans, 0).text").alias("best_path")
    )


SQL_EXTRACT_BEST_PATH = f"""
WITH {ORACLE_TOKENS_CTE},
ranked AS (
  SELECT doc_id, pos, tok_raw,
         row_number() OVER (PARTITION BY doc_id, pos
                            ORDER BY rank, score_i DESC, i) AS rn
  FROM lattice
)
SELECT doc_id, string_agg(tok_raw, ' ' ORDER BY pos) AS best_path
FROM ranked WHERE rn = 1
GROUP BY doc_id
"""


def q_prefix_match(spark, sf_dir):
    toks = _tokens(spark, sf_dir)
    return (
        toks.filter(F.col("token").startswith("s"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_prefix_tokens"))
    )


SQL_PREFIX_MATCH = f"""
WITH {ORACLE_TOKENS_CTE}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_prefix_tokens
FROM lattice WHERE token LIKE 's%'
GROUP BY doc_id
"""


_AUDIO_INC = 0.25  # exact quarter: float32 and float64 agree on every delta

# Spark-side audio record builder: times are exact multiples of 0.25 so the
# float32 position math is bit-equal to the oracle's integer arithmetic.
_AUDIO_RECORDS_EXPR = """
transform(
  slice(split(text, ' '), 1, 24),
  (tok, i) -> concat(
    tok, '|',
    cast(floor(2*i/3) as int), '|',
    cast(i - floor((3*floor(2*i/3) + 1)/2) as int), '|',
    '0.', cast((i*37 + length(tok)*11) % 90 + 10 as int), '|',
    format_string('%d.%02d', cast((i*25) div 100 as int), cast((i*25) % 100 as int)), '|',
    format_string('%d.%02d', cast((i*25 + 25) div 100 as int), cast((i*25 + 25) % 100 as int))
  )
)
"""


def _audio_lattice_docs(spark, sf_dir, where=None):
    docs = _read(spark, sf_dir, "documents")
    if where is not None:
        docs = docs.filter(where)
    docs = _par(docs, spark, size_path=f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            "array(named_struct("
            "'kind', 'text', "
            f"'text', concat_ws(' ', {_AUDIO_RECORDS_EXPR}), "
            "'media_ref', cast(null as string), "
            "'offset', 0))"
        ).alias("spans"),
    )


def q_tokenize_audio(spark, sf_dir):
    cfg = LatticeConfig(
        lattice_format="audio", audio_position_increment_seconds=_AUDIO_INC
    )
    toks = lattice_tokenize(_audio_lattice_docs(spark, sf_dir), cfg)
    return toks.select(
        "doc_id",
        F.col("seq").cast("long").alias("seq"),
        "token",
        F.col("pos").cast("long").alias("pos"),
        F.round(F.col("start_t").cast("double"), 2).alias("start_t"),
        F.round(F.col("stop_t").cast("double"), 2).alias("stop_t"),
        F.col("pos_inc").cast("long").alias("pos_inc"),
        F.col("abs_pos").cast("long").alias("abs_pos"),
    )


# audio pos_inc: same lattice pos -> 0; first token -> max(1, floor(t0/inc))
# = max(1, i); else floor((t_i - t_prev)/inc) = i - prev_i (exact quarters).
SQL_TOKENIZE_AUDIO = f"""
WITH {ORACLE_TOKENS_CTE},
incs AS (
  SELECT doc_id, i, token, pos,
         round(i * 25 / 100.0, 2) AS start_t,
         round((i * 25 + 25) / 100.0, 2) AS stop_t,
         CASE WHEN lag(pos) OVER w = pos THEN 0
              WHEN lag(i) OVER w IS NULL THEN greatest(1, i)
              ELSE greatest(1, i - lag(i) OVER w) END AS pos_inc
  FROM lattice
  WINDOW w AS (PARTITION BY doc_id ORDER BY i)
)
SELECT doc_id, CAST(i AS BIGINT) AS seq, token, pos, start_t, stop_t,
       CAST(pos_inc AS BIGINT) AS pos_inc,
       CAST(SUM(pos_inc) OVER (PARTITION BY doc_id ORDER BY i
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS abs_pos
FROM incs
"""


def q_match_buckets_score(spark, sf_dir):
    hits = _scan(
        lattice_docs(spark, sf_dir, where=_contains_probe(["group"])),
        "group",
        LatticeConfig(score_buckets=(0.7, 3, 0.4, 2)),
        MatchLatticeParams(slop=0, include_span_score=False),
        np.float64,
    )
    return hits.select(
        "doc_id",
        F.round("score", 4).alias("score"),
        F.col("n_spans").cast("long").alias("n_spans"),
    )


# score-bucket duplication: every duplicate is a real posting, so a single-
# term query scores rep * 1e5 * s per original token (term-frequency hack).
SQL_MATCH_BUCKETS_SCORE = f"""
WITH {_ABS_CTE},
reps AS (
  SELECT *, CASE WHEN score_i >= 70 THEN 3
                 WHEN score_i >= 40 THEN 2 ELSE 1 END AS rep
  FROM abs_tokens WHERE token = 'group'
)
SELECT doc_id,
       round(sum(rep * 1e5 * CAST(CAST(score_i / 100.0 AS REAL) AS DOUBLE)), 4)
         AS score,
       CAST(sum(rep) AS BIGINT) AS n_spans
FROM reps GROUP BY doc_id
"""


def q_match_unordered_2(spark, sf_dir):
    hits = _scan(
        lattice_docs(spark, sf_dir, where=_contains_probe(["small", "key"])),
        "small key",
        LatticeConfig(),
        MatchLatticeParams(slop=3, in_order=False, include_span_score=False),
    )
    return hits.select("doc_id")


# unordered hit list: the min-pointer walk finds the smallest covering
# window, so a doc hits iff EXISTS a pair with (max-min+1) - 2 <= slop.
SQL_MATCH_UNORDERED_2 = f"""
WITH {_ABS_CTE}
SELECT DISTINCT a.doc_id
FROM abs_tokens a JOIN abs_tokens b
  ON a.doc_id = b.doc_id AND a.token = 'small' AND b.token = 'key'
WHERE abs(a.abs_pos - b.abs_pos) - 1 <= 3
"""


def _sql_match_unordered(terms: list[str], slop: int) -> str:
    """NearSpansUnordered walk enumeration (mirrors
    ``_unordered_matches_vec``): a posting of list i at position p emits a
    window iff, for every other list j, the first posting with position
    > p (j < i) / >= p (j > i) exists in the same doc and the covering
    width satisfies the slop.  Duplicate positions within a list carry
    multiplicity ``cnt``."""
    k = len(terms)
    t_ctes = [
        f"u{j} AS (SELECT doc_id, abs_pos FROM abs_tokens WHERE token = '{t}')"
        for j, t in enumerate(terms, start=1)
    ]
    g_ctes = [
        f"g{j} AS (SELECT doc_id, abs_pos AS p, count(*) AS cnt "
        f"FROM u{j} GROUP BY doc_id, abs_pos)"
        for j in range(1, k + 1)
    ]
    branches = []
    for i in range(1, k + 1):
        nxt_cols, names = [], []
        for j in range(1, k + 1):
            if j == i:
                continue
            op = ">" if j < i else ">="
            nxt_cols.append(
                f"(SELECT min(u{j}.abs_pos) FROM u{j} "
                f"WHERE u{j}.doc_id = g{i}.doc_id "
                f"AND u{j}.abs_pos {op} g{i}.p) AS n{j}"
            )
            names.append(f"n{j}")
        greatest = "greatest(p, " + ", ".join(names) + ")"
        notnull = " AND ".join(f"{n} IS NOT NULL" for n in names)
        branches.append(f"""
  SELECT doc_id, cnt FROM (
    SELECT g{i}.doc_id, g{i}.p, g{i}.cnt, {", ".join(nxt_cols)}
    FROM g{i}
  ) WHERE {notnull} AND ({greatest} + 1 - p) - {k} <= {slop}""")
    return f"""
WITH {_ABS_CTE},
{", ".join(t_ctes)},
{", ".join(g_ctes)}
SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_spans
FROM ({" UNION ALL ".join(branches)})
GROUP BY doc_id
"""


def q_match_unordered_3(spark, sf_dir):
    """J1 unordered, 3 terms — exercises the vectorized unordered walk
    (the ordered dual of the reference's 3-term yml fixture,
    20_tests.yml:70-86)."""
    hits = _match(spark, sf_dir, "row part data", slop=5, in_order=False)
    return hits.select(
        "doc_id", F.col("n_spans").cast("long").alias("n_spans")
    )


SQL_MATCH_UNORDERED_3 = _sql_match_unordered(["row", "part", "data"], 5)


def q_match_payload_max(spark, sf_dir):
    """A4: payload_function='max' (MaxLatticePayloadFunction.java:26-38)."""
    hits = _match(
        spark, sf_dir, "key", slop=0, dtype=np.float64,
        payload_function="max",
    )
    return hits.select(
        "doc_id",
        F.round("score", 4).alias("score"),
        F.col("n_spans").cast("long").alias("n_spans"),
    )


def q_match_payload_min(spark, sf_dir):
    """A5: payload_function='min' (MinLatticePayloadFunction.java:26-38)."""
    hits = _match(
        spark, sf_dir, "key", slop=0, dtype=np.float64,
        payload_function="min",
    )
    return hits.select(
        "doc_id",
        F.round("score", 4).alias("score"),
        F.col("n_spans").cast("long").alias("n_spans"),
    )


_SQL_PAYLOAD_AGG = """
WITH {cte}
SELECT doc_id,
       round({agg}(1e5 * CAST(CAST(score_i / 100.0 AS REAL) AS DOUBLE)), 4)
         AS score,
       CAST(count(*) AS BIGINT) AS n_spans
FROM abs_tokens WHERE token = '{term}'
GROUP BY doc_id
"""

SQL_MATCH_PAYLOAD_MAX = _SQL_PAYLOAD_AGG.format(
    cte=_ABS_CTE, agg="max", term="key"
)
SQL_MATCH_PAYLOAD_MIN = _SQL_PAYLOAD_AGG.format(
    cte=_ABS_CTE, agg="min", term="key"
)


def q_match_span_score(spark, sf_dir):
    """A7: the reference-DEFAULT ranking — include_span_score=True
    multiplies the engine-native BM25 similarity into the payload score
    (LatticePayloadScoreQuery.java:333-339).  Components are rounded
    before the product so the DuckDB recomputation is bit-deterministic.

    Physical shape: the composed doc-scan ``match_lattice`` (no probe:
    corpus statistics cover every document) persists the kernel's per-doc
    stats frame, which carries each document's lengths and feeds both the
    tf/df side and the hits: ONE tokenize execution per run.  The
    persisted frame is an intra-query intermediate, recomputed from
    parquet on every invocation."""
    hits = match_lattice(
        lattice_docs(spark, sf_dir),
        "table",
        LatticeConfig(),
        MatchLatticeParams(slop=0, include_span_score=True),
        dtype=np.float64,
    )
    return hits.selectExpr(
        "doc_id",
        "round(round(payload_score, 4) * round(similarity, 6), 4) AS score",
        "CAST(n_spans AS BIGINT) AS n_spans",
    )


SQL_MATCH_SPAN_SCORE = f"""
WITH {_ABS_CTE},
doclen AS (SELECT doc_id, count(*) AS dl FROM abs_tokens GROUP BY doc_id),
corpus AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM doclen),
hit AS (
  SELECT doc_id, count(*) AS tf,
         round(sum(1e5 * CAST(CAST(score_i / 100.0 AS REAL) AS DOUBLE)), 4)
           AS payload
  FROM abs_tokens WHERE token = 'table' GROUP BY doc_id
),
df AS (
  SELECT count(DISTINCT doc_id) AS df FROM abs_tokens WHERE token = 'table'
)
SELECT h.doc_id,
       round(h.payload * round(
         ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5)) *
         (h.tf * 2.2) /
         (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / (c.total_len / c.n_docs)))
       , 6), 4) AS score,
       CAST(h.tf AS BIGINT) AS n_spans
FROM hit h
JOIN doclen l ON l.doc_id = h.doc_id
CROSS JOIN df d
CROSS JOIN corpus c
"""


def q_match_boosted(spark, sf_dir):
    """Builder ``boost`` multiplied into the final score (the reference
    serializes it with the query, MatchLatticeQueryBuilderTests.java:136-150)."""
    hits = _match(
        spark, sf_dir, "stream", slop=0, dtype=np.float64, boost=2.5
    )
    return hits.select(
        "doc_id",
        F.round("score", 4).alias("score"),
        F.col("n_spans").cast("long").alias("n_spans"),
    )


SQL_MATCH_BOOSTED = f"""
WITH {_ABS_CTE}
SELECT doc_id,
       round(sum(1e5 * CAST(CAST(score_i / 100.0 AS REAL) AS DOUBLE)) * 2.5, 4)
         AS score,
       CAST(count(*) AS BIGINT) AS n_spans
FROM abs_tokens WHERE token = 'stream'
GROUP BY doc_id
"""


_AUDIO_ABS_CTE = f"""{ORACLE_TOKENS_CTE},
incs AS (
  SELECT doc_id, i, token, pos,
         CASE WHEN lag(pos) OVER w = pos THEN 0
              WHEN lag(i) OVER w IS NULL THEN greatest(1, i)
              ELSE greatest(1, i - lag(i) OVER w) END AS pos_inc
  FROM lattice
  WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
abs_tokens AS (
  SELECT doc_id, i, token,
         SUM(pos_inc) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS UNBOUNDED PRECEDING) AS abs_pos
  FROM incs
)
"""


def q_match_audio_seconds(spark, sf_dir):
    """J3: audio-format matching — ``slop_seconds`` converted to position
    slop in float32 (MatchLatticeQueryBuilder.java:349-354; the behavioral
    contract of 20_tests.yml:150-277).  slop_seconds=2.0 at 0.25 s/pos and
    2 terms → effective slop floor(2.0/0.25) - 0 - 1 = 7."""
    cfg = LatticeConfig(
        lattice_format="audio", audio_position_increment_seconds=_AUDIO_INC
    )
    hits = _scan(
        _audio_lattice_docs(
            spark, sf_dir, where=_contains_probe(["hash", "merge"])
        ),
        "hash merge",
        cfg,
        MatchLatticeParams(slop_seconds=2.0, include_span_score=False),
    )
    return hits.select(
        "doc_id", F.col("n_spans").cast("long").alias("n_spans")
    )


SQL_MATCH_AUDIO_SECONDS = _sql_match_chain(
    ["hash", "merge"], 7, cte=_AUDIO_ABS_CTE
)


# A1 fixture: every 5th lattice record carries a non-numeric payload
# ('nan') — the analog of a posting with no payload, which the reference
# decodes to 1e-5 (FloatDecoder.java:24-44).
_NULLPAY_RECORDS_EXPR = """
transform(
  slice(split(text, ' '), 1, 24),
  (tok, i) -> concat(
    tok, '|',
    cast(floor(2*i/3) as int), '|',
    cast(i - floor((3*floor(2*i/3) + 1)/2) as int), '|',
    CASE WHEN i % 5 = 0 THEN 'nan'
         ELSE concat('0.', cast((i*37 + length(tok)*11) % 90 + 10 as int))
    END
  )
)
"""


def q_match_null_payload(spark, sf_dir):
    """A1: null/undecodable payloads score as 1e-5 in the fold."""
    docs = _par(
        _read(spark, sf_dir, "documents").filter(_contains_probe(["table"])),
        spark,
        size_path=f"{sf_dir}/documents.parquet",
    ).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            "array(named_struct("
            "'kind', 'text', "
            f"'text', concat_ws(' ', {_NULLPAY_RECORDS_EXPR}), "
            "'media_ref', cast(null as string), "
            "'offset', 0))"
        ).alias("spans"),
    )
    hits = _scan(
        docs,
        "table",
        LatticeConfig(),
        MatchLatticeParams(slop=0, include_span_score=False),
        np.float64,
    )
    return hits.select(
        "doc_id",
        F.round("score", 4).alias("score"),
        F.col("n_spans").cast("long").alias("n_spans"),
    )


SQL_MATCH_NULL_PAYLOAD = f"""
WITH {ORACLE_TOKENS_CTE}
SELECT doc_id,
       round(sum(CASE WHEN i % 5 = 0 THEN 1e5 * 1e-5
                      ELSE 1e5 * CAST(CAST(score_i / 100.0 AS REAL) AS DOUBLE)
                 END), 4) AS score,
       CAST(count(*) AS BIGINT) AS n_spans
FROM lattice WHERE token = 'table'
GROUP BY doc_id
"""


def q_match_snippets(spark, sf_dir):
    """Highlight surface: matched span windows joined back to their token
    text (explain arrays + one doc_id-equi range join)."""
    from full_lattice_search_spark.operators.match import match_snippets

    toks = _tokens(spark, sf_dir, where=_contains_probe(["hash", "merge"]))
    snip = match_snippets(
        toks,
        "hash merge",
        LatticeConfig(),
        MatchLatticeParams(slop=5, include_span_score=False),
    )
    return snip.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "snippet",
    )


SQL_MATCH_SNIPPETS = f"""
WITH {_ABS_CTE},
t1 AS (SELECT doc_id, abs_pos FROM abs_tokens WHERE token = 'hash'),
t2 AS (SELECT doc_id, abs_pos FROM abs_tokens WHERE token = 'merge'),
c1 AS (SELECT DISTINCT doc_id, abs_pos AS p1, abs_pos AS m FROM t1),
c2 AS (
  SELECT c1.doc_id, c1.p1, min(t2.abs_pos) AS m
  FROM c1 JOIN t2 ON t2.doc_id = c1.doc_id AND t2.abs_pos >= c1.m + 1
  GROUP BY c1.doc_id, c1.p1
),
spans AS (
  SELECT DISTINCT doc_id, p1 AS span_start, m + 1 AS span_end
  FROM c2 WHERE m - p1 - 1 <= 5
),
qtoks AS (
  SELECT DISTINCT doc_id, token, abs_pos FROM abs_tokens
  WHERE token IN ('hash', 'merge')
)
SELECT s.doc_id,
       CAST(s.span_start AS BIGINT) AS span_start,
       CAST(s.span_end AS BIGINT) AS span_end,
       string_agg(t.token, ' ' ORDER BY t.abs_pos, t.token) AS snippet
FROM spans s JOIN qtoks t
  ON t.doc_id = s.doc_id
 AND t.abs_pos >= s.span_start AND t.abs_pos < s.span_end
GROUP BY s.doc_id, s.span_start, s.span_end
"""


def q_match_many(spark, sf_dir):
    """Percolator-shaped batch matching: 3 standing queries, one scan and
    one tokenization, per-query span DP in the doc-scan kernel."""
    # prefilter: a doc can contribute only if it can match >= 1 standing
    # query — OR over the queries' slot-AND probes (superset; guide §3.2)
    probe = (
        _contains_probe(["hash", "merge"])
        | _contains_probe(["key", "order", "data"])
        | _contains_probe(["table"])
    )
    hits = match_lattice_many(
        lattice_docs(spark, sf_dir, where=probe),
        [("q_hm", "hash merge"), ("q_kod", "key order data"), ("q_t", "table")],
        LatticeConfig(),
        MatchLatticeParams(slop=8, include_span_score=False),
    )
    return hits.select(
        "query_id", "doc_id", F.col("n_spans").cast("long").alias("n_spans")
    )


def _sql_match_many() -> str:
    parts = []
    for qid, terms in (
        ("q_hm", ["hash", "merge"]),
        ("q_kod", ["key", "order", "data"]),
        ("q_t", ["table"]),
    ):
        if len(terms) == 1:
            inner = f"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
FROM abs_tokens WHERE token = '{terms[0]}' GROUP BY doc_id"""
            body = f"WITH {_ABS_CTE} {inner}"
        else:
            body = _sql_match_chain(terms, 8)
        parts.append(
            f"SELECT '{qid}' AS query_id, doc_id, n_spans FROM ({body})"
        )
    return " UNION ALL ".join(parts)


SQL_MATCH_MANY = _sql_match_many()


def q_match_many_multi(spark, sf_dir):
    """Percolator batch with a MULTI-PHRASE standing query in the mix:
    same one-scan plan, slot lists flow through the shared span DP."""
    probe = (
        _contains_probe([["hash", "key"], ["merge", "order"]])
        | _contains_probe(["table"])
    )
    hits = match_lattice_many(
        lattice_docs(spark, sf_dir, where=probe),
        [
            ("q_mp", [["hash", "key"], ["merge", "order"]]),
            ("q_t", "table"),
        ],
        LatticeConfig(),
        MatchLatticeParams(slop=5, include_span_score=False),
    )
    return hits.select(
        "query_id", "doc_id", F.col("n_spans").cast("long").alias("n_spans")
    )


def _sql_match_many_multi() -> str:
    mp = _sql_match_chain([["hash", "key"], ["merge", "order"]], 5)
    single = f"""WITH {_ABS_CTE}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
FROM abs_tokens WHERE token = 'table' GROUP BY doc_id"""
    return (
        f"SELECT 'q_mp' AS query_id, doc_id, n_spans FROM ({mp})"
        f" UNION ALL "
        f"SELECT 'q_t' AS query_id, doc_id, n_spans FROM ({single})"
    )


SQL_MATCH_MANY_MULTI = _sql_match_many_multi()


def q_match_zero_terms_all(spark, sf_dir):
    """P5: zero_terms_query='all' — an all-whitespace query matches every
    document with MIN_SCORE (MatchLatticeQueryBuilder zeroTermsQuery)."""
    hits = match_lattice(
        lattice_docs(spark, sf_dir),
        "   ",
        LatticeConfig(),
        MatchLatticeParams(zero_terms_query="all", include_span_score=False),
    )
    return hits.select(
        "doc_id", "score", F.col("n_spans").cast("long").alias("n_spans")
    )


SQL_MATCH_ZERO_TERMS_ALL = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(1e-6 AS DOUBLE) AS score,
       CAST(0 AS BIGINT) AS n_spans
FROM documents
"""


def q_match_exists(spark, sf_dir):
    """P2: exists query — documents whose lattice field indexes >= 1 token.
    Every 7th doc is replaced by a media-only document (no text span)."""
    from full_lattice_search_spark.operators.match import exists_lattice

    base = lattice_docs(spark, sf_dir)
    media_only = F.expr(
        "array(named_struct('kind', 'image', 'text', cast(null as string),"
        " 'media_ref', 'media://x', 'offset', 0))"
    )
    docs = base.withColumn(
        "spans",
        F.when(F.col("doc_id").cast("long") % 7 == 0, media_only).otherwise(
            F.col("spans")
        ),
    )
    return exists_lattice(docs)


SQL_MATCH_EXISTS = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id
FROM documents
WHERE doc_id % 7 <> 0 AND length(trim(text)) > 0
"""


def _ntz_epoch_seconds(col: str) -> str:
    """SQL for the epoch offset of the TIMESTAMP_NTZ column ``col`` as an
    INTERVAL SECOND.  NTZ minus NTZ is computed without a time zone;
    timestampdiff, unix_micros and any cast to TIMESTAMP read the session
    zone and move a wall time inside a DST gap by the shift."""
    return f"CAST({col} - TIMESTAMP_NTZ'1970-01-01 00:00:00' AS INTERVAL SECOND)"


def q_events_tumbling(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.expr(f"CAST({_ntz_epoch_seconds('w.start')} AS BIGINT)")
            .alias("bucket_ts"),
            "event_type",
            "n",
            "sum_value",
        )
    )


SQL_EVENTS_TUMBLING = """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS bucket_ts,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""

_HTML_WRAP = (
    "concat('<html><head><style>.x{color:red}</style></head><body>',"
    "'<nav><a href=\"/\">home</a></nav><article><h1>T</h1><p>', text,"
    "'</p></article><script>var x=1;</script><footer>(c) f</footer>',"
    "'</body></html>')"
)


def q_extract_boilerplate(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            "array(named_struct('kind', 'text', "
            f"'text', {_HTML_WRAP}, "
            "'media_ref', cast(null as string), 'offset', 0))"
        ).alias("spans"),
    )
    out = extract_spans(docs, LatticeConfig())
    return out.select("doc_id", F.expr("get(spans, 0).text").alias("content"))


# the stripper must recover exactly the article content: h1 text + body
SQL_EXTRACT_BOILERPLATE = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'T ' || text AS content
FROM documents
"""


def q_pdf_extract(spark, sf_dir):
    """REAL uncompressed-PDF decode through the extraction pipeline
    (strict=True): each doc's first 12 tokens are laid out in a
    synthesized multi-page PDF (Tm/Td positioning, Tj/TJ shows, correct
    xref) and the engine must recover the reading order by actually
    interpreting the content streams; the oracle predicts the order in
    closed form from the synthesizer's coordinate functions."""
    import pandas as pd

    from full_lattice_search_spark.functions.pdf import synth_pdf_bytes
    from full_lattice_search_spark.operators.extract import extract_spans

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            "slice(filter(split(lower(text), ' '), x -> x != ''), 1, 12)"
        ).alias("toks"),
    )

    def synth(batches):
        for pdf in batches:
            payloads = [
                synth_pdf_bytes(list(t)).decode("latin-1")
                for t in pdf["toks"]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "pdf": payloads}
            )

    raw = docs.mapInPandas(synth, "doc_id string, pdf string")
    spans = raw.select(
        "doc_id",
        F.expr(
            "array(named_struct('kind', 'pdf', 'text', pdf, "
            "'media_ref', cast(null as string), 'offset', 0))"
        ).alias("spans"),
    )
    out = extract_spans(spans, LatticeConfig(), strict=True)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr("get(spans, 0).text").alias("content"),
    )


# reading order of the synthesized layout: page = 1 + i//8 ascending,
# y = 700 - 20*((3i) mod 4) DESCENDING (so ascending (3i) mod 4),
# x = 50 + 10i ascending — mirrors functions/pdf.py:_coords
SQL_PDF_EXTRACT = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       string_agg(tok, ' ' ORDER BY page, yr, i) AS content
FROM (
  SELECT doc_id, t[i + 1] AS tok, (3 * i) % 4 AS yr,
         1 + i // 8 AS page, i
  FROM (
    SELECT doc_id,
           list_slice(list_filter(string_split(lower(text), ' '),
                                  x -> x <> ''), 1, 12) AS t
    FROM documents
  ), LATERAL (SELECT unnest(generate_series(0, len(t) - 1)) AS i) s
)
GROUP BY doc_id
"""


def q_match_phrase_prefix(spark, sf_dir):
    # 'mer' probes as a plain substring: superset of startswith-'mer' tokens
    hits = _scan(
        lattice_docs(spark, sf_dir, where=_contains_probe(["hash", "mer"])),
        "hash mer",
        LatticeConfig(),
        MatchLatticeParams(slop=5, include_span_score=False),
        phrase_prefix=True,
    )
    return hits.select("doc_id", F.col("n_spans").cast("long").alias("n_spans"))


# phrase-prefix: the last term's position list is every token with the
# prefix (span-or of the expanded terms); the greedy chain is unchanged.
SQL_MATCH_PHRASE_PREFIX = f"""
WITH {_ABS_CTE},
t1 AS (SELECT doc_id, abs_pos FROM abs_tokens WHERE token = 'hash'),
t2 AS (SELECT doc_id, abs_pos FROM abs_tokens WHERE token LIKE 'mer%'),
c1 AS (SELECT doc_id, abs_pos AS p1, abs_pos AS m, count(*) AS cnt
       FROM t1 GROUP BY doc_id, abs_pos),
c2 AS (
  SELECT c1.doc_id, c1.p1, min(t2.abs_pos) AS m, min(c1.cnt) AS cnt
  FROM c1 JOIN t2 ON t2.doc_id = c1.doc_id AND t2.abs_pos >= c1.m + 1
  GROUP BY c1.doc_id, c1.p1
)
SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_spans
FROM c2 WHERE m - p1 - 1 <= 5 GROUP BY doc_id
"""


def q_bm25(spark, sf_dir):
    from full_lattice_search_spark.operators.bm25 import bm25_scores

    # doclen as a JVM projection + one persisted candidate-postings frame
    # under the tf rows: the df side is derived from them, but without the
    # persist the tokenize exchange is not reused and the tokenizer runs
    # over every row twice
    toks = _tokens(spark, sf_dir, where=_contains_probe([["table", "stream"]]))
    cand = track_cached(
        toks.where("token IN ('table', 'stream')")
        .select("doc_id", "token")
        .persist()
    )
    return bm25_scores(
        cand, ["table", "stream"], round_to=6,
        doclen=_doclen_jvm(spark, sf_dir),
    )


SQL_BM25 = f"""
WITH {ORACLE_TOKENS_CTE},
doclen AS (SELECT doc_id, count(*) AS dl FROM lattice GROUP BY doc_id),
corpus AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM doclen),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM lattice
  WHERE token IN ('table', 'stream') GROUP BY doc_id, token
),
df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM lattice
  WHERE token IN ('table', 'stream') GROUP BY token
)
SELECT t.doc_id,
       round(sum(
         ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5)) *
         (t.tf * 2.2) /
         (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / (c.total_len / c.n_docs)))
       ), 6) AS bm25
FROM tf t
JOIN df d ON d.token = t.token
JOIN doclen l ON l.doc_id = t.doc_id
CROSS JOIN corpus c
GROUP BY t.doc_id
"""


def q_events_sessionize(spark, sf_dir):
    from pyspark.sql import Window

    # microsecond-exact on both engines (unix_timestamp floors fractional
    # seconds while DuckDB's epoch() keeps them — off-by-one at boundaries)
    us = f"CAST({_ntz_epoch_seconds('ts')} AS DECIMAL(18, 6)) * 1000000"
    ev = _read(spark, sf_dir, "events").withColumn(
        "us", F.expr(f"CAST({us} AS BIGINT)")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    marked = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull() | (gap > 1800 * 1_000_000), 1
        ).otherwise(0),
    ).withColumn(
        "session_idx",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        marked.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("us").alias("start_ts"),
            F.max("us").alias("end_ts"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("session_idx").cast("long").alias("session_idx"),
            "n_events",
            "start_ts",
            "end_ts",
            "sum_value",
        )
    )


SQL_EVENTS_SESSIONIZE = """
WITH marked AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM marked
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(session_idx AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(epoch_us(ts)) AS BIGINT) AS start_ts,
       CAST(max(epoch_us(ts)) AS BIGINT) AS end_ts,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM sess GROUP BY user_id, session_idx
"""


def q_lineitem_cube(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("l_linestatus"),
            "n",
            "sum_qty",
        )
    )


SQL_LINEITEM_CUBE = """
SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
       coalesce(l_linestatus, '(all)') AS l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# dedup queries
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return exact_dup_groups(_docs_with_exact_dups(spark, sf_dir))


SQL_DEDUP_EXACT = f"""
WITH {_EXACT_DUP_SQL}
SELECT md5(lower(trim(text))) AS text_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keep_id
FROM aug GROUP BY 1 HAVING count(*) >= 2
"""


def q_minhash_signatures(spark, sf_dir):
    sigs = minhash_signature(_read(spark, sf_dir, "documents"))
    return sigs.select(
        "doc_id",
        F.expr("concat_ws('|', transform(mh, x -> cast(x as string)))").alias(
            "sig"
        ),
    )


SQL_MINHASH_SIGNATURES = f"""
WITH aug AS (SELECT doc_id, text, lang FROM documents),
{_MINHASH_SQL[1:]}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       concat_ws('|', {", ".join(f"CAST(m{j} AS VARCHAR)" for j in range(16))})
         AS sig
FROM mh
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    docs = _par(
        _docs_with_near_dups(spark, sf_dir),
        spark,
        size_path=f"{sf_dir}/documents.parquet",
    )
    # the signature table is reused by banding and by both jaccard joins —
    # at scale it would be a materialized table; here: persist once
    sigs = track_cached(minhash_signature(docs).persist())
    pairs = lsh_candidate_pairs(sigs)
    return minhash_jaccard(sigs, pairs).filter("jaccard_est >= 0.5d")


SQL_MINHASH_LSH_PAIRS = f"""
WITH {_NEAR_DUP_SQL[1:]},
{_MINHASH_SQL[1:]},
sig AS (
  SELECT doc_id, {_MH_LIST} AS mh FROM mh
),
bands AS (
  SELECT doc_id, b AS band_idx,
         md5(CAST(mh[4*b + 1] AS VARCHAR) || '|' ||
             CAST(mh[4*b + 2] AS VARCHAR) || '|' ||
             CAST(mh[4*b + 3] AS VARCHAR) || '|' ||
             CAST(mh[4*b + 4] AS VARCHAR)) AS band_key
  FROM sig, LATERAL (SELECT UNNEST([0, 1, 2, 3]) AS b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         round(len(list_filter(list_zip(sa.mh, sb.mh),
                               p -> p[1] = p[2])) / 16.0, 4) AS jaccard_est
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
)
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       jaccard_est
FROM est WHERE jaccard_est >= 0.5
"""


# Three-level near-dup CHAIN: original X, X' = last-3-words-dropped
# (+1000000), X'' = last-6-words-dropped (+2000000).  X' pairs with both
# ends; X—X'' may or may not pair directly — exactly the transitive shape
# where pair-greedy dedup under-drops and connected components is needed.
_CHAIN_TRUNC = (
    "array_to_string(list_slice(string_split(text, ' '), 1,"
    " greatest(len(string_split(text, ' ')) - {n}, 1)), ' ')"
)
_CHAIN_DUP_SQL = f"""
aug AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, {_CHAIN_TRUNC.format(n=3)} AS text, lang
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, {_CHAIN_TRUNC.format(n=6)} AS text, lang
  FROM documents WHERE doc_id % 10 = 0
)
"""


def _docs_with_dup_chain(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")

    def trunc(n):
        return F.expr(
            "concat_ws(' ', slice(split(text, ' '), 1,"
            f" greatest(size(split(text, ' ')) - {n}, 1)))"
        )

    tenth = docs.filter(F.col("doc_id") % 10 == 0)
    c1 = tenth.withColumn("doc_id", F.col("doc_id") + 1000000).withColumn(
        "text", trunc(3)
    )
    c2 = tenth.withColumn("doc_id", F.col("doc_id") + 2000000).withColumn(
        "text", trunc(6)
    )
    return docs.unionByName(c1).unionByName(c2)


def q_dedup_groups(spark, sf_dir):
    """Connected components over verified near-dup pairs (min-label
    propagation, operators/dedup.py:near_dup_groups): every chained
    duplicate resolves to its component's MIN doc_id — the canonical
    representative.  The pair-greedy drop the curation pipeline uses
    under-drops exactly on these chains."""
    from full_lattice_search_spark.operators.dedup import near_dup_groups

    docs = _docs_with_dup_chain(spark, sf_dir)
    sigs = track_cached(minhash_signature(docs).persist())
    pairs = minhash_jaccard(sigs, lsh_candidate_pairs(sigs)).filter(
        F.col("jaccard_est") >= 0.5
    )
    groups = near_dup_groups(pairs)
    return groups.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("group_id").cast("long").alias("group_id"),
    )


SQL_DEDUP_GROUPS = f"""
WITH RECURSIVE {_CHAIN_DUP_SQL[1:]},
{_MINHASH_SQL[1:]},
sig AS (
  SELECT doc_id, {_MH_LIST} AS mh FROM mh
),
bands AS (
  SELECT doc_id, b AS band_idx,
         md5(CAST(mh[4*b + 1] AS VARCHAR) || '|' ||
             CAST(mh[4*b + 2] AS VARCHAR) || '|' ||
             CAST(mh[4*b + 3] AS VARCHAR) || '|' ||
             CAST(mh[4*b + 4] AS VARCHAR)) AS band_key
  FROM sig, LATERAL (SELECT UNNEST([0, 1, 2, 3]) AS b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
  WHERE round(len(list_filter(list_zip(sa.mh, sb.mh),
                              p -> p[1] = p[2])) / 16.0, 4) >= 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM est
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM est
),
reach(src, dst) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
)
SELECT CAST(src AS BIGINT) AS doc_id, CAST(min(dst) AS BIGINT) AS group_id
FROM reach GROUP BY src
"""


def q_simhash(spark, sf_dir):
    docs = _par(
        _read(spark, sf_dir, "documents"),
        spark,
        size_path=f"{sf_dir}/documents.parquet",
    )
    return simhash_signature(docs)


SQL_SIMHASH = """
WITH toks AS (
  SELECT doc_id, md5(ts.tok) AS h FROM (
    SELECT doc_id, string_split(lower(text), ' ') AS xs FROM documents) d,
  LATERAL (SELECT UNNEST(d.xs) AS tok) ts
),
bits AS (
  SELECT doc_id, bi.i AS i,
         sum(CASE WHEN strpos('13579bdf', substr(h, bi.i + 1, 1)) > 0
                  THEN 1 ELSE -1 END) AS s
  FROM toks, LATERAL (SELECT UNNEST(generate_series(0, 31)) AS i) bi
  GROUP BY doc_id, bi.i
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY i)
         AS simhash
FROM bits GROUP BY doc_id
"""


def q_ngram_jaccard_pairs(spark, sf_dir):
    docs = _docs_with_near_dups(spark, sf_dir).withColumn(
        "blk", F.substring("text", 1, 12)
    )
    return ngram_jaccard_pairs(docs, ["lang", "blk"], threshold=0.5)


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH {_NEAR_DUP_SQL[1:]},
base AS (
  SELECT doc_id, lang, substr(text, 1, 12) AS blk,
         string_split(lower(text), ' ') AS xs
  FROM aug
),
sh AS (
  SELECT doc_id, lang, blk,
         list_distinct([array_to_string(list_slice(xs, i, i + 2), ' ')
                        for i in generate_series(1, greatest(len(xs) - 2, 1))])
           AS s
  FROM base
)
SELECT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b,
       round(len(list_intersect(a.s, b.s)) /
             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4)
         AS jaccard
FROM sh a JOIN sh b
  ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.s, b.s)) /
            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) >= 0.5
"""


# ---------------------------------------------------------------------------
# similarity / embeddings
# ---------------------------------------------------------------------------


def _embeddings_with_dups(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    copies = emb.filter(F.col("vec_id") % 20 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    return emb.unionByName(copies)


_EMB_DUP_SQL = """
aug AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding, label
  FROM embeddings WHERE vec_id % 20 = 0
)
"""

_SQL_COS = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / "
    "(sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
    "sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)


def q_embedding_dup_pairs(spark, sf_dir):
    return embedding_dup_pairs(_embeddings_with_dups(spark, sf_dir))


SQL_EMBEDDING_DUP_PAIRS = f"""
WITH {_EMB_DUP_SQL}
SELECT CAST(a.vec_id AS BIGINT) AS vec_a, CAST(b.vec_id AS BIGINT) AS vec_b,
       round({_SQL_COS.format(a="a.embedding", b="b.embedding")}, 4) AS cosine
FROM aug a JOIN aug b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_SQL_COS.format(a="a.embedding", b="b.embedding")}, 4) >= 0.995
"""


def q_ann_bruteforce(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    # the per-row cosine fold is interpreted HOF work in the scan stage;
    # spread the unsplittable single-file corpus scan first (guide §2)
    return brute_force_topk(
        _par(emb, spark, size_path=f"{sf_dir}/embeddings.parquet"), query,
        k=10,
    )


SQL_ANN_BRUTEFORCE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
           FROM embeddings ORDER BY vec_id LIMIT 1),
scored AS (
  SELECT q.query_id, e.vec_id,
         round({_SQL_COS.format(a="e.embedding", b="q.qvec")}, 4) AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       cosine, CAST(rn AS INT) AS rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 10
"""

_SQL_BUCKET = "concat(" + ", ".join(
    f"CASE WHEN {{v}}[{i + 1}] >= 0 THEN '1' ELSE '0' END" for i in range(8)
) + ")"


def q_ann_lsh(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    return lsh_bucket_topk(emb, query, k=5)


SQL_ANN_LSH = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                  {_SQL_BUCKET.format(v="embedding")} AS bucket
           FROM embeddings ORDER BY vec_id LIMIT 1),
scored AS (
  SELECT q.query_id, e.vec_id,
         round({_SQL_COS.format(a="e.embedding", b="q.qvec")}, 4) AS cosine
  FROM embeddings e JOIN q
    ON {_SQL_BUCKET.format(v="e.embedding")} = q.bucket
  WHERE e.vec_id <> q.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       cosine, CAST(rn AS INT) AS rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 5
"""


def _sql_hyperplane_bucket(
    v: str, n_planes: int = 8, dim: int = 64, seed: int = 42
) -> str:
    """DuckDB twin of similarity.hyperplane_bucket_col: identical literal
    coefficients (seed-derived float32 → exact double repr), identical
    left-to-right double multiply-add chain — bit-equal bucket strings."""
    from full_lattice_search_spark.operators.similarity import (
        hyperplane_coeffs,
    )

    parts = []
    for plane in hyperplane_coeffs(n_planes, dim, seed):
        terms = " + ".join(
            f"CAST({v}[{j + 1}] AS DOUBLE) * ({c!r})"
            for j, c in enumerate(plane)
        )
        parts.append(f"CASE WHEN ({terms}) >= 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(parts) + ")"


def q_ann_lsh_hyperplane(spark, sf_dir):
    """Seeded random-hyperplane sign-LSH (Charikar) — the
    distribution-free bucket variant next to the axis-sign one; plan-time
    literal plane coefficients keep it a codegen/partition-pruning path."""
    emb = _read(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    return lsh_bucket_topk(emb, query, k=5, plane_seed=42, dim=64)


SQL_ANN_LSH_HYPERPLANE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                  {{hp_q}} AS bucket
           FROM embeddings ORDER BY vec_id LIMIT 1),
scored AS (
  SELECT q.query_id, e.vec_id,
         round({_SQL_COS.format(a="e.embedding", b="q.qvec")}, 4) AS cosine
  FROM embeddings e JOIN q
    ON {{hp_e}} = q.bucket
  WHERE e.vec_id <> q.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       cosine, CAST(rn AS INT) AS rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 5
"""

SQL_ANN_LSH_HYPERPLANE = SQL_ANN_LSH_HYPERPLANE.format(
    hp_q=_sql_hyperplane_bucket("embedding"),
    hp_e=_sql_hyperplane_bucket("e.embedding"),
)


_SQL_HAMMING = "(" + " + ".join(
    f"CASE WHEN substr({{a}}, {i + 1}, 1) <> substr({{b}}, {i + 1}, 1) "
    f"THEN 1 ELSE 0 END"
    for i in range(8)
) + ")"


def q_ann_multiprobe(spark, sf_dir):
    """Sign-LSH with Hamming-1 multi-probe: the query probes its own bucket
    plus the 8 single-flip neighbours (recall fix for vectors near a
    hyperplane)."""
    emb = _read(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    return lsh_bucket_topk(emb, query, k=5, multi_probe=True)


SQL_ANN_MULTIPROBE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                  {_SQL_BUCKET.format(v="embedding")} AS bucket
           FROM embeddings ORDER BY vec_id LIMIT 1),
scored AS (
  SELECT q.query_id, e.vec_id,
         round({_SQL_COS.format(a="e.embedding", b="q.qvec")}, 4) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
    AND {_SQL_HAMMING.format(a=_SQL_BUCKET.format(v="e.embedding"),
                             b="q.bucket")} <= 1
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       cosine, CAST(rn AS INT) AS rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 5
"""


def q_ann_ivf(spark, sf_dir):
    """IVF ANN: corpus assigned to nearest seed centroid (plan-time literal
    centroids, zero-shuffle projection), query probes its 2 nearest
    centroids' clusters only."""
    from full_lattice_search_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    return ivf_topk(emb, query, k=5, n_centroids=8, n_probe=2)


SQL_ANN_IVF = f"""
WITH cents AS (SELECT vec_id AS cluster_id, embedding AS cvec
               FROM embeddings ORDER BY vec_id LIMIT 8),
assigned AS (
  SELECT vec_id, embedding, cluster_id AS cluster FROM (
    SELECT e.vec_id, e.embedding, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_SQL_COS.format(a="e.embedding", b="c.cvec")} DESC,
                      c.cluster_id) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qvec
      FROM embeddings ORDER BY vec_id LIMIT 1),
probes AS (
  SELECT query_id, qvec, cluster_id AS cluster FROM (
    SELECT q.query_id, q.qvec, c.cluster_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_SQL_COS.format(a="q.qvec", b="c.cvec")} DESC,
                      c.cluster_id) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id,
         round({_SQL_COS.format(a="a.embedding", b="p.qvec")}, 4) AS cosine
  FROM assigned a JOIN probes p ON a.cluster = p.cluster
  WHERE a.vec_id <> p.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       cosine, CAST(rn AS INT) AS rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 5
"""


def q_kmeans(spark, sf_dir):
    """Iterative algorithm on the engine: 2 Lloyd rounds of deterministic
    k-means (decimal-sum means, lowest-id tie-breaks) — each round is a
    zero-shuffle literal-centroid assignment + one groupBy.  The oracle
    unrolls both iterations in SQL."""
    from full_lattice_search_spark.operators.similarity import kmeans_train

    emb = _read(spark, sf_dir, "embeddings")
    out = kmeans_train(emb, k=4, iterations=2)
    return out.select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("n_members").cast("long").alias("n_members"),
        F.round(F.expr("cvec[0]"), 6).alias("c0"),
        F.round(F.expr("cvec[1]"), 6).alias("c1"),
    )


def _sql_kmeans(k: int = 4, dim: int = 64) -> str:
    def assign(cte: str, cents: str) -> str:
        cos = _SQL_COS.format(a="e.embedding", b="c.cvec")
        return f"""
{cte} AS (
  SELECT vec_id, embedding, cluster_id AS cluster FROM (
    SELECT e.vec_id, e.embedding, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos} DESC, c.cluster_id) AS rn
    FROM embeddings e CROSS JOIN {cents} c
  ) WHERE rn = 1
)"""

    def means(cte: str, src: str) -> str:
        cols = ", ".join(
            f"CAST(sum(CAST(embedding[{j + 1}] AS DECIMAL(28,8))) AS DOUBLE)"
            f" / count(*) AS c_{j}"
            for j in range(dim)
        )
        return f"""
{cte} AS (
  SELECT cluster AS cluster_id, count(*) AS n, {cols}
  FROM {src} GROUP BY cluster
)"""

    lst = "list_value(" + ", ".join(f"c_{j}" for j in range(dim)) + ")"
    return f"""
WITH c0 AS (
  SELECT vec_id AS cluster_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT {k}
),
{assign("a1", "c0")[1:]},
{means("m1", "a1")[1:]},
c1 AS (SELECT cluster_id, {lst} AS cvec FROM m1),
{assign("a2", "c1")[1:]},
{means("m2", "a2")[1:]}
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(n AS BIGINT) AS n_members,
       round(c_0, 6) AS c0, round(c_1, 6) AS c1
FROM m2
"""


SQL_KMEANS = _sql_kmeans()


def q_ann_pq(spark, sf_dir):
    """Product-quantization ADC top-k: per-subspace deterministic kmeans
    codebooks, literal dot-table lookup scan.  The oracle recomputes the
    ENTIRE pipeline — per-subspace Lloyd training (decimal-sum means),
    code assignment, and the query-to-centroid dot table — independently
    in SQL."""
    from full_lattice_search_spark.operators.similarity import ann_pq

    emb = _read(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    return ann_pq(emb, query, m=4, k_codebook=4, iterations=2, k=10)


def _sql_ann_pq(
    m: int = 4,
    k: int = 4,
    dim: int = 64,
    topk: int = 10,
    ivf: bool = False,
    n_centroids: int = 8,
    n_probe: int = 2,
    nq: int = 1,
    residual: bool = False,
    metric: str = "cosine",
    rerank: int = 0,
) -> str:
    """PQ ADC oracle; with ``ivf=True`` a coarse IVF layer (seed
    centroids, query probes its n_probe nearest) prunes the candidate
    set first — the independent recomputation of ``ann_ivfpq``.
    ``nq``: query batch size (the first nq vec_ids — mirrors
    ``ann_pq_many``); per-query top-k.  ``residual=True`` (implies ivf,
    nq=1): PQ codebooks train on (vec − coarse centroid) with metric
    'l2' and the estimate adds the per-cluster coarse dot FIRST
    (left-to-right sum order — float addition is not associative).
    ``metric='l2'``: codeword assignment by 2·v·c − ||c||² (argmin L2).
    ``rerank=N``: keep an N-deep ADC shortlist per query, then re-rank
    by EXACT cosine against raw embeddings (``ann_pq_rerank``)."""
    if residual and (not ivf or nq != 1):
        raise ValueError("residual oracle needs ivf=True, nq=1")
    if residual:
        metric = "l2"
    dsub = dim // m
    ctes = []

    def assign(cte: str, src: str, cents: str, safe: bool = False) -> str:
        if metric == "l2":
            # argmin ||v-c||^2 == argmax 2 v·c − ||c||² — mirrors the
            # engine's l2_score_col (||c||² folded left-to-right)
            dot = (
                "list_sum(list_transform(list_zip(e.sv, c.cvec), "
                "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
            )
            csq = (
                "list_sum(list_transform(c.cvec, "
                "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
            )
            score = f"2.0 * ({dot}) - ({csq})"
        else:
            score = _SQL_COS.format(a="e.sv", b="c.cvec")
            if safe:
                # zero-vector guard mirroring the engine's safe_cosine_col
                norm = (
                    "sqrt(list_sum(list_transform({a}, "
                    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
                )
                score = (
                    f"CASE WHEN ({norm.format(a='e.sv')}) * "
                    f"({norm.format(a='c.cvec')}) = 0 THEN 0.0 "
                    f"ELSE {score} END"
                )
        return f"""{cte} AS (
  SELECT vec_id, sv, cluster_id AS cluster FROM (
    SELECT e.vec_id, e.sv, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {score} DESC, c.cluster_id) AS rn
    FROM {src} e CROSS JOIN {cents} c
  ) WHERE rn = 1
)"""

    def means(cte: str, src: str) -> str:
        cols = ", ".join(
            f"CAST(sum(CAST(sv[{j + 1}] AS DECIMAL(28,8))) AS DOUBLE)"
            f" / count(*) AS c_{j}"
            for j in range(dsub)
        )
        return f"""{cte} AS (
  SELECT cluster AS cluster_id, {cols} FROM {src} GROUP BY cluster
)"""

    ivf_ctes = ""
    cand_join = ""
    if ivf:
        cos_ac = _SQL_COS.format(a="e.embedding", b="c.cvec")
        cos_qc = _SQL_COS.format(a="qv.qvec", b="c.cvec")
        resid_cte = ""
        if residual:
            # MATERIALIZED: resid feeds every subspace's training chain —
            # inlined, the coarse window would be re-planned ~4m times and
            # DuckDB's optimizer blows up
            resid_cte = """
resid AS MATERIALIZED (
  SELECT e.vec_id, coarse.cluster,
         list_transform(list_zip(e.embedding, c.cvec),
           p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS rv
  FROM embeddings e
  JOIN coarse ON coarse.vec_id = e.vec_id
  JOIN cents c ON c.cluster_id = coarse.cluster
),
cdot AS (
  SELECT c.cluster_id,
         list_sum(list_transform(list_zip(qv.qvec, c.cvec),
           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot
  FROM cents c CROSS JOIN qv
),"""
        ivf_ctes = f"""
cents AS MATERIALIZED (SELECT vec_id AS cluster_id, embedding AS cvec
          FROM embeddings ORDER BY vec_id LIMIT {n_centroids}),
coarse AS MATERIALIZED (
  SELECT vec_id, cluster_id AS cluster FROM (
    SELECT e.vec_id, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos_ac} DESC, c.cluster_id) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
qv AS (SELECT vec_id AS query_id, embedding AS qvec
       FROM embeddings ORDER BY vec_id LIMIT 1),
probes AS (
  SELECT cluster_id AS cluster FROM (
    SELECT c.cluster_id,
           row_number() OVER (ORDER BY {cos_qc} DESC, c.cluster_id) AS rn
    FROM qv CROSS JOIN cents c
  ) WHERE rn <= {n_probe}
),
cand AS (
  SELECT coarse.vec_id FROM coarse JOIN probes
    ON probes.cluster = coarse.cluster
),{resid_cte}"""
        cand_join = "JOIN cand ON cand.vec_id = codes_0.vec_id"

    # subspace source: raw embeddings, or coarse residuals
    sub_src = (
        f"rv[{{a}}:{{b}}] AS sv FROM resid"
        if residual
        else f"embedding[{{a}}:{{b}}] AS sv FROM embeddings"
    )
    lst = "list_value(" + ", ".join(f"c_{j}" for j in range(dsub)) + ")"
    for s in range(m):
        a, b = s * dsub + 1, (s + 1) * dsub
        # MATERIALIZED throughout: each subspace chain re-references its
        # predecessors several times; inlined, DuckDB re-plans the nested
        # window/join trees combinatorially (observed: 127 s for the IVF
        # variant at sf0.001 vs ~2 s materialized)
        ctes += [
            f"sub{s} AS MATERIALIZED (SELECT vec_id, "
            + sub_src.format(a=a, b=b)
            + ")",
        ]
        train = f"sub{s}"
        if residual:
            # zero subvectors carry no direction: excluded from training
            # (seeds + Lloyd), still encoded below — engine mirror:
            # pq_train(zero_safe=True)
            ctes += [
                f"train{s} AS (SELECT * FROM sub{s} WHERE "
                f"list_sum(list_transform(sv, "
                f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0)",
            ]
            train = f"train{s}"
        ctes += [
            f"c0_{s} AS (SELECT vec_id AS cluster_id, sv AS cvec "
            f"FROM {train} ORDER BY vec_id LIMIT {k})",
            assign(f"a1_{s}", train, f"c0_{s}"),
            means(f"m1_{s}", f"a1_{s}"),
            f"c1_{s} AS (SELECT cluster_id, {lst} AS cvec FROM m1_{s})",
            assign(f"a2_{s}", train, f"c1_{s}"),
            means(f"m2_{s}", f"a2_{s}"),
            f"c2_{s} AS MATERIALIZED "
            f"(SELECT cluster_id, {lst} AS cvec FROM m2_{s})",
            assign(
                f"codes_{s}", f"sub{s}", f"c2_{s}", safe=residual
            ).replace(f"codes_{s} AS (", f"codes_{s} AS MATERIALIZED (", 1),
            f"""qdot_{s} AS (
  SELECT q.query_id, c.cluster_id,
         list_sum(list_transform(list_zip(q.sv, c.cvec),
           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot
  FROM c2_{s} c CROSS JOIN (
    SELECT vec_id AS query_id, embedding[{a}:{b}] AS sv FROM embeddings
    ORDER BY vec_id LIMIT {nq}
  ) q
)""",
        ]
    terms = [f"qd{s}.dot" for s in range(m)]
    if residual:
        terms = ["cdot.dot"] + terms
    est_sum = " + ".join(terms)
    joins = "\n  ".join(
        f"JOIN codes_{s} ON codes_{s}.vec_id = codes_0.vec_id"
        for s in range(1, m)
    )
    qd_joins = "\n  ".join(
        f"JOIN qdot_{s} qd{s} ON qd{s}.cluster_id = codes_{s}.cluster"
        f" AND qd{s}.query_id = q.query_id"
        for s in range(m)
    )
    resid_join = ""
    if residual:
        resid_join = (
            "JOIN coarse rc ON rc.vec_id = codes_0.vec_id\n  "
            "JOIN cdot ON cdot.cluster_id = rc.cluster"
        )
    if residual:
        cte_block = ivf_ctes.rstrip(",").strip() + ",\n" + ",\n".join(ctes)
        ivf_tail = ""
    else:
        cte_block = ",\n".join(ctes)
        ivf_tail = ivf_ctes
    head = f"""
WITH {cte_block},{ivf_tail}
q AS (SELECT vec_id AS query_id FROM embeddings
      ORDER BY vec_id LIMIT {nq}),
est AS (
  SELECT q.query_id, codes_0.vec_id, round({est_sum}, 4) AS est_dot
  FROM codes_0
  CROSS JOIN q
  {cand_join}
  {joins}
  {resid_join}
  {qd_joins}
  WHERE codes_0.vec_id <> q.query_id
)"""
    if not rerank:
        return f"""{head}
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(vec_id AS BIGINT) AS vec_id, est_dot, CAST(rn AS INT) AS rn
FROM (
  SELECT est.*,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY est_dot DESC, vec_id) AS rn
  FROM est
) t
WHERE rn <= {topk}
"""
    cos_exact = _SQL_COS.format(a="e.embedding", b="qq.embedding")
    return f"""{head},
short AS (
  SELECT query_id, vec_id FROM (
    SELECT est.*,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY est_dot DESC, vec_id) AS rn
    FROM est
  ) WHERE rn <= {rerank}
),
exact AS (
  SELECT s.query_id, s.vec_id, round({cos_exact}, 4) AS cosine
  FROM short s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN embeddings qq ON qq.vec_id = s.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(vec_id AS BIGINT) AS vec_id, cosine, CAST(rn AS INT) AS rn
FROM (
  SELECT exact.*,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rn
  FROM exact
) t
WHERE rn <= {topk}
"""


SQL_ANN_PQ = _sql_ann_pq()


def q_ann_ivfpq(spark, sf_dir):
    """IVF-PQ composite: coarse probe pruning + PQ ADC ranking — the
    production web-scale ANN shape; the oracle recomputes BOTH layers."""
    from full_lattice_search_spark.operators.similarity import ann_ivfpq

    emb = _read(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    return ann_ivfpq(
        emb, query, n_centroids=8, n_probe=2, m=4, k_codebook=4, k=10
    )


SQL_ANN_IVFPQ = _sql_ann_pq(ivf=True)


def q_ann_pq_many(spark, sf_dir):
    """Batch-query PQ serving surface: codebooks trained once, corpus
    encoded once, then THREE queries answered by literal ADC scans over
    the shared encoded frame (per-query TakeOrderedAndProject — no wide
    shuffle).  The oracle recomputes training + encoding + all three dot
    tables independently."""
    from full_lattice_search_spark.operators.similarity import (
        ann_pq_many,
        pq_encode,
        pq_train,
    )

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(3)
    books = pq_train(emb, m=4, k=4, iterations=2)
    encoded = pq_encode(emb, books)
    return ann_pq_many(encoded, queries, books, k=5)


SQL_ANN_PQ_MANY = _sql_ann_pq(nq=3, topk=5)


def q_ann_ivfpq_residual(spark, sf_dir):
    """Residual IVF-PQ (Jégou et al. refinement): PQ codebooks train on
    (vec − coarse centroid), the ADC estimate adds the per-cluster
    coarse dot first.  The oracle recomputes coarse assignment,
    residuals, per-subspace Lloyd on residuals, codes, and both dot
    terms entirely in SQL."""
    from full_lattice_search_spark.operators.similarity import ann_ivfpq

    emb = _read(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    return ann_ivfpq(
        emb, query, n_centroids=8, n_probe=2, m=4, k_codebook=4, k=10,
        residual=True,
    )


SQL_ANN_IVFPQ_RESIDUAL = _sql_ann_pq(ivf=True, residual=True)


def q_ann_pq_rerank(spark, sf_dir):
    """Two-stage retrieval (the production PQ shape): L2-metric ADC
    shortlist of 20 per query, then EXACT cosine re-rank of only those
    candidates — recall recovers to near-exact while the corpus scan
    still touches only m-byte codes.  The oracle recomputes training,
    codes, shortlists, and the exact re-rank independently."""
    from full_lattice_search_spark.operators.similarity import (
        ann_pq_rerank,
        pq_encode,
        pq_train,
    )

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(2)
    books = pq_train(emb, m=4, k=4, iterations=2, metric="l2")
    encoded = pq_encode(emb, books, metric="l2")
    return ann_pq_rerank(encoded, queries, books, emb, k=5, shortlist=20)


SQL_ANN_PQ_RERANK = _sql_ann_pq(nq=2, topk=5, metric="l2", rerank=20)


def q_ann_ivfpq_rerank(spark, sf_dir):
    """The full production three-stage retrieval: coarse probe prune
    (reads n_probe/n_centroids of the corpus) → PQ ADC shortlist (m-byte
    codes, no per-row float math) → exact cosine re-rank of only the 20
    shortlisted rows.  The oracle recomputes all three stages."""
    from full_lattice_search_spark.operators.similarity import ann_ivfpq

    emb = _read(spark, sf_dir, "embeddings")
    query = emb.orderBy("vec_id").limit(1)
    return ann_ivfpq(
        emb, query, n_centroids=8, n_probe=2, m=4, k_codebook=4, k=5,
        rerank=20,
    )


SQL_ANN_IVFPQ_RERANK = _sql_ann_pq(ivf=True, topk=5, rerank=20)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_lang_id(spark, sf_dir):
    return lang_id(_read(spark, sf_dir, "documents"))


def _sql_marker_count(markers: tuple[str, ...]) -> str:
    arr = ", ".join(f"'{m}'" for m in markers)
    return (
        f"len(list_filter(string_split(lower(text), ' '), "
        f"t -> list_contains([{arr}], t)))"
    )


def _sql_lang_id() -> str:
    from full_lattice_search_spark.functions.text import LANG_MARKERS

    langs = list(LANG_MARKERS)
    counts = ", ".join(
        f"{_sql_marker_count(m)} AS c_{lang}"
        for lang, m in LANG_MARKERS.items()
    )
    best = "greatest(" + ", ".join(f"c_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN c_{lang} = best THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH scored AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {counts}
                FROM documents),
withbest AS (SELECT *, {best} AS best FROM scored)
SELECT doc_id, {case} AS pred_lang, CAST(best AS BIGINT) AS marker_hits
FROM withbest
"""


SQL_LANG_ID = _sql_lang_id()


def q_quality(spark, sf_dir):
    return quality_features(_read(spark, sf_dir, "documents"))


def _sql_quality() -> str:
    from full_lattice_search_spark.functions.text import STOPWORDS

    sc = _sql_marker_count(STOPWORDS)
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         len(string_split(lower(text), ' ')) AS n,
         length(text) AS chars,
         {sc} AS stops
  FROM documents
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       round((chars - (n - 1)) / n, 4) AS mean_token_len,
       round(stops / n, 4) AS stopword_ratio,
       round(least(n / 100.0, 1.0) * 0.6 +
             0.4 * (1.0 - least(stops / n * 2, 1.0)), 4) AS quality
FROM base
"""


SQL_QUALITY = _sql_quality()


def q_token_counts(spark, sf_dir):
    return token_counts(_read(spark, sf_dir, "documents"))


SQL_TOKEN_COUNTS = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text,
            '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS bpe_tokens
FROM documents
"""


def q_fingerprints(spark, sf_dir):
    return fingerprints(_read(spark, sf_dir, "documents"))


SQL_FINGERPRINTS = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(lower(trim(text))) AS fp_full,
       md5(array_to_string(list_slice(string_split(lower(text), ' '), 1, 16),
                           ' ')) AS fp_head
FROM documents
"""


def q_dup_ngrams(spark, sf_dir):
    """Exact-substring duplication signal (Lee et al. training-data
    dedup): per-doc fraction of word 8-grams that occur >= 2 times
    corpus-wide."""
    from full_lattice_search_spark.functions.text import (
        duplicate_ngram_stats,
    )

    stats = duplicate_ngram_stats(_read(spark, sf_dir, "documents"), k=8)
    return stats.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        F.round("dup_ratio", 6).alias("dup_ratio"),
    )


_DUP_GRAMS_CTE = """
toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS gpos,
         md5(array_to_string(t[i:i+7], ' ')) AS h
  FROM (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
    FROM toks WHERE len(t) >= 8
  )
),
counts AS (
  SELECT h, count(*) AS n_occ FROM grams GROUP BY h
)
"""

SQL_DUP_NGRAMS = f"""
WITH {_DUP_GRAMS_CTE},
agg AS (
  SELECT grams.doc_id,
         count(*) AS n_grams,
         sum(CASE WHEN counts.n_occ >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM grams JOIN counts ON counts.h = grams.h
  GROUP BY grams.doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(agg.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(agg.n_dup, 0) AS BIGINT) AS n_dup_grams,
       round(CASE WHEN coalesce(agg.n_grams, 0) > 0
                  THEN CAST(agg.n_dup AS DOUBLE) / agg.n_grams
                  ELSE 0.0 END, 6) AS dup_ratio
FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
"""


def q_strip_dup_ngrams(spark, sf_dir):
    """The removal step of exact-substring dedup: drop every token
    covered by a corpus-duplicated 8-gram, rebuild the text in order."""
    from full_lattice_search_spark.functions.text import (
        strip_duplicate_ngrams,
    )

    return strip_duplicate_ngrams(_read(spark, sf_dir, "documents"), k=8)


SQL_STRIP_DUP_NGRAMS = f"""
WITH {_DUP_GRAMS_CTE},
covered AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT grams.doc_id,
           unnest(generate_series(grams.gpos, grams.gpos + 7)) AS pos
    FROM grams JOIN counts ON counts.h = grams.h
    WHERE counts.n_occ >= 2
  )
),
tokens AS (
  SELECT doc_id, t[i] AS tok, i - 1 AS pos
  FROM (
    SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks
  )
),
kept AS (
  SELECT tokens.doc_id, tokens.pos, tokens.tok
  FROM tokens LEFT JOIN covered
    ON covered.doc_id = tokens.doc_id AND covered.pos = tokens.pos
  WHERE covered.doc_id IS NULL
),
rebuilt AS (
  SELECT doc_id,
         count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       coalesce(rebuilt.clean_text, '') AS clean_text,
       CAST(len(string_split(lower(d.text), ' ')) AS BIGINT) AS n_tokens,
       CAST(coalesce(rebuilt.n_kept, 0) AS BIGINT) AS n_kept
FROM documents d LEFT JOIN rebuilt ON rebuilt.doc_id = d.doc_id
"""


def q_strip_dup_keep_first(spark, sf_dir):
    """Lee et al.-faithful removal: the EARLIEST occurrence (by
    (doc_id, position)) of each duplicated 8-gram survives, every other
    copy is cut — fully-boilerplate docs keep one canonical copy instead
    of coming back empty."""
    from full_lattice_search_spark.functions.text import (
        strip_duplicate_ngrams,
    )

    return strip_duplicate_ngrams(
        _read(spark, sf_dir, "documents"), k=8, keep_first=True
    )


SQL_STRIP_DUP_KEEP_FIRST = f"""
WITH {_DUP_GRAMS_CTE},
dupocc AS (
  SELECT grams.doc_id, grams.gpos,
         row_number() OVER (
           PARTITION BY grams.h ORDER BY grams.doc_id, grams.gpos
         ) AS rn
  FROM grams JOIN counts ON counts.h = grams.h
  WHERE counts.n_occ >= 2
),
covered AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT doc_id,
           unnest(generate_series(gpos, gpos + 7)) AS pos
    FROM dupocc WHERE rn > 1
  )
),
tokens AS (
  SELECT doc_id, t[i] AS tok, i - 1 AS pos
  FROM (
    SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks
  )
),
kept AS (
  SELECT tokens.doc_id, tokens.pos, tokens.tok
  FROM tokens LEFT JOIN covered
    ON covered.doc_id = tokens.doc_id AND covered.pos = tokens.pos
  WHERE covered.doc_id IS NULL
),
rebuilt AS (
  SELECT doc_id,
         count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       coalesce(rebuilt.clean_text, '') AS clean_text,
       CAST(len(string_split(lower(d.text), ' ')) AS BIGINT) AS n_tokens,
       CAST(coalesce(rebuilt.n_kept, 0) AS BIGINT) AS n_kept
FROM documents d LEFT JOIN rebuilt ON rebuilt.doc_id = d.doc_id
"""


def q_repetition(spark, sf_dir):
    """Gopher-style repetition filters over planted degenerate docs
    (every 3rd document's text doubled)."""
    from full_lattice_search_spark.functions.text import repetition_stats

    docs = _read(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    return repetition_stats(docs)


SQL_REPETITION = """
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || ' ' || text ELSE text END
           AS text
  FROM documents
),
base AS (SELECT doc_id, string_split(lower(text), ' ') AS xs FROM aug),
grams AS (
  SELECT doc_id,
         [array_to_string(list_slice(xs, i, i + 1), ' ')
          for i in generate_series(1, greatest(len(xs) - 1, 1))] AS g2,
         [array_to_string(list_slice(xs, i, i + 2), ' ')
          for i in generate_series(1, greatest(len(xs) - 2, 1))] AS g3,
         len(xs) AS n
  FROM base
),
mult AS (
  SELECT b.doc_id, max(cnt) AS top FROM (
    SELECT doc_id, t.tok, count(*) AS cnt
    FROM base, LATERAL (SELECT UNNEST(base.xs) AS tok) t
    GROUP BY doc_id, t.tok
  ) b GROUP BY b.doc_id
)
SELECT CAST(g.doc_id AS BIGINT) AS doc_id,
       round(1.0 - len(list_distinct(g2)) / len(g2), 4) AS frac_dup_2gram,
       round(1.0 - len(list_distinct(g3)) / len(g3), 4) AS frac_dup_3gram,
       round(m.top / g.n, 4) AS top_token_share
FROM grams g JOIN mult m ON m.doc_id = g.doc_id
"""


def q_redact_pii(spark, sf_dir):
    """PII scrub pass over planted emails/URLs (every 4th doc gets an
    email, every 6th a URL)."""
    from full_lattice_search_spark.functions.text import redact_pii

    docs = _read(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit(" contact me@example.com now")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 6 == 0, F.lit(" see https://ex.org/path ok")
            ).otherwise(F.lit("")),
        ),
    )
    return redact_pii(docs)


SQL_REDACT_PII = r"""
WITH aug AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 4 = 0 THEN ' contact me@example.com now'
              ELSE '' END ||
         CASE WHEN doc_id % 6 = 0 THEN ' see https://ex.org/path ok'
              ELSE '' END AS text
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       regexp_replace(
         regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         'https?://[^ ]+', '<URL>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT)
         AS n_urls
FROM aug
"""


def q_winnow(spark, sf_dir):
    """Rolling-hash document fingerprinting (winnowing): window-min
    selection over word 3-gram hashes, w=4."""
    from full_lattice_search_spark.functions.text import winnow_fingerprints

    return winnow_fingerprints(_read(spark, sf_dir, "documents"), k=3, w=4)


def _sql_winnow(k: int = 3, w: int = 4) -> str:
    return f"""
WITH base AS (
  SELECT doc_id, string_split(lower(text), ' ') AS xs FROM documents
),
grams AS (
  SELECT doc_id, g.i - 1 AS gpos,
         array_to_string(list_slice(xs, g.i, g.i + {k - 1}), ' ') AS gram
  FROM base,
  LATERAL (SELECT UNNEST(generate_series(1,
             greatest(len(xs) - {k - 1}, 1))) AS i) g
),
hx AS (SELECT doc_id, gpos, md5(gram) AS hh FROM grams),
hashed AS (
  SELECT doc_id, gpos, {hex_to_int_expr("hh", 1, 12, "strpos")} AS h FROM hx
),
winmin AS (
  SELECT doc_id, gpos,
         min(h) OVER (PARTITION BY doc_id ORDER BY gpos
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS mh,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM hashed
),
picked AS (
  SELECT DISTINCT doc_id, mh FROM winmin
  WHERE gpos <= n - {w} OR (n < {w} AND gpos = 0)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       string_agg(CAST(mh AS VARCHAR), '|' ORDER BY mh) AS fp,
       CAST(count(*) AS BIGINT) AS n_fp
FROM picked GROUP BY doc_id
"""


SQL_WINNOW = _sql_winnow()


# ---------------------------------------------------------------------------
# multimodal stub
# ---------------------------------------------------------------------------


def q_media_features(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            "array(named_struct('kind', 'image', 'text', cast(null as string),"
            " 'media_ref', concat('media://img/', cast(doc_id as string)),"
            " 'offset', 0))"
        ).alias("spans"),
    )
    feats = media_features(docs)
    cols = [
        F.col("features")[j].cast("long").alias(f"f{j}") for j in range(8)
    ]
    return feats.select(F.col("doc_id").cast("long").alias("doc_id"), *cols)


def q_media_wav_features(spark, sf_dir):
    """The NON-STUB media path: a real RIFF/PCM parse (functions/wav.py)
    through the decoder registry with use_stub=False — the engine only
    matches the oracle by correctly walking the RIFF chunk stream and
    decoding int16 PCM, while the oracle predicts the same features in
    closed form from the synthesized waveform's md5-digit parameters."""
    from full_lattice_search_spark.functions.wav import wav_feature_decoder
    from full_lattice_search_spark.operators.multimodal import (
        register_feature_decoder,
        unregister_feature_decoder,
    )

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            "array(named_struct('kind', 'audio', 'text', cast(null as string),"
            " 'media_ref', concat('media://wav/', cast(doc_id as string)),"
            " 'offset', 0))"
        ).alias("spans"),
    )
    register_feature_decoder("audio", wav_feature_decoder)
    try:
        feats = media_features(docs, use_stub=False)
    finally:
        unregister_feature_decoder("audio")
    names = [
        "rate", "channels", "bits", "n_samples",
        "first_s", "last_s", "max_s", "min_s",
    ]
    return feats.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[
            F.col("features")[j].cast("long").alias(names[j])
            for j in range(8)
        ],
    )


_WAV_DIG = (
    "(strpos('0123456789abcdef', substr(md5('media://wav/' || "
    "CAST(doc_id AS VARCHAR)), {k}, 1)) - 1)"
)

SQL_MEDIA_WAV_FEATURES = f"""
WITH p AS (
  SELECT doc_id,
         {_WAV_DIG.format(k=1)} AS d0,
         {_WAV_DIG.format(k=2)} AS d1,
         {_WAV_DIG.format(k=3)} AS d2,
         {_WAV_DIG.format(k=4)} AS d3
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(8000 + 500 * d0 AS BIGINT) AS rate,
       CAST(1 AS BIGINT) AS channels,
       CAST(16 AS BIGINT) AS bits,
       CAST(64 + 8 * d1 AS BIGINT) AS n_samples,
       CAST(256 * (d2 + 1) AS BIGINT) AS first_s,
       CAST(CASE WHEN ((64 + 8 * d1 - 1) // (4 + d3)) % 2 = 0
                 THEN 256 * (d2 + 1) ELSE -256 * (d2 + 1) END
            AS BIGINT) AS last_s,
       CAST(256 * (d2 + 1) AS BIGINT) AS max_s,
       CAST(-256 * (d2 + 1) AS BIGINT) AS min_s
FROM p
"""


def q_media_ppm_features(spark, sf_dir):
    """The NON-STUB image path: a real P6 PPM parse (functions/ppm.py)
    through the decoder registry with use_stub=False — the engine only
    matches the oracle by tokenizing the comment-bearing header and
    decoding the RGB raster, while the oracle predicts the same features
    in closed form from the synthesized image's md5-digit parameters."""
    from full_lattice_search_spark.functions.ppm import ppm_feature_decoder
    from full_lattice_search_spark.operators.multimodal import (
        register_feature_decoder,
        unregister_feature_decoder,
    )

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            "array(named_struct('kind', 'image', 'text', cast(null as string),"
            " 'media_ref', concat('media://img/', cast(doc_id as string)),"
            " 'offset', 0))"
        ).alias("spans"),
    )
    register_feature_decoder("image", ppm_feature_decoder)
    try:
        feats = media_features(docs, use_stub=False)
    finally:
        unregister_feature_decoder("image")
    names = [
        "width", "height", "maxval", "n_values",
        "first_v", "last_v", "max_v", "min_v",
    ]
    return feats.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[
            F.col("features")[j].cast("long").alias(names[j])
            for j in range(8)
        ],
    )


_PPM_DIG = (
    "(strpos('0123456789abcdef', substr(md5('media://img/' || "
    "CAST(doc_id AS VARCHAR)), {k}, 1)) - 1)"
)

_PPM_PARAMS_CTE = f"""
p AS (
  SELECT doc_id,
         4 + {_PPM_DIG.format(k=1)} AS w,
         4 + {_PPM_DIG.format(k=2)} AS h,
         16 * {_PPM_DIG.format(k=3)} + {_PPM_DIG.format(k=4)} AS base
  FROM documents
)
"""

SQL_MEDIA_PPM_FEATURES = f"""
WITH {_PPM_PARAMS_CTE},
vals AS (
  SELECT p.doc_id, p.w, p.h, p.base,
         (p.base + 7 * x.i + 13 * y.i + 29 * c.i) % 256 AS v
  FROM p,
       LATERAL (SELECT UNNEST(generate_series(0, p.w - 1)) AS i) x,
       LATERAL (SELECT UNNEST(generate_series(0, p.h - 1)) AS i) y,
       LATERAL (SELECT UNNEST(generate_series(0, 2)) AS i) c
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(255 AS BIGINT) AS maxval,
       CAST(w * h * 3 AS BIGINT) AS n_values,
       CAST(base % 256 AS BIGINT) AS first_v,
       CAST((base + 7 * (w - 1) + 13 * (h - 1) + 58) % 256 AS BIGINT)
         AS last_v,
       CAST(max(v) AS BIGINT) AS max_v,
       CAST(min(v) AS BIGINT) AS min_v
FROM vals
GROUP BY doc_id, w, h, base
"""


SQL_MEDIA_FEATURES = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
""" + ",\n".join(
    f"       CAST(strpos('0123456789abcdef', substr(md5('media://img/' || "
    f"CAST(doc_id AS VARCHAR)), {j + 1}, 1)) - 1 AS BIGINT) AS f{j}"
    for j in range(8)
) + """
FROM documents
"""


def q_media_frames(spark, sf_dir):
    """Video frame sampling plumbing (flatMap-shaped mapInPandas; frame
    count stubbed deterministically — no video libs in this sandbox)."""
    from full_lattice_search_spark.operators.multimodal import frame_sample

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            "array(named_struct('kind', 'video', 'text', cast(null as string),"
            " 'media_ref', concat('media://vid/', cast(doc_id as string)),"
            " 'offset', 0))"
        ).alias("spans"),
    )
    frames = frame_sample(docs, every_n=4)
    return frames.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "frame_ref",
    )


SQL_MEDIA_FRAMES = """
WITH vids AS (
  SELECT doc_id, 'media://vid/' || CAST(doc_id AS VARCHAR) AS ref
  FROM documents
),
counted AS (
  SELECT doc_id, ref,
         2 + (strpos('0123456789abcdef', substr(md5(ref), 1, 1)) - 1) AS n
  FROM vids
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(f.i AS BIGINT) AS frame_idx,
       ref || '#f' || CAST(f.i AS VARCHAR) AS frame_ref
FROM counted c, LATERAL (SELECT UNNEST(generate_series(0, c.n - 1, 4)) AS i) f
"""


def q_media_resize(spark, sf_dir):
    """Image resize plumbing: binary thumb column + typed metadata + a
    DuckDB-checkable checksum (pixel kernel stubbed deterministically)."""
    from full_lattice_search_spark.operators.multimodal import media_resize

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            "array(named_struct('kind', 'image', 'text', cast(null as string),"
            " 'media_ref', concat('media://img/', cast(doc_id as string)),"
            " 'offset', 0))"
        ).alias("spans"),
    )
    rs = media_resize(docs, width=16, height=16)
    return rs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.length("thumb").cast("long").alias("thumb_bytes"),
        "checksum",
    )


SQL_MEDIA_RESIZE = """
WITH base AS (
  SELECT doc_id,
         md5('media://img/' || CAST(doc_id AS VARCHAR) || '16x16') AS h
  FROM documents
)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
       CAST(16 AS BIGINT) AS width,
       CAST(16 AS BIGINT) AS height,
       CAST(768 AS BIGINT) AS thumb_bytes,
       CAST(sum(strpos('0123456789abcdef', substr(b.h, g.i, 1)) - 1)
            AS BIGINT) AS checksum
FROM base b, LATERAL (SELECT UNNEST(generate_series(1, 32)) AS i) g
GROUP BY b.doc_id
"""


def q_media_avi_features(spark, sf_dir):
    """The NON-STUB video path: a real RIFF/AVI container probe
    (functions/avi.py) through the decoder registry with use_stub=False —
    the engine only matches the oracle by walking the chunk stream
    (JUNK-skipping, nested LISTs, avih parse, movi frame count
    cross-check), while the oracle predicts the features in closed form
    from the synthesized container's md5-digit parameters."""
    from full_lattice_search_spark.functions.avi import avi_feature_decoder
    from full_lattice_search_spark.operators.multimodal import (
        register_feature_decoder,
        unregister_feature_decoder,
    )

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            "array(named_struct('kind', 'video', 'text', cast(null as string),"
            " 'media_ref', concat('media://vid/', cast(doc_id as string)),"
            " 'offset', 0))"
        ).alias("spans"),
    )
    register_feature_decoder("video", avi_feature_decoder)
    try:
        feats = media_features(docs, use_stub=False)
    finally:
        unregister_feature_decoder("video")
    names = [
        "n_frames", "width", "height", "us_per_frame",
        "n_chunks", "first_fb", "last_fb", "total_fb",
    ]
    return feats.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[
            F.col("features")[j].cast("long").alias(names[j])
            for j in range(8)
        ],
    )


_AVI_DIG = (
    "(strpos('0123456789abcdef', substr(md5('media://vid/' || "
    "CAST(doc_id AS VARCHAR)), {k}, 1)) - 1)"
)

SQL_MEDIA_AVI_FEATURES = f"""
WITH p AS (
  SELECT doc_id,
         2 + {_AVI_DIG.format(k=1)} + ({_AVI_DIG.format(k=2)} % 3) AS n,
         4 + {_AVI_DIG.format(k=2)} AS w,
         4 + {_AVI_DIG.format(k=3)} AS h,
         33366 + 100 * {_AVI_DIG.format(k=4)} AS uspf
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n AS BIGINT) AS n_frames,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(uspf AS BIGINT) AS us_per_frame,
       CAST(n AS BIGINT) AS n_chunks,
       CAST(w * h * 3 AS BIGINT) AS first_fb,
       CAST(w * h * 3 AS BIGINT) AS last_fb,
       CAST(n * w * h * 3 AS BIGINT) AS total_fb
FROM p
"""


def q_media_frames_real(spark, sf_dir):
    """frame_sample with a REAL container probe: the frame count comes
    from the movi chunk walk of fetched AVI bytes (cross-checked against
    the avih header), not the md5 stub — the synthesized count formula
    deliberately differs from the stub's, so only the real walk
    matches."""
    from full_lattice_search_spark.functions.avi import synth_avi_bytes
    from full_lattice_search_spark.operators.multimodal import frame_sample

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            "array(named_struct('kind', 'video', 'text', cast(null as string),"
            " 'media_ref', concat('media://vid/', cast(doc_id as string)),"
            " 'offset', 0))"
        ).alias("spans"),
    )
    frames = frame_sample(docs, every_n=4, fetch=synth_avi_bytes)
    return frames.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "frame_ref",
    )


SQL_MEDIA_FRAMES_REAL = f"""
WITH counted AS (
  SELECT doc_id, 'media://vid/' || CAST(doc_id AS VARCHAR) AS ref,
         2 + {_AVI_DIG.format(k=1)} + ({_AVI_DIG.format(k=2)} % 3) AS n
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(f.i AS BIGINT) AS frame_idx,
       ref || '#f' || CAST(f.i AS VARCHAR) AS frame_ref
FROM counted c, LATERAL (SELECT UNNEST(generate_series(0, c.n - 1, 4)) AS i) f
"""


def q_media_resize_real(spark, sf_dir):
    """Image resize with the REAL pixel path: P6 PPM decode + genuine
    nearest-neighbor resampling (functions/ppm.py), checksum = sum of the
    thumb's RGB bytes — the oracle recomputes every resampled pixel in
    closed form from the md5-digit image parameters, so the engine only
    matches by actually decoding and resampling what it fetched."""
    from full_lattice_search_spark.functions.ppm import synth_ppm_bytes
    from full_lattice_search_spark.operators.multimodal import media_resize

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            "array(named_struct('kind', 'image', 'text', cast(null as string),"
            " 'media_ref', concat('media://img/', cast(doc_id as string)),"
            " 'offset', 0))"
        ).alias("spans"),
    )
    rs = media_resize(docs, width=16, height=16, fetch=synth_ppm_bytes)
    return rs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.length("thumb").cast("long").alias("thumb_bytes"),
        "checksum",
    )


SQL_MEDIA_RESIZE_REAL = f"""
WITH {_PPM_PARAMS_CTE},
vals AS (
  SELECT p.doc_id,
         (p.base + 7 * ((tx.i * p.w) // 16)
                 + 13 * ((ty.i * p.h) // 16)
                 + 29 * c.i) % 256 AS v
  FROM p,
       LATERAL (SELECT UNNEST(generate_series(0, 15)) AS i) tx,
       LATERAL (SELECT UNNEST(generate_series(0, 15)) AS i) ty,
       LATERAL (SELECT UNNEST(generate_series(0, 2)) AS i) c
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(16 AS BIGINT) AS width,
       CAST(16 AS BIGINT) AS height,
       CAST(768 AS BIGINT) AS thumb_bytes,
       CAST(sum(v) AS BIGINT) AS checksum
FROM vals
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# relational breadth (engine sanity on the TPC-H-ish tables)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(d("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (d("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("sum_disc_price"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
         AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_suppliers(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    sup = _read(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("revenue")
        )
    )
    joined = rev.join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
    return _top_k(
        joined.select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            F.col("s_name").alias("s_name"),
            F.round("revenue", 4).alias("revenue"),
        ),
        10, "revenue", "s_suppkey",
    )


SQL_TOP_SUPPLIERS = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                  AS DECIMAL(18,4))) AS DOUBLE) AS revenue
  FROM lineitem GROUP BY l_suppkey
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       round(revenue, 4) AS revenue, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT s.s_suppkey, s.s_name, r.revenue,
         row_number() OVER (ORDER BY r.revenue DESC, s.s_suppkey) AS rn
  FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
) WHERE rn <= 10
"""


def q_events_running(spark, sf_dir):
    ev = _read(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        F.row_number().over(w).cast("long").alias("rn"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_value"),
    )


SQL_EVENTS_RUNNING = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       event_type,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(sum(CAST(value AS DECIMAL(18,6)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
FROM events
WHERE user_id < 50
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""




def q_curate_exact(spark, sf_dir):
    """End-to-end curation over the derived lattice corpus with planted
    exact duplicates: extract -> quality -> exact dedup keep-min."""
    from full_lattice_search_spark.operators.curate import curate_documents

    base = lattice_docs(spark, sf_dir)
    copies = base.filter(F.col("doc_id").cast("long") % 10 == 0).withColumn(
        "doc_id", F.concat(F.lit("dup-"), F.col("doc_id"))
    )
    docs = base.unionByName(copies)
    kept = curate_documents(
        docs, LatticeConfig(), min_quality=0.3, min_tokens=5, dedup="exact"
    )
    return kept.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "quality")


_CURATE_STOPS = None  # built below


def _sql_curate_exact() -> str:
    from full_lattice_search_spark.functions.text import STOPWORDS

    stop_arr = ", ".join(f"'{m}'" for m in STOPWORDS)
    return f"""
WITH {ORACLE_TOKENS_CTE},
ranked AS (
  SELECT doc_id, pos, tok_raw,
         row_number() OVER (PARTITION BY doc_id, pos
                            ORDER BY rank, score_i DESC, i) AS rn
  FROM lattice
),
best AS (
  SELECT doc_id, string_agg(tok_raw, ' ' ORDER BY pos) AS text
  FROM ranked WHERE rn = 1 GROUP BY doc_id
),
aug AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM best
  UNION ALL
  SELECT 'dup-' || doc_id AS doc_id, text FROM best
  WHERE CAST(doc_id AS BIGINT) % 10 = 0
),
scored AS (
  SELECT doc_id, text,
         len(string_split(lower(text), ' ')) AS n,
         len(list_filter(string_split(lower(text), ' '),
             t -> list_contains([{stop_arr}], t))) AS stops
  FROM aug
),
q AS (
  SELECT doc_id, text, n,
         round(least(n / 100.0, 1.0) * 0.6 +
               0.4 * (1.0 - least(stops / n * 2, 1.0)), 4) AS quality
  FROM scored
),
kept AS (
  SELECT * FROM q WHERE quality >= 0.3 AND n >= 5 AND text <> ''
),
reps AS (
  SELECT md5(lower(trim(text))) AS h, min(doc_id) AS keep_id
  FROM kept GROUP BY 1
)
SELECT k.doc_id, CAST(k.n AS BIGINT) AS n_tokens, k.quality
FROM kept k JOIN reps r ON md5(lower(trim(k.text))) = r.h
WHERE k.doc_id = r.keep_id
"""


SQL_CURATE_EXACT = _sql_curate_exact()


def q_curate_minhash(spark, sf_dir):
    """End-to-end curation with MINHASH dedup over the derived lattice
    corpus: every 10th document gets a planted NEAR-duplicate (its lattice
    rebuilt from the first 21 words instead of 24, so the extracted
    best-path text is a high-jaccard prefix).  Exercises extract → quality
    → minhash signatures → LSH banding → greedy drop in one plan."""
    from full_lattice_search_spark.operators.curate import curate_documents

    base = lattice_docs(spark, sf_dir)
    near = lattice_docs(spark, sf_dir, n_tokens=21).filter(
        F.col("doc_id").cast("long") % 10 == 0
    ).withColumn("doc_id", F.concat(F.lit("dup-"), F.col("doc_id")))
    docs = base.unionByName(near)
    kept = curate_documents(
        docs, LatticeConfig(), min_quality=0.3, min_tokens=5, dedup="minhash"
    )
    return kept.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "quality"
    )


def _sql_curate_minhash() -> str:
    from full_lattice_search_spark.functions.text import STOPWORDS
    from full_lattice_search_spark.plans.lattice_view import oracle_tokens_cte

    stop_arr = ", ".join(f"'{m}'" for m in STOPWORDS)

    def best(sfx: str, lat: str) -> str:
        return f"""
ranked{sfx} AS (
  SELECT doc_id, pos, tok_raw,
         row_number() OVER (PARTITION BY doc_id, pos
                            ORDER BY rank, score_i DESC, i) AS rn
  FROM {lat}
),
best{sfx} AS (
  SELECT doc_id, string_agg(tok_raw, ' ' ORDER BY pos) AS text
  FROM ranked{sfx} WHERE rn = 1 GROUP BY doc_id
)"""

    mins = ", ".join(
        f"min({v}) AS m{j}" for j, v in enumerate(_MH_VALS)
    )
    band_rows = []
    for b in range(4):
        key = " || '|' || ".join(
            f"CAST(m{4 * b + r} AS VARCHAR)" for r in range(4)
        )
        band_rows.append(
            f"SELECT doc_id, {b} AS band_idx, md5({key}) AS band_key FROM mh"
        )
    bands_sql = " UNION ALL ".join(band_rows)

    return f"""
WITH {oracle_tokens_cte(24, "toks24", "lat24")[1:]},
{oracle_tokens_cte(21, "toks21", "lat21")[1:]},
{best("24", "lat24")[1:]},
{best("21", "lat21")[1:]},
aug AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM best24
  UNION ALL
  SELECT 'dup-' || doc_id AS doc_id, text FROM best21
  WHERE CAST(doc_id AS BIGINT) % 10 = 0
),
scored AS (
  SELECT doc_id, text,
         len(string_split(lower(text), ' ')) AS n,
         len(list_filter(string_split(lower(text), ' '),
             t -> list_contains([{stop_arr}], t))) AS stops
  FROM aug
),
q AS (
  SELECT doc_id, text, n,
         round(least(n / 100.0, 1.0) * 0.6 +
               0.4 * (1.0 - least(stops / n * 2, 1.0)), 4) AS quality
  FROM scored
),
kept AS (
  SELECT * FROM q WHERE quality >= 0.3 AND n >= 5 AND text <> ''
),
ktoks AS (
  SELECT doc_id, i - 1 AS i, ts.tok FROM (
    SELECT doc_id, string_split(lower(text), ' ') AS xs FROM kept) d,
  LATERAL (SELECT UNNEST(d.xs) AS tok, generate_subscripts(d.xs, 1) AS i) ts
),
sh AS (
  SELECT DISTINCT t1.doc_id,
         t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
  FROM ktoks t1
  JOIN ktoks t2 ON t2.doc_id = t1.doc_id AND t2.i = t1.i + 1
  JOIN ktoks t3 ON t3.doc_id = t1.doc_id AND t3.i = t1.i + 2
),
hx AS (SELECT doc_id, md5(sh) AS h FROM sh),
hh AS (
  SELECT doc_id,
         {hex_to_int_expr("h", 1, 12, "strpos")} AS h1,
         {hex_to_int_expr("h", 13, 12, "strpos")} AS h2
  FROM hx
),
mh AS (SELECT doc_id, {mins} FROM hh GROUP BY doc_id),
bands AS ({bands_sql}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM cand)
SELECT k.doc_id, CAST(k.n AS BIGINT) AS n_tokens, k.quality
FROM kept k LEFT JOIN dropped d ON d.doc_id = k.doc_id
WHERE d.doc_id IS NULL
"""


SQL_CURATE_MINHASH = _sql_curate_minhash()


def q_simhash_dup_groups(spark, sf_dir):
    """SimHash used for dedup: signature groups with >= 2 members over a
    corpus with planted exact duplicates (same text → same 32-bit sig)."""
    sigs = simhash_signature(_docs_with_exact_dups(spark, sf_dir))
    return (
        sigs.groupBy("simhash")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


SQL_SIMHASH_DUP_GROUPS = f"""
WITH {_EXACT_DUP_SQL[1:]},
toks AS (
  SELECT doc_id, md5(ts.tok) AS h FROM (
    SELECT doc_id, string_split(lower(text), ' ') AS xs FROM aug) d,
  LATERAL (SELECT UNNEST(d.xs) AS tok) ts
),
bits AS (
  SELECT doc_id, bi.i AS i,
         sum(CASE WHEN strpos('13579bdf', substr(h, bi.i + 1, 1)) > 0
                  THEN 1 ELSE -1 END) AS s
  FROM toks, LATERAL (SELECT UNNEST(generate_series(0, 31)) AS i) bi
  GROUP BY doc_id, bi.i
),
sig AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY i)
           AS simhash
  FROM bits GROUP BY doc_id
)
SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keep_id
FROM sig GROUP BY simhash HAVING count(*) >= 2
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "tokenize_posinc": q_tokenize_posinc,
    "tokenize_buckets": q_tokenize_buckets,
    "tokenize_audio": q_tokenize_audio,
    "match_buckets_score": q_match_buckets_score,
    "match_unordered_2": q_match_unordered_2,
    "match_phrase_prefix": q_match_phrase_prefix,
    "bm25": q_bm25,
    "events_sessionize": q_events_sessionize,
    "lineitem_cube": q_lineitem_cube,
    "curate_exact": q_curate_exact,
    "curate_minhash": q_curate_minhash,
    "simhash_dup_groups": q_simhash_dup_groups,
    "events_tumbling": q_events_tumbling,
    "extract_boilerplate": q_extract_boilerplate,
    "pdf_extract": q_pdf_extract,
    "match_ordered_2": q_match_ordered_2,
    "match_indexed_2": q_match_indexed_2,
    "match_ordered_3": q_match_ordered_3,
    "match_score_single": q_match_score_single,
    "match_topk": q_match_topk,
    "match_unordered_3": q_match_unordered_3,
    "match_payload_max": q_match_payload_max,
    "match_payload_min": q_match_payload_min,
    "match_span_score": q_match_span_score,
    "match_boosted": q_match_boosted,
    "match_audio_seconds": q_match_audio_seconds,
    "match_null_payload": q_match_null_payload,
    "match_snippets": q_match_snippets,
    "match_many": q_match_many,
    "match_zero_terms_all": q_match_zero_terms_all,
    "match_exists": q_match_exists,
    "extract_best_path": q_extract_best_path,
    "prefix_match": q_prefix_match,
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash": q_simhash,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "embedding_dup_pairs": q_embedding_dup_pairs,
    "ann_bruteforce": q_ann_bruteforce,
    "ann_lsh": q_ann_lsh,
    "ann_multiprobe": q_ann_multiprobe,
    "ann_ivf": q_ann_ivf,
    "kmeans": q_kmeans,
    "lang_id": q_lang_id,
    "quality": q_quality,
    "token_counts": q_token_counts,
    "fingerprints": q_fingerprints,
    "winnow_fingerprints": q_winnow,
    "repetition_stats": q_repetition,
    "redact_pii": q_redact_pii,
    "media_features": q_media_features,
    "media_frames": q_media_frames,
    "media_resize": q_media_resize,
    "pricing_summary": q_pricing_summary,
    "top_suppliers": q_top_suppliers,
    "events_running": q_events_running,
    "ann_lsh_hyperplane": q_ann_lsh_hyperplane,
    "tokenize_follow_on": q_tokenize_follow_on,
    "match_lucene_sim": q_match_lucene_sim,
    "dedup_groups": q_dedup_groups,
    "media_wav_features": q_media_wav_features,
    "media_ppm_features": q_media_ppm_features,
    "media_resize_real": q_media_resize_real,
    "media_avi_features": q_media_avi_features,
    "media_frames_real": q_media_frames_real,
    "match_multi_phrase": q_match_multi_phrase,
    "match_lucene_prefix": q_match_lucene_prefix,
    "match_lucene_prefix_indexed": q_match_lucene_prefix_indexed,
    "dup_ngrams": q_dup_ngrams,
    "strip_dup_ngrams": q_strip_dup_ngrams,
    "strip_dup_keep_first": q_strip_dup_keep_first,
    "ann_pq": q_ann_pq,
    "match_many_multi": q_match_many_multi,
    "ann_ivfpq": q_ann_ivfpq,
    "ann_pq_many": q_ann_pq_many,
    "ann_ivfpq_residual": q_ann_ivfpq_residual,
    "ann_pq_rerank": q_ann_pq_rerank,
    "ann_ivfpq_rerank": q_ann_ivfpq_rerank,
}

ORACLES = {
    "tokenize_posinc": SQL_TOKENIZE_POSINC,
    "tokenize_buckets": SQL_TOKENIZE_BUCKETS,
    "tokenize_audio": SQL_TOKENIZE_AUDIO,
    "match_buckets_score": SQL_MATCH_BUCKETS_SCORE,
    "match_unordered_2": SQL_MATCH_UNORDERED_2,
    "match_phrase_prefix": SQL_MATCH_PHRASE_PREFIX,
    "bm25": SQL_BM25,
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "lineitem_cube": SQL_LINEITEM_CUBE,
    "curate_exact": SQL_CURATE_EXACT,
    "curate_minhash": SQL_CURATE_MINHASH,
    "simhash_dup_groups": SQL_SIMHASH_DUP_GROUPS,
    "events_tumbling": SQL_EVENTS_TUMBLING,
    "extract_boilerplate": SQL_EXTRACT_BOILERPLATE,
    "pdf_extract": SQL_PDF_EXTRACT,
    "match_ordered_2": SQL_MATCH_ORDERED_2,
    "match_indexed_2": SQL_MATCH_ORDERED_2,
    "match_ordered_3": SQL_MATCH_ORDERED_3,
    "match_score_single": SQL_MATCH_SCORE_SINGLE,
    "match_topk": SQL_MATCH_TOPK,
    "match_unordered_3": SQL_MATCH_UNORDERED_3,
    "match_payload_max": SQL_MATCH_PAYLOAD_MAX,
    "match_payload_min": SQL_MATCH_PAYLOAD_MIN,
    "match_span_score": SQL_MATCH_SPAN_SCORE,
    "match_boosted": SQL_MATCH_BOOSTED,
    "match_audio_seconds": SQL_MATCH_AUDIO_SECONDS,
    "match_null_payload": SQL_MATCH_NULL_PAYLOAD,
    "match_snippets": SQL_MATCH_SNIPPETS,
    "match_many": SQL_MATCH_MANY,
    "match_zero_terms_all": SQL_MATCH_ZERO_TERMS_ALL,
    "match_exists": SQL_MATCH_EXISTS,
    "extract_best_path": SQL_EXTRACT_BEST_PATH,
    "prefix_match": SQL_PREFIX_MATCH,
    "dedup_exact": SQL_DEDUP_EXACT,
    "minhash_signatures": SQL_MINHASH_SIGNATURES,
    "minhash_lsh_pairs": SQL_MINHASH_LSH_PAIRS,
    "simhash": SQL_SIMHASH,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "embedding_dup_pairs": SQL_EMBEDDING_DUP_PAIRS,
    "ann_bruteforce": SQL_ANN_BRUTEFORCE,
    "ann_lsh": SQL_ANN_LSH,
    "ann_multiprobe": SQL_ANN_MULTIPROBE,
    "ann_ivf": SQL_ANN_IVF,
    "kmeans": SQL_KMEANS,
    "lang_id": SQL_LANG_ID,
    "quality": SQL_QUALITY,
    "token_counts": SQL_TOKEN_COUNTS,
    "fingerprints": SQL_FINGERPRINTS,
    "winnow_fingerprints": SQL_WINNOW,
    "repetition_stats": SQL_REPETITION,
    "redact_pii": SQL_REDACT_PII,
    "media_features": SQL_MEDIA_FEATURES,
    "media_frames": SQL_MEDIA_FRAMES,
    "media_resize": SQL_MEDIA_RESIZE,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "top_suppliers": SQL_TOP_SUPPLIERS,
    "events_running": SQL_EVENTS_RUNNING,
    "ann_lsh_hyperplane": SQL_ANN_LSH_HYPERPLANE,
    "tokenize_follow_on": SQL_TOKENIZE_FOLLOW_ON,
    "match_lucene_sim": SQL_MATCH_LUCENE_SIM,
    "dedup_groups": SQL_DEDUP_GROUPS,
    "media_wav_features": SQL_MEDIA_WAV_FEATURES,
    "media_ppm_features": SQL_MEDIA_PPM_FEATURES,
    "media_resize_real": SQL_MEDIA_RESIZE_REAL,
    "media_avi_features": SQL_MEDIA_AVI_FEATURES,
    "media_frames_real": SQL_MEDIA_FRAMES_REAL,
    "match_multi_phrase": SQL_MATCH_MULTI_PHRASE,
    "match_lucene_prefix": SQL_MATCH_LUCENE_PREFIX,
    "match_lucene_prefix_indexed": SQL_MATCH_LUCENE_PREFIX,
    "dup_ngrams": SQL_DUP_NGRAMS,
    "strip_dup_ngrams": SQL_STRIP_DUP_NGRAMS,
    "strip_dup_keep_first": SQL_STRIP_DUP_KEEP_FIRST,
    "ann_pq": SQL_ANN_PQ,
    "match_many_multi": SQL_MATCH_MANY_MULTI,
    "ann_ivfpq": SQL_ANN_IVFPQ,
    "ann_pq_many": SQL_ANN_PQ_MANY,
    "ann_ivfpq_residual": SQL_ANN_IVFPQ_RESIDUAL,
    "ann_pq_rerank": SQL_ANN_PQ_RERANK,
    "ann_ivfpq_rerank": SQL_ANN_IVFPQ_RERANK,
}
