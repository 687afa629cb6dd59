"""Materialized token index — the engine's analog of the inverted index.

The reference rides on Lucene postings: a term query touches only that
term's postings list.  The Spark-native equivalent is one flat parquet
table of postings *sorted by* ``(token, doc_id)``.  Parquet keeps min/max
statistics for every row group and, in its column index, for every page
(at most 20,000 rows); the sort makes those token ranges narrow and
disjoint, so a pushed ``token IN (...)`` or ``startswith`` filter skips
every row group and page that cannot hold a query term, and a lookup
reads about as many rows as the term has postings however large the index
grows.  No bucket ids to resolve, no partition directories to list and no
caller-side knob that must match the writer.

Layout note: on a real deployment this is an Iceberg table with a
``token`` sort order; Iceberg's per-file column bounds prune files the
way the parquet footers prune row groups here.  Reads pass explicit
schemas, so planning an indexed query launches no listing or
schema-inference job.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_lattice_search_spark.config import LatticeConfig, MatchLatticeParams
from full_lattice_search_spark.functions.tokenizer import lattice_tokenize
from full_lattice_search_spark.operators.match import match_lattice_tokens
from full_lattice_search_spark.schema import TOKENS_SCHEMA

# ``{path}_doclen``, as write_token_index aggregates it.
_DOCLEN_SCHEMA = "doc_id STRING, dl BIGINT, dl_norm BIGINT"


def write_token_index(
    docs: DataFrame,
    path: str,
    config: LatticeConfig | None = None,
) -> None:
    """Tokenize the corpus and persist the postings sorted by
    ``(token, doc_id)`` — one range-partitioned, flat parquet directory
    whose row groups cover disjoint token ranges.  The write is a full
    overwrite; with no partition columns the session's
    ``partitionOverwriteMode`` does not apply.

    Also persists ``{path}_doclen`` (the index-statistics analog — Lucene
    keeps norms at index time): per-document lengths, so queries with
    ``include_span_score`` read BM25 stats from it instead of re-scanning
    the postings.  It carries both ``dl`` (full token count — avgdl's
    basis) and ``dl_norm`` (overlap-discounted count, what a Lucene norm
    stores), so both similarity flavors work over the index.  Document
    frequencies need no table: the candidate filter keeps every document
    holding a query term, and the composer counts them from its stats.

    The corpus is tokenized once: the postings write fills a persisted
    token frame, the doclen table aggregates that frame, and it is
    released before the call returns, also when a write raises.  The
    postings are never read back."""
    tokens = lattice_tokenize(docs, config or LatticeConfig()).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        tokens.orderBy("token", "doc_id").write.mode("overwrite").parquet(path)
        (
            tokens.groupBy("doc_id")
            .agg(
                F.count("*").alias("dl"),
                F.sum((F.col("pos_inc") > 0).cast("long")).alias("dl_norm"),
            )
            .write.mode("overwrite")
            .parquet(f"{path}_doclen")
        )
    finally:
        tokens.unpersist()


def match_lattice_indexed(
    spark: SparkSession,
    index_path: str,
    query: str,
    config: LatticeConfig | None = None,
    params: MatchLatticeParams | None = None,
    top_k: int | None = None,
    phrase_prefix: bool = False,
    dtype: type | None = None,
) -> DataFrame:
    """match_lattice over the materialized index: the candidate filter
    (``token IN terms``, plus ``startswith`` for ``phrase_prefix``) is
    pushed into the postings scan, where the row-group statistics skip
    every row group outside the query's token ranges, then the span DP.
    Planning launches no Spark job (Lucene similarity excepted: its
    corpus constants are collected while composing).

    An index without ``dl_norm`` in its doclen table (written before that
    column existed) fails a ``similarity='lucene'`` query with a rebuild
    message rather than scoring NULL."""
    params = params or MatchLatticeParams()
    tokens = spark.read.schema(TOKENS_SCHEMA).parquet(index_path)
    doclen = None
    if params.include_span_score:
        doclen = spark.read.schema(_DOCLEN_SCHEMA).parquet(
            f"{index_path}_doclen"
        ).selectExpr(
            "doc_id", "dl",
            "coalesce(dl_norm, raise_error('the token index has no dl_norm "
            "column; rebuild the token index with write_token_index')) "
            "AS dl_norm",
        )
    kw = {} if dtype is None else {"dtype": dtype}
    return match_lattice_tokens(
        tokens, query, config, params, top_k=top_k, doclen=doclen,
        phrase_prefix=phrase_prefix, **kw,
    )
