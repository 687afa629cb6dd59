"""Materialized token index — the engine's analog of the inverted index.

The reference rides on Lucene postings: a term query touches only that
term's postings list.  The Spark-native equivalent is a token table
*partitioned by a hash bucket of the token*: a `match_lattice` over the
index resolves its query terms to bucket ids at plan time, so the scan
prunes to |terms| partitions out of ``n_token_buckets`` — at 100 TB the
difference between reading everything and reading ~1/256 of the index per
term.  Within a bucket, `token IN (...)` still pushes into parquet
row-group stats.

Layout note: on a real deployment this is an Iceberg table with
``bucket(n, token)`` partition transform plus a secondary sort on
``(doc_id, abs_pos)``; plain parquet `partitionBy` reproduces the pruning
behavior in this sandbox.
The postings are rebalanced by bucket before the write, so each bucket is
one file — what Iceberg's ``write.distribution-mode=hash`` does.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_lattice_search_spark.config import LatticeConfig, MatchLatticeParams
from full_lattice_search_spark.functions.tokenizer import lattice_tokenize
from full_lattice_search_spark.operators.match import (
    analyze_query,
    match_lattice_tokens,
)

DEFAULT_TOKEN_BUCKETS = 64


def token_bucket_col(token_col: str, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(F.col(token_col)), F.lit(n_buckets)).cast("int")


def write_token_index(
    docs: DataFrame,
    path: str,
    config: LatticeConfig | None = None,
    n_token_buckets: int = DEFAULT_TOKEN_BUCKETS,
) -> None:
    """Tokenize the corpus and persist the postings partitioned by token
    bucket.  The tokens are rebalanced by bucket before the write (a hash
    exchange; AQE splits a skewed bucket), so each bucket directory holds
    one file rather than one per tokenizer task.  The write is a static
    full overwrite: a rebuild replaces every bucket, whatever the
    session's ``partitionOverwriteMode``.

    Also persists two statistics tables (the index-statistics analog —
    Lucene keeps norms/doc lengths/term dictionaries at index time):

    - ``{path}_doclen``: per-document lengths.  Queries with
      ``include_span_score`` read BM25 stats from it instead of
      re-scanning the pruned postings (which would be both wrong and a
      full scan).  Carries both ``dl`` (full token count — avgdl's basis)
      and ``dl_norm`` (overlap-discounted count, what a Lucene norm
      stores) so BOTH similarity flavors work over the pruned index.
    - ``{path}_vocab``: the term dictionary — one row per distinct token
      with its document frequency and bucket id, range-partitioned and
      sorted BY TOKEN so a prefix query prunes to the prefix's byte range
      via parquet min/max stats.  This is what lets ``phrase_prefix``
      (and its ``similarity='lucene'`` idf blend over the expansion
      vocabulary) run against the pruned index: the expansion token set
      and dfs come from this tiny table, never from a full postings scan.
      Postings : vocab size ratio is corpus_tokens : distinct_tokens —
      at 100 TB the vocab is a rounding error next to the postings.

    The corpus is tokenized once: the postings write fills a persisted
    token frame, both tables aggregate that frame, and it is released
    before the call returns, also when a write raises.  The postings are
    never read back (no partition listing or schema inference over the
    bucket files just written)."""
    config = config or LatticeConfig()
    tokens = (
        lattice_tokenize(docs, config)
        .withColumn("token_bucket", token_bucket_col("token", n_token_buckets))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        (
            tokens.hint("rebalance", "token_bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("token_bucket")
            .parquet(path)
        )
        (
            tokens.groupBy("doc_id")
            .agg(
                F.count("*").alias("dl"),
                F.sum((F.col("pos_inc") > 0).cast("long")).alias("dl_norm"),
            )
            .write.mode("overwrite")
            .parquet(f"{path}_doclen")
        )
        (
            tokens.groupBy("token")
            .agg(
                F.countDistinct("doc_id").alias("df"),
                F.min("token_bucket").alias("token_bucket"),
            )
            .repartitionByRange(8, "token")
            .sortWithinPartitions("token")
            .write.mode("overwrite")
            .parquet(f"{path}_vocab")
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
    n_token_buckets: int = DEFAULT_TOKEN_BUCKETS,
    phrase_prefix: bool = False,
    dtype: type | None = None,
) -> DataFrame:
    """match_lattice over the materialized index: plan-time bucket
    resolution → partition pruning → rowgroup pushdown → span DP.

    ``phrase_prefix``: the last term matches as a prefix.  Its expansion
    tokens hash to arbitrary buckets, so the bucket list is resolved from
    the index's vocabulary table (``{path}_vocab`` — tiny, token-sorted,
    prefix-range-pruned) and unioned with the fixed terms' buckets; the
    same vocab supplies the expansion document frequencies for the
    ``similarity='lucene'`` idf blend, keeping the postings scan pruned.
    The bucket list collect is bounded by ``n_token_buckets`` values."""
    config = config or LatticeConfig()
    params = params or MatchLatticeParams()
    terms = analyze_query(query, config)
    tokens = spark.read.parquet(index_path)
    vocab = None
    if phrase_prefix and terms:
        vocab = spark.read.parquet(f"{index_path}_vocab")
    if terms:
        # resolve buckets on the driver with the same hash the writer used
        flat = [
            t
            for slot in terms
            for t in (slot if isinstance(slot, list) else [slot])
        ]
        bucket_df = spark.createDataFrame(
            [(t,) for t in flat], "token string"
        ).select(token_bucket_col("token", n_token_buckets).alias("b"))
        buckets = {r["b"] for r in bucket_df.collect()}
        if vocab is not None:
            # expansion buckets from the vocab (≤ n_token_buckets rows)
            buckets |= {
                r["token_bucket"]
                for r in vocab.filter(
                    F.col("token").startswith(terms[-1])
                )
                .select("token_bucket")
                .distinct()
                .collect()
            }
        tokens = tokens.filter(F.col("token_bucket").isin(sorted(buckets)))
    doclen = None
    if params.include_span_score:
        doclen = spark.read.parquet(f"{index_path}_doclen")
    kw = {} if dtype is None else {"dtype": dtype}
    return match_lattice_tokens(
        tokens, query, config, params, top_k=top_k, doclen=doclen,
        phrase_prefix=phrase_prefix, vocab=vocab, **kw,
    )
