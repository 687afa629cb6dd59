"""Fixed StructType schemas — the single source of truth for every table the
engine touches (the analog of the reference's `dynamic: strict` mappings)."""

from __future__ import annotations

from pyspark.sql import types as T

# Input: Iceberg-style table of interleaved text + media documents
# (BASELINE.json input_hint).
SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    ]
)

# Expanded token stream (the engine's "postings": one row per emitted token,
# duplicates from score buckets included, positions materialized).
TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("seq", T.IntegerType(), False),  # emission order
        T.StructField("token", T.StringType(), True),
        T.StructField("pos", T.IntegerType(), True),  # lattice position field
        T.StructField("rank", T.IntegerType(), True),
        T.StructField("score", T.FloatType(), True),  # float32 payload
        T.StructField("start_t", T.FloatType(), True),
        T.StructField("stop_t", T.FloatType(), True),
        T.StructField("pos_inc", T.IntegerType(), True),
        T.StructField("abs_pos", T.IntegerType(), True),  # running sum
    ]
)

# match_lattice output: per-doc hit row.
HITS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("n_spans", T.IntegerType(), False),
    ]
)

# Composed scoring (include_span_score=True): the per-doc stats row every
# matching kernel emits (operators.match.span_stats_pandas) and the one
# composer reads — the payload-score hit fields plus the similarity's raw
# material from the same pass that matched: the document's candidate-term
# frequencies as parallel tf_tokens/tf_counts arrays (bounded by the
# query's term count + prefix expansions — a handful of entries, not
# per-span structures) and the float32 Lucene sloppy span frequency.
# Kernels append the explain arrays when asked and, when they see every
# token of a document, its lengths (dl, dl_norm).
SPAN_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("payload_score", T.DoubleType(), True),
        T.StructField("n_spans", T.IntegerType(), False),
        T.StructField("tf_tokens", T.ArrayType(T.StringType()), True),
        T.StructField("tf_counts", T.ArrayType(T.LongType()), True),
        T.StructField("sloppy_freq", T.DoubleType(), True),
    ]
)

# match_lattice(..., explain=True) output: per-doc hit row plus the per-span
# score breakdown (the analog of the reference's Explanation tree,
# LatticePayloadScoreQuery.java:316-326): doc-relative span boundaries and
# each span's payload score, in match-enumeration order.
EXPLAIN_HITS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("n_spans", T.IntegerType(), False),
        T.StructField("span_start", T.ArrayType(T.LongType()), True),
        T.StructField("span_end", T.ArrayType(T.LongType()), True),
        T.StructField("span_score", T.ArrayType(T.DoubleType()), True),
    ]
)

# Extraction output (north_rule): ordered main-content spans per document.
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
        T.StructField("n_spans", T.IntegerType(), True),
        T.StructField("n_text_chars", T.LongType(), True),
    ]
)

# Checkpoint table: per-partition lineage + metrics for idempotent resume.
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_spans", T.LongType(), False),
        T.StructField("n_text_chars", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("wall_secs", T.DoubleType(), True),
    ]
)
