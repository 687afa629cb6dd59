"""Deterministic lattice derivation from the driver-provided ``documents``
parquet (doc_id, text, ...) — the bridge between the engine's operators and
DuckDB-checkable oracles.

The first ``N_TOKENS`` words of each document become a confusion network:

- position  ``pos  = floor(2*i/3)``  (every 3rd/2nd token shares a position →
  the sausage has alternatives, exercising posInc 0)
- rank      ``rank = i - floor((3*pos + 1) / 2)``  (closed form for "index
  within position" under that pos pattern — no window needed)
- score     ``'0.' || ((i*37 + length(tok)*11) % 90 + 10)``  (two-digit
  mantissa; *string* construction makes Spark and DuckDB agree exactly)

Everything is integer arithmetic + string concat, so the Spark expression and
the DuckDB SQL below produce byte-identical lattice records.  The Spark side
then feeds the *real* engine operators (tokenizer / matcher / extractor);
the DuckDB side recomputes the expected result relationally — a genuine
independent oracle, not a golden constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from full_lattice_search_spark.sources.catalog import read_parquet

N_TOKENS = 24


def records_expr(n_tokens: int = N_TOKENS) -> str:
    """Spark-side record builder (one expression, fully JVM/codegen)."""
    return f"""
transform(
  slice(split(text, ' '), 1, {n_tokens}),
  (tok, i) -> concat(
    tok, '|',
    cast(floor(2*i/3) as int), '|',
    cast(i - floor((3*floor(2*i/3) + 1)/2) as int), '|',
    '0.', cast((i*37 + length(tok)*11) % 90 + 10 as int)
  )
)
"""


_RECORDS_EXPR = records_expr()


def scan_parallel(
    df: DataFrame, spark: SparkSession, size_path: str | None = None
) -> DataFrame:
    """Scale-adaptive scan-parallelism guard (optimization guide §2/§6):
    a small single-file parquet table is ONE unsplittable input split (one
    row group), so every row-wise derivation downstream — the interpreted
    lattice-record projection, Python tokenize stages, shingle explosions —
    inherits scan parallelism 1 regardless of core count.  When the scan
    under-provisions the cores, round-robin repartition the RAW rows (a
    few-MB exchange) so the expensive projections run after it, cluster-
    wide.  At scale the input has >= parallelism splits and this is a
    no-op — the guard is derived from the data, not tuned to local[32].

    ``size_path``: optional filesystem path of the scanned parquet.  When
    given, the check is local file metadata (``_scan_under_provisioned``).
    Without it the check falls back to ``df.rdd`` partition counting,
    which costs a planning round-trip per query construction (~50-70 ms of
    py4j on this host — measurable inside a timed bench lambda)."""
    n = spark.sparkContext.defaultParallelism
    under = (
        _scan_under_provisioned(size_path, n) if size_path is not None else None
    )
    if under is None:
        under = df.rdd.getNumPartitions() < n
    return df.repartition(n) if under else df


def _scan_under_provisioned(path: str, n: int) -> bool | None:
    """Whether a scan of the parquet file or directory at ``path`` reads
    its rows in fewer than ``n`` tasks; ``None`` when the files cannot be
    inspected.

    Spark's split packing yields >= ``n`` splits whenever the input
    exceeds openCostInBytes (4 MB) x ``n``, so anything smaller is
    under-provisioned.  A larger input may still be: a split reads only
    the row groups whose midpoint it holds, so the tasks that read rows
    are at most the row-group count — min(splits, row groups) decides."""
    import os

    import pyarrow.parquet as pq

    try:
        files = (
            [path]
            if os.path.isfile(path)
            else [
                os.path.join(path, f)
                for f in os.listdir(path)
                if not f.startswith((".", "_"))
            ]
        )
        if sum(os.path.getsize(f) for f in files) < (4 << 20) * n:
            return True
        return sum(pq.read_metadata(f).num_row_groups for f in files) < n
    except (OSError, ValueError):  # pyarrow's ArrowInvalid is a ValueError
        return None


def lattice_docs(
    spark: SparkSession, sf_dir: str, n_tokens: int = N_TOKENS, where=None
) -> DataFrame:
    """documents parquet → interleaved-docs table whose single text span is
    the derived lattice record stream (first ``n_tokens`` words).

    The raw (doc_id, text) rows are repartitioned BEFORE the record
    projection when the scan under-provisions the cores: the 24-element
    record transform is interpreted expression work, and building it
    above the exchange would serialize it into the single scan task.

    ``where``: optional raw-text predicate applied at the scan, BEFORE the
    exchange and the record projection — the candidate prefilter hook
    (guide §3.2: drop definitely-non-matching rows before moving/deriving
    them).  Callers must pass a superset predicate (e.g. a lowercase
    substring probe per query term) so results are unchanged."""
    path = f"{sf_dir}/documents.parquet"
    docs = read_parquet(spark, path)
    if where is not None:
        docs = docs.filter(where)
    docs = scan_parallel(docs, spark, size_path=path)
    return docs.selectExpr(
        "CAST(doc_id AS STRING) AS doc_id",
        "array(named_struct("
        "'kind', 'text', "
        f"'text', concat_ws(' ', {records_expr(n_tokens)}), "
        "'media_ref', cast(null as string), "
        "'offset', 0)) AS spans",
    )


def oracle_tokens_cte(
    n_tokens: int = N_TOKENS, toks: str = "toks", lattice: str = "lattice"
) -> str:
    """DuckDB-side token CTE: one row per (doc_id, i, tok, pos, rank,
    score).  ``score_i`` is the integer mantissa; score = score_i / 100.
    CTE names are parameterized so two lattice widths can coexist in one
    query (near-duplicate planting)."""
    return f"""
{toks} AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         i - 1 AS i,
         ts.tok AS tok
  FROM (
    SELECT doc_id, list_slice(string_split(text, ' '), 1, {n_tokens}) AS xs
    FROM documents
  ) d,
  LATERAL (SELECT UNNEST(d.xs) AS tok, generate_subscripts(d.xs, 1) AS i) ts
),
{lattice} AS (
  SELECT doc_id, i,
         tok AS tok_raw,
         lower(tok) AS token,
         CAST(floor(2*i/3) AS BIGINT) AS pos,
         CAST(i - floor((3*floor(2*i/3) + 1)/2) AS BIGINT) AS rank,
         CAST((i*37 + length(tok)*11) % 90 + 10 AS BIGINT) AS score_i
  FROM {toks}
)
"""


ORACLE_TOKENS_CTE = oracle_tokens_cte()
