"""Metric names, summaries and output digests shared by the workloads.

The names here are the ones ``BENCHMARK.json`` declares; the benchmark's
own tests check the two lists agree.
"""

from __future__ import annotations

import hashlib
import json
import statistics

import numpy as np
import pandas as pd

# name -> unit.  Gated, printed by every untraced run.  Peak memory is
# printed too but not gated: across seeds it moves by a quarter or more with
# the number of Python workers alive, so it is a per-layer metric.
END_TO_END = {
    "setup_s": "s",
    "latency_geomean_s": "s",
}

# the registry entries one pass times ...
REGISTRY_PASS = (
    # bench.py's operator queries
    "match_ordered_2",
    "match_score_single",
    "match_span_score",
    "match_unordered_3",
    "dedup_exact",
    "minhash_lsh_pairs",
    "simhash",
    "ann_bruteforce",
    "quality",
    "pricing_summary",
    # scoring composition, Lucene similarity, token-stream matching
    "bm25",
    "match_lucene_sim",
    "match_many",
)
# ... and the ones only traced runs call, once, after the loop: PQ training
# is a chain of ~40 small jobs, as long as a third of a pass cold and again
# warm, which the run budget cannot hold in every run
REGISTRY_PROBES = ("ann_pq",)
REGISTRY_ENTRIES = REGISTRY_PASS + REGISTRY_PROBES

# name -> unit.  Printed by every traced run; 0 where the workload does not
# reach the layer.
PER_LAYER = {
    "peak_rss_mb": "MB",
    "pipeline.checkpoint_read_s": "s",
    "pipeline.write_job_s": "s",
    "pipeline.checkpoint_append_s": "s",
    "pipeline.files_written": "count",
    "extract.direct_s": "s",
    "extract.salted_s": "s",
    "extract.python_s": "s",
    "extract.arrow_mb": "MB",
    "tokenizer.exec_s": "s",
    "tokenizer.tokens_per_s": "1/s",
    "tokenizer.python_s": "s",
    "tokenizer.python_init_s": "s",
    "token_index.postings_write_s": "s",
    "token_index.stats_write_s": "s",
    "scan_query_p50_s": "s",
    "index_query_p50_s": "s",
    "token_index.plan_s": "s",
    "token_index.rows_scanned": "count",
    "token_index.rows_per_hit": "ratio",
    "match.scan_exec_s": "s",
    "match.kernel_python_s": "s",
    "match.hit_ratio": "ratio",
    "match.tokens_python_s": "s",
    "compose.exchanges": "count",
    "compose.shuffle_mb": "MB",
    "compose.broadcast_collect_s": "s",
    "compose.cached_frames_left": "count",
    **{f"queries.{name}_s": "s" for name in REGISTRY_ENTRIES},
    "queries.python_init_s": "s",
    "queries.python_rows_out": "count",
    "queries.scan_tasks": "count",
    "similarity.pq_jobs": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_mb_per_op": "MB",
    "trace.overhead": "ratio",
}

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def call_medians(recs: list[dict]) -> dict[str, list[float]]:
    """Per call kind, the wall times of the ops' calls (``rec["calls"]``)."""
    out: dict[str, list[float]] = {}
    for r in recs:
        for kind, seconds in r["calls"].items():
            out.setdefault(kind, []).append(seconds)
    return out


def latency_geomean(recs: list[dict]) -> float:
    """Geometric mean, over call kinds, of each kind's median wall time.
    Every kind weighs the same whatever its length, so one slow, noisy
    kind cannot dominate, and a change of x% in one kind out of k moves
    the metric by about x/k %."""
    samples = call_medians(recs)
    if not samples:
        return 0.0
    logs = [np.log(median(v)) for v in samples.values()]
    return float(np.exp(np.mean(logs)))


def tail(values) -> tuple[float | None, float | None, int]:
    """Highest percentile that still has at least ten samples beyond it,
    its value, and the sample count; (None, None, n) when no percentile
    qualifies (fewer than 20 samples)."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:  # 100 - 99.9 is inexact
            return p, float(np.percentile(values, p, method="lower")), n
    return None, None, n


def describe(values, unit: str) -> str:
    """'p50 1.234 s; p90 2.000 s; n=120' — the tail only when it qualifies."""
    p, v, n = tail(values)
    text = f"p50 {median(values):.4f} {unit}"
    if p is not None:
        text += f"; p{p:g} {v:.4f} {unit}"
    return f"{text}; n={n}"


def spark_digest(df, cols: list[str]) -> str:
    """Order-independent digest of a DataFrame: row count plus the sum of
    per-row xxhash64 values (as decimals, so the sum cannot overflow)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return f"{row['n']}:{row['h'] or 0}"


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column- and row-order-free form of a result frame, the same
    normalization the repository's oracle checker compares."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(np.float64)
        elif str(df[c].dtype).startswith(("int", "Int", "uint")):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def frame_digest(df: pd.DataFrame) -> str:
    norm = normalize(df)
    h = hashlib.sha256(json.dumps(list(norm.columns)).encode())
    h.update(pd.util.hash_pandas_object(norm, index=False).to_numpy().tobytes())
    return f"{len(norm)}:{h.hexdigest()[:32]}"


def hits_digest(hits: list[tuple[str, float]]) -> str:
    return hashlib.sha256(json.dumps(hits).encode()).hexdigest()[:32]
