"""Scale layer: bucketed, resumable extraction runs (north_rule).

The input is hash-bucketed by ``doc_id`` into ``n_buckets`` logical
partitions.  Each run:

1. reads the checkpoint table and prunes buckets already marked ``done``
   (idempotent resume — re-running a completed job is a no-op);
2. routes documents by span count: ordinary docs take the zero-shuffle
   whole-doc path, mega-docs (``size(spans) > salt_threshold``) take the
   salted span-level path (explicit skew handling — one giant document can
   no longer pin a single task);
3. processes pending buckets in bounded groups (``buckets_per_job``): each
   group writes its output through ``sources.catalog.write_bucketed`` and
   THEN appends one lineage+metrics row per bucket to the checkpoint table
   (one file per group) — a crash loses at most one group's work, and
   progress made before the crash survives both across runs and within one.

Output layout: ``write_bucketed`` rebalances the rows by ``bucket`` before
the write, so a bucket directory holds one file however many tasks produced
its rows (AQE splits a skewed bucket across tasks, so one hot bucket cannot
pin a task) — the analogue of Iceberg's ``write.distribution-mode=hash``.
It also owns dynamic partition overwrite as a per-write option, so a
re-processed bucket replaces itself rather than duplicating, and the
session conf is left as the caller set it.

On a real cluster the same code runs over Iceberg with
``spark.read.format("iceberg")`` — the bucket column maps onto the table's
bucket partition transform so step 2's filter becomes partition pruning.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_lattice_search_spark.config import LatticeConfig
from full_lattice_search_spark.operators.extract import (
    extract_spans,
    extract_spans_salted,
)
from full_lattice_search_spark.schema import CHECKPOINT_SCHEMA
from full_lattice_search_spark.sources.catalog import write_bucketed

DEFAULT_SALT_THRESHOLD = 64


def bucket_sql(doc_id_col: str, n_buckets: int) -> str:
    """The bucket of a row as SQL text: ``pmod`` lies in ``[0, n_buckets)``."""
    return f"CAST(pmod(xxhash64({doc_id_col}), {n_buckets}) AS INT)"


def completed_buckets(spark: SparkSession, checkpoint_dir: str) -> set[int]:
    """Buckets the checkpoint table marks done.  A missing table means a
    fresh run (nothing done); an existing one is read strictly, so a
    corrupt checkpoint raises instead of silently re-processing every
    bucket.  Existence is asked of the path's Hadoop FileSystem, not
    probed with a failing read (which logs a stack trace per run)."""
    path = spark._jvm.org.apache.hadoop.fs.Path(checkpoint_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return set()
    ckpt = spark.read.schema(CHECKPOINT_SCHEMA).parquet(checkpoint_dir)
    rows = ckpt.filter(F.col("status") == "done").select("bucket").distinct()
    return {r["bucket"] for r in rows.collect()}


def _process_bucket_group(
    spark: SparkSession,
    docs: DataFrame,
    group: list[int],
    output_dir: str,
    checkpoint_dir: str,
    n_buckets: int,
    config: LatticeConfig,
    salt_threshold: int,
    doc_id_col: str,
    spans_col: str,
    run_id: str,
) -> int:
    """Extract + write + checkpoint one bucket group.  The checkpoint rows
    are appended only after the group's data commit, so a crash mid-group
    leaves its buckets "not done" (re-processed and dynamically overwritten
    on resume) while every previously committed group stays done."""
    t0 = time.time()
    # SQL text, not Column-API chains: PySpark wraps each Column call in
    # ~14 py4j round trips
    bucketed = docs
    if len(group) < n_buckets:  # a group of every bucket needs no filter
        # the hash of the string the output's bucket column hashes: a group
        # must write only its own buckets, or a later group's dynamic
        # overwrite of those buckets drops its rows
        doc_key = f"CAST({doc_id_col} AS STRING)"
        bucketed = docs.filter(
            f"{bucket_sql(doc_key, n_buckets)} IN "
            f"({', '.join(map(str, group))})"
        )
    is_mega = f"size({spans_col}) > {salt_threshold}"
    out_small = extract_spans(bucketed.filter(f"NOT ({is_mega})"), config,
                              doc_id_col=doc_id_col, spans_col=spans_col)
    out_mega = extract_spans_salted(bucketed.filter(is_mega), config,
                                    doc_id_col=doc_id_col,
                                    spans_col=spans_col)
    out = out_small.unionByName(out_mega).selectExpr(
        "*", f"{bucket_sql('doc_id', n_buckets)} AS bucket"
    )
    # Checkpoint metrics ride the WRITE job via the Observation API —
    # per-bucket conditional aggregates computed while the rows stream to
    # parquet, so the just-written output is never re-scanned (at 100 TB a
    # read-back would double the write path's I/O).  The 3·|group|
    # aggregates are fields of ONE struct metric, parsed from one string.
    from pyspark.sql import Observation

    obs = Observation(f"extract-{run_id}-{group[0]}")
    fields = ", ".join(
        f"sum(IF(bucket = {b}, 1L, 0L)) AS d{b}, "
        f"sum(IF(bucket = {b}, n_spans, 0L)) AS s{b}, "
        f"sum(IF(bucket = {b}, n_text_chars, 0L)) AS c{b}"
        for b in group
    )
    write_bucketed(out.observe(obs, F.expr(f"struct({fields}) AS m")),
                   output_dir)

    wall = time.time() - t0
    # blocks until the write action fired the metrics.  When Spark proves
    # the group empty at run time (AQE drops an empty stage's subtree, the
    # metric with it) the row is empty, which Observation.get cannot convert
    got = obs.get["m"].asDict() if obs._jo.getRow().length() else {}
    import pandas as pd  # local import keeps module import light

    metrics_pdf = pd.DataFrame(
        {
            "bucket": group,
            "run_id": run_id,
            # a group with no rows aggregates to null — its buckets still
            # get marker rows
            "n_docs": [int(got.get(f"d{b}") or 0) for b in group],
            "n_spans": [int(got.get(f"s{b}") or 0) for b in group],
            "n_text_chars": [int(got.get(f"c{b}") or 0) for b in group],
            "status": "done",
            "wall_secs": float(wall),
        }
    )
    # one file per group: every resume re-reads the whole checkpoint
    spark.createDataFrame(metrics_pdf, CHECKPOINT_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(checkpoint_dir)
    return int(metrics_pdf["n_docs"].sum())


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 32,
    config: LatticeConfig | None = None,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    doc_id_col: str = "doc_id",
    spans_col: str = "spans",
    buckets_per_job: int | None = None,
    _after_group=None,
) -> dict:
    """Run (or resume) the extraction pipeline.  Returns run metrics.

    ``buckets_per_job`` bounds checkpoint granularity: pending buckets are
    processed in groups of at most this many, each group committed (data +
    checkpoint rows) before the next starts — a crash at bucket 31/32
    costs one group's re-work, not the whole run.  ``None`` keeps the
    single-job fast path (best for small corpora where per-job overhead
    dominates).  ``_after_group(group)`` is a test hook invoked after each
    group commit."""
    config = config or LatticeConfig()
    run_id = uuid.uuid4().hex[:12]
    t0 = time.time()

    done = completed_buckets(spark, checkpoint_dir)
    pending = sorted(set(range(n_buckets)) - done)
    if not pending:
        return {
            "run_id": run_id,
            "buckets_done": len(done),
            "buckets_processed": 0,
            "docs": 0,
            "wall_secs": 0.0,
        }

    size = buckets_per_job or len(pending)
    groups = [pending[i:i + size] for i in range(0, len(pending), size)]

    n_docs = 0
    for group in groups:
        n_docs += _process_bucket_group(
            spark, docs, group, output_dir, checkpoint_dir, n_buckets,
            config, salt_threshold, doc_id_col, spans_col, run_id,
        )
        if _after_group is not None:
            _after_group(group)

    return {
        "run_id": run_id,
        "buckets_done": len(done),
        "buckets_processed": len(pending),
        "docs": n_docs,
        "wall_secs": time.time() - t0,
    }
