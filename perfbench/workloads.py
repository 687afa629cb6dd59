"""The two workloads: ``ingest`` (write path) and ``registry`` (query surface).

Each one is a single closed-loop client: ``op(i)`` returns only when its
calls into the engine have returned, and the next op starts after it.
``setup()`` builds the seeded inputs, computes the references the checks
compare against and runs every op shape once untimed.  ``check()`` runs
outside the timed region.  ``layers()`` turns the traced ops' spans and
Spark's records into the per-layer metrics (``metrics.PER_LAYER``).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

from full_lattice_search_spark import (
    LatticeConfig,
    MatchLatticeParams,
    composed_cache_scope,
    lattice_tokenize,
    match_lattice,
    search,
)
from full_lattice_search_spark.datagen import VOCAB, synth_documents
from full_lattice_search_spark.operators.extract import (
    extract_spans,
    extract_spans_salted,
)
from full_lattice_search_spark.pipeline import DEFAULT_SALT_THRESHOLD, run_extraction
from full_lattice_search_spark.plans.lattice_view import lattice_docs
from full_lattice_search_spark.plans.queries import QUERIES
from full_lattice_search_spark.schema import EXTRACTED_SCHEMA, TOKENS_SCHEMA
from full_lattice_search_spark.sources.token_index import (
    match_lattice_indexed,
    write_token_index,
)

from perfbench import tables
from perfbench.metrics import (
    REGISTRY_PASS,
    REGISTRY_PROBES,
    frame_digest,
    hits_digest,
    median,
    spark_digest,
)
from perfbench.trace import (
    PYTHON_INIT,
    PYTHON_RECV,
    PYTHON_SENT,
    PYTHON_TIME,
    ROWS,
    Tracer,
)

MB = float(1 << 20)
EXTRACT_COLS = EXTRACTED_SCHEMA.fieldNames()
TOKEN_COLS = TOKENS_SCHEMA.fieldNames()
N_BUCKETS = 32
EXCHANGES = ("Exchange", "BroadcastExchange")


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    nproc: int
    tracer: Tracer
    goldens: dict
    trace: bool = False  # the run will call ``probes()`` after the loop


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def persisted_frames(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class Workload:
    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.golden = ctx.goldens.get(self.name, {})
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one set-up phase (reported next to setup_s)."""
        t0 = time.perf_counter()
        yield
        self.phases[name] = time.perf_counter() - t0

    def timed(self, span: str, fn):
        """Run ``fn`` under a span; return (result, seconds)."""
        with self.tr.span(span):
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0

    def tokenizer_probe(self, docs) -> None:
        with self.tr.span("probe"):
            with self.tr.span("tokenizer.exec"):
                noop(lattice_tokenize(docs, LatticeConfig()))

    def tokenizer_layers(self) -> dict:
        sp = self.tr.named("tokenizer.exec")[-1]
        ex = self.tr.executions([sp.id])
        rows = sum(n.metrics.get(ROWS, 0.0) for _, n in self.tr.python_nodes(ex))
        return {
            "tokenizer.exec_s": sp.seconds,
            "tokenizer.tokens_per_s": rows / sp.seconds,
            "tokenizer.python_s": self.tr.metric_sum(ex, PYTHON_TIME),
            "tokenizer.python_init_s": self.tr.metric_sum(ex, PYTHON_INIT),
        }

    def min_ops(self, trace: bool) -> int:
        """Ops the timed loop runs at least, whatever ``--seconds`` says."""
        return 1

    def probes(self) -> list[str | None]:
        """Extra single-layer calls made once per traced run; returns one
        check result (None = correct) per probe whose output is checked."""
        return []

    def summary(self, recs: list[dict]) -> list[tuple]:
        """(name, unit, per-op samples) of the workload's named metrics."""
        return []

    def layers(self, ops: list) -> dict:
        return {}


# ---------------------------------------------------------------------------


@dataclass
class Query:
    query: str
    scoring: str  # bm25 | payload | lucene
    slop: int
    in_order: bool
    prefix: bool

    def params(self) -> MatchLatticeParams:
        return MatchLatticeParams(
            slop=self.slop,
            in_order=self.in_order,
            include_span_score=self.scoring != "payload",
            similarity="lucene" if self.scoring == "lucene" else "engine",
        )

    def body(self) -> dict:
        return {"match_lattice": {"spans": {
            "query": self.query,
            "slop": self.slop,
            "in_order": self.in_order,
            "include_span_score": self.scoring != "payload",
        }}}


def make_queries(seed: int, n: int) -> list[Query]:
    """Seeded ad-hoc queries: 1-3 vocabulary terms, slop 0-3, ordered or
    not; about half composed BM25, a quarter payload-only, a quarter
    Lucene similarity; some phrase prefixes.  No multi-phrase slot lists:
    ``match_lattice_indexed`` only takes query text."""
    rng = np.random.default_rng([seed, 2])
    words = [str(w) for w in VOCAB]
    out = []
    for _ in range(n):
        r = rng.random()
        scoring = "bm25" if r < 0.5 else "payload" if r < 0.75 else "lucene"
        terms = [str(w) for w in rng.choice(words, size=int(rng.integers(1, 4)),
                                            replace=False)]
        slop, in_order = int(rng.integers(0, 4)), bool(rng.random() < 0.5)
        if rng.random() < 0.15 and len(terms[-1]) > 3:
            terms[-1] = terms[-1][:3]
            out.append(Query(" ".join(terms), scoring, slop, True, True))
        else:
            out.append(Query(" ".join(terms), scoring, slop, in_order, False))
    return out


def scan_query(docs, q: Query, top_k: int) -> list[tuple[str, float]]:
    """Doc-scan path: the ES-body API, or ``match_lattice`` for a phrase
    prefix (the body has no prefix option); inside a cache scope, as a
    long-running searcher would call it."""
    with composed_cache_scope():
        if q.prefix:
            rows = match_lattice(docs, q.query, LatticeConfig(), q.params(),
                                 top_k=top_k, phrase_prefix=True).collect()
            return [(r["doc_id"], float(r["score"])) for r in rows]
        sim = "lucene" if q.scoring == "lucene" else None
        resp = search(docs, q.body(), size=top_k, similarity=sim)
        return [(h["_id"], float(h["_score"])) for h in resp["hits"]["hits"]]


# a fixed payload-only query: its doc-scan kernel's rows in and out give the
# hit ratio (a composed scan's kernel emits a row per document)
HIT_RATIO_QUERY = Query("quick brown", "payload", 2, False, False)


class Ingest(Workload):
    """run_extraction + write_token_index over a seeded corpus, each op into
    fresh output, checkpoint and index directories.  Traced runs also probe
    the read paths over the corpus: seeded ad-hoc queries, each on the
    doc-scan path (ES-body API) and on a token index of the corpus."""

    name = "ingest"
    N_DOCS = 2000
    MEGA_EVERY = 500
    N_QUERIES = 3
    TOP_K = 10

    def setup(self) -> None:
        work = self.ctx.work
        with self.phase("corpus"):
            docs = self.write_corpus(f"{work}/corpus", self.ctx.seed)
        # warm every op shape and the checks' reads with one full op, run
        # next to the references: both are mostly first-call latency
        # (code generation, Python worker start), not core time
        with self.phase("warm"), ThreadPoolExecutor(2) as pool:
            warm = pool.submit(self.op, -1, docs)
            self.target = docs, self.N_DOCS, self.references(docs)
            why = self.check(-1, warm.result())
        if why:
            raise RuntimeError(f"warm-up op failed its check: {why}")
        golden = self.golden.get(str(self.ctx.seed))
        ref = self.target[2]
        self.ref_error = (
            f"reference digests {ref} differ from golden {golden}"
            if golden is not None and golden != ref
            else None
        )

    def min_ops(self, trace: bool) -> int:
        # one op and its check can outlast --seconds, and a lone first op
        # can be 50% slower than the next; a traced run, which reports no
        # latency, needs one
        return 1 if trace else 2

    def write_corpus(self, path: str, seed: int):
        synth_documents(self.spark, self.N_DOCS, seed=seed,
                        mega_every=self.MEGA_EVERY,
                        partitions=2 * self.ctx.nproc).write.parquet(path)
        return self.spark.read.parquet(path)

    def references(self, docs) -> dict:
        """What every op's outputs must digest to: the direct extraction
        operator and the tokenizer over the corpus."""
        return {
            "extract": spark_digest(extract_spans(docs), EXTRACT_COLS),
            "tokens": spark_digest(lattice_tokenize(docs, LatticeConfig()),
                                   TOKEN_COLS),
        }

    def op(self, i: int, docs=None) -> dict:
        docs = self.target[0] if docs is None else docs
        d = f"{self.ctx.work}/op{i}"
        rec = {"dir": d}
        rec["result"], rec["extract_s"] = self.timed(
            "pipeline.run_extraction",
            lambda: run_extraction(self.spark, docs, f"{d}/out", f"{d}/ckpt",
                                   n_buckets=N_BUCKETS),
        )
        _, rec["index_s"] = self.timed(
            "token_index.write_token_index",
            lambda: write_token_index(docs, f"{d}/idx"),
        )
        rec["op_s"] = rec["extract_s"] + rec["index_s"]
        rec["calls"] = {"run_extraction": rec["extract_s"],
                        "write_token_index": rec["index_s"]}
        return rec

    def check(self, i: int, rec: dict) -> str | None:
        spark, d = self.spark, rec["dir"]
        _, n, ref = self.target
        try:
            if i >= 0 and self.ref_error:
                return self.ref_error
            res = rec["result"]
            if res["docs"] != n or res["buckets_processed"] != N_BUCKETS:
                return f"run_extraction reported {res}"
            ck = (
                spark.read.parquet(f"{d}/ckpt")
                .filter(F.col("status") == "done")
                .agg(F.count(F.lit(1)).alias("rows"),
                     F.countDistinct("bucket").alias("buckets"),
                     F.sum("n_docs").alias("docs"))
                .collect()[0]
            )
            if (ck["rows"], ck["buckets"], ck["docs"]) != (N_BUCKETS, N_BUCKETS, n):
                return f"checkpoint holds {ck.asDict()}"
            out = spark_digest(spark.read.parquet(f"{d}/out"), EXTRACT_COLS)
            if out != ref["extract"]:
                return f"extraction digest {out} != {ref['extract']}"
            toks = spark_digest(spark.read.parquet(f"{d}/idx"), TOKEN_COLS)
            if toks != ref["tokens"]:
                return f"postings digest {toks} != {ref['tokens']}"
            return None
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def probes(self) -> list[str | None]:
        docs = self.target[0]
        is_mega = F.size("spans") > DEFAULT_SALT_THRESHOLD
        with self.tr.span("probe"):
            with self.tr.span("extract.direct"):
                noop(extract_spans(docs.filter(~is_mega)))
            with self.tr.span("extract.salted"):
                noop(extract_spans_salted(docs.filter(is_mega)))
        self.tokenizer_probe(docs)
        index = f"{self.ctx.work}/probe_index"
        write_token_index(docs, index)
        with self.tr.span("probe"):
            with self.tr.span("match.payload_scan"):
                scan_query(docs, HIT_RATIO_QUERY, self.TOP_K)
        golden = self.ctx.goldens.get("search", {}).get(str(self.ctx.seed), {})
        results = []
        for qi, q in enumerate(make_queries(self.ctx.seed, self.N_QUERIES)):
            with self.tr.span("probe"):
                scan, _ = self.timed("match.scan",
                                     lambda: scan_query(docs, q, self.TOP_K))
                index_hits = self.lookup(index, q)
            digest = hits_digest([scan, index_hits])
            if q.scoring == "payload" and scan != index_hits:
                results.append(f"query {qi}: doc-scan and index top-k differ")
            elif digest != golden.get(str(qi), digest):
                results.append(f"query {qi}: digest {digest} != {golden[str(qi)]}")
            else:
                results.append(None)
        return results

    def lookup(self, index: str, q: Query) -> list[tuple[str, float]]:
        """Index path, split into plan (the call) and action (collect)."""
        hits, _ = self.timed("token_index.plan", lambda: match_lattice_indexed(
            self.spark, index, q.query, LatticeConfig(), q.params(),
            top_k=self.TOP_K, phrase_prefix=q.prefix))
        rows, _ = self.timed("token_index.exec", hits.collect)
        return [(r["doc_id"], float(r["score"])) for r in rows]

    def summary(self, recs: list[dict]) -> list[tuple]:
        return [
            ("extract_docs_per_s", "docs/s",
             [self.N_DOCS / r["extract_s"] for r in recs]),
            ("index_docs_per_s", "docs/s",
             [self.N_DOCS / r["index_s"] for r in recs]),
        ]

    def layers(self, ops: list) -> dict:
        tr = self.tr
        rows = []
        for op, _ in ops:
            kids = [sp for sp in tr.spans if sp.parent == op.id]
            ext = next(sp for sp in kids if sp.name == "pipeline.run_extraction")
            idx = next(sp for sp in kids if sp.name == "token_index.write_token_index")
            ex = tr.executions([ext.id])
            py = [e for e in ex if tr.python_nodes([e])]
            rest = [e for e in ex if e not in py]
            ix = tr.executions([idx.id])
            first = tr.exec_start(ex[0]) if ex else ext.wall
            rows.append({
                "pipeline.checkpoint_read_s": first - ext.wall,
                "pipeline.write_job_s": sum(tr.exec_seconds(e) for e in py),
                "pipeline.checkpoint_append_s": sum(tr.exec_seconds(e) for e in rest),
                "pipeline.files_written": tr.metric_sum(py, "number of written files"),
                "extract.python_s": tr.metric_sum(py, PYTHON_TIME),
                "extract.arrow_mb": (tr.metric_sum(py, PYTHON_SENT)
                                     + tr.metric_sum(py, PYTHON_RECV)) / MB,
                "token_index.postings_write_s": tr.exec_seconds(ix[0]) if ix else 0.0,
                "token_index.stats_write_s": sum(tr.exec_seconds(e) for e in ix[1:]),
            })
        out = {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}
        for name in ("extract.direct", "extract.salted"):
            out[f"{name}_s"] = tr.named(name)[-1].seconds
        out.update(self.tokenizer_layers())
        out.update(self.search_layers())
        return out

    def search_layers(self) -> dict:
        tr = self.tr
        rows = []
        for probe in tr.named("probe"):
            kids = {sp.name: sp for sp in tr.spans if sp.parent == probe.id}
            if "match.scan" not in kids:
                continue
            scan = tr.executions([kids["match.scan"].id])
            idx = tr.executions([kids["token_index.exec"].id])
            hits = sum(n.metrics.get(ROWS, 0.0) for _, n in tr.python_nodes(idx))
            scanned = tr.metric_sum(idx, ROWS, "Scan parquet")
            plan_s = kids["token_index.plan"].seconds
            rows.append({
                "scan_query_p50_s": kids["match.scan"].seconds,
                "index_query_p50_s": plan_s + kids["token_index.exec"].seconds,
                "match.scan_exec_s": kids["match.scan"].seconds,
                "match.kernel_python_s": tr.metric_sum(scan, PYTHON_TIME),
                "match.tokens_python_s": tr.metric_sum(idx, PYTHON_TIME),
                "token_index.plan_s": plan_s,
                "token_index.rows_scanned": scanned,
                "token_index.rows_per_hit": scanned / max(hits, 1.0),
            })
        out = {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}
        probe = tr.python_nodes(tr.executions([tr.named("match.payload_scan")[-1].id]))
        entered = sum(tr.input_rows(e, n) for e, n in probe)
        hits = sum(n.metrics.get(ROWS, 0.0) for _, n in probe)
        out["match.hit_ratio"] = hits / entered if entered else 0.0
        return out


# ---------------------------------------------------------------------------


class Registry(Workload):
    """Passes over fixed query-registry entries on sf0.1-shaped tables; an
    op is one entry, and the seed permutes the order within each pass."""

    name = "registry"
    MATCH_FAMILY = tuple(n for n in REGISTRY_PASS if n.startswith("match_")) + (
        "bm25",)
    COMPOSED = ("match_span_score", "bm25")

    def setup(self) -> None:
        work = self.ctx.work
        self.probe_times: dict[str, float] = {}
        with self.phase("tables"):
            self.data = tables.write_tables(f"{work}/tables")
        # warm every entry once, concurrently: warming compiles code and
        # starts Python workers, it needs no cores to itself.  Warming on
        # the benchmark tables themselves (not smaller ones) makes the timed
        # pass the second run of each plan on the same data
        names = (REGISTRY_PROBES if self.ctx.trace else ()) + REGISTRY_PASS
        with self.phase("warm"), ThreadPoolExecutor(self.ctx.nproc) as pool:
            for f in [pool.submit(self.call, n, self.data) for n in names]:
                f.result()
        self.spark.catalog.clearCache()

    def min_ops(self, trace: bool) -> int:
        return len(REGISTRY_PASS)  # every run times at least one full pass

    def entry(self, i: int) -> str:
        n = len(REGISTRY_PASS)
        order = np.random.default_rng([self.ctx.seed, 3, i // n]).permutation(n)
        return REGISTRY_PASS[order[i % n]]

    def call(self, name: str, data: str) -> dict:
        """One entry, split into plan (the call) and action (toPandas)."""
        df, plan_s = self.timed(f"queries.{name}.plan",
                                lambda: QUERIES[name](self.spark, data))
        pdf, exec_s = self.timed(f"queries.{name}.exec", df.toPandas)
        return {"entry": name, "op_s": plan_s + exec_s, "digest": frame_digest(pdf)}

    def op(self, i: int) -> dict:
        name = self.entry(i)
        rec = self.call(name, self.data)
        rec["calls"] = {name: rec["op_s"]}
        # entries may leave cached frames behind; count them, then drop them
        # so that every entry starts from the same state, whatever ran before
        rec["cached_left"] = persisted_frames(self.spark)
        self.spark.catalog.clearCache()
        return rec

    def check(self, i: int, rec: dict) -> str | None:
        want = self.golden.get(rec["entry"])
        return None if rec["digest"] == want else (
            f"{rec['entry']}: digest {rec['digest']} != {want}")

    def probes(self) -> list[str | None]:
        self.tokenizer_probe(lattice_docs(self.spark, self.data))
        results = []
        for name in REGISTRY_PROBES:  # warmed in set-up
            with self.tr.span("probe"):
                rec = self.call(name, self.data)
            self.probe_times[name] = rec["op_s"]
            self.spark.catalog.clearCache()
            results.append(self.check(-1, rec))
        return results

    def summary(self, recs: list[dict]) -> list[tuple]:
        n = len(REGISTRY_PASS)
        passes: dict[int, list[float]] = {}
        for r in recs:
            passes.setdefault(r["i"] // n, []).append(r["op_s"])
        return [("registry_pass_s", "s",
                 [sum(v) for v in passes.values() if len(v) == n])]

    def layers(self, ops: list) -> dict:
        """Per-pass sums and per-entry times, median over the traced passes
        (the complete ones, or the partial one when none completed)."""
        tr = self.tr
        n = len(REGISTRY_PASS)
        passes: dict[int, list] = {}
        for op, rec in ops:
            passes.setdefault(rec["i"] // n, []).append((op, rec))
        full = [p for p in passes.values() if len(p) == n] or list(passes.values())
        rows = []
        for ops_of_pass in full:
            kids = {rec["entry"]: [sp.id for sp in tr.spans if sp.parent == op.id]
                    for op, rec in ops_of_pass}

            def execs(names):
                return tr.executions([s for name in names for s in kids.get(name, [])])

            every = tr.executions([op.id for op, _ in ops_of_pass])
            py = tr.python_nodes(every)
            composed = execs(self.COMPOSED)
            row = {f"queries.{rec['entry']}_s": rec["op_s"] for _, rec in ops_of_pass}
            row.update({
                "queries.python_init_s": tr.metric_sum(every, PYTHON_INIT),
                "queries.python_rows_out": sum(node.metrics.get(ROWS, 0.0)
                                               for _, node in py),
                "queries.scan_tasks": tr.scan_tasks(every),
                "match.tokens_python_s": tr.metric_sum(
                    execs(self.MATCH_FAMILY), PYTHON_TIME),
                "compose.exchanges": tr.count_nodes(composed, EXCHANGES),
                "compose.shuffle_mb": tr.metric_sum(
                    composed, "shuffle bytes written") / MB,
                "compose.broadcast_collect_s": tr.metric_sum(
                    composed, "time to collect"),
                "compose.cached_frames_left": sum(rec["cached_left"]
                                                  for _, rec in ops_of_pass),
            })
            rows.append(row)
        keys = {k for r in rows for k in r}
        out = {k: median([r[k] for r in rows if k in r]) for k in keys}
        out.update({f"queries.{n}_s": t for n, t in self.probe_times.items()})
        pq = tr.named("queries.ann_pq.plan") + tr.named("queries.ann_pq.exec")
        out["similarity.pq_jobs"] = tr.jobs([sp.id for sp in pq])
        out.update(self.tokenizer_layers())
        return out


WORKLOADS = {w.name: w for w in (Ingest, Registry)}


def scratch_dir(root: str) -> str:
    path = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(path, exist_ok=True)
    return path
