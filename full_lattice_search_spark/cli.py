"""spark-submit entry point for the extraction pipeline.

Designed for multi-executor clusters:

    spark-submit --py-files fls.zip -m ...  # via scripts/submit.py

The session sets nothing master-specific (``build_session`` with no core
count) — master/executors come from spark-submit flags, so the same job
runs on local[N], YARN, or K8s.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="full-lattice-search-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ex = sub.add_parser("extract", help="run the extraction pipeline")
    ex.add_argument("--input", required=True, help="input parquet/iceberg path")
    ex.add_argument("--output", required=True, help="output parquet dir")
    ex.add_argument("--checkpoint", required=True, help="checkpoint table dir")
    ex.add_argument("--n-buckets", type=int, default=32)
    ex.add_argument("--buckets-per-job", type=int, default=None,
                    help="checkpoint granularity: commit groups of at most "
                         "this many buckets (default: all pending in one job)")
    ex.add_argument("--salt-threshold", type=int, default=64)
    ex.add_argument("--lattice-format", default="lattice")
    ex.add_argument("--audio-inc-secs", type=float, default=0.01)

    gen = sub.add_parser("datagen", help="generate a synthetic corpus")
    gen.add_argument("--output", required=True)
    gen.add_argument("--n-docs", type=int, default=100000)
    gen.add_argument("--seed", type=int, default=42)
    gen.add_argument("--mega-every", type=int, default=2000)
    gen.add_argument("--partitions", type=int, default=None)

    q = sub.add_parser("match", help="run a match_lattice query")
    q.add_argument("--input", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("--slop", type=int, default=0)
    q.add_argument("--top-k", type=int, default=10)
    q.add_argument("--payload-only", action="store_true",
                   help="skip the BM25 similarity factor "
                        "(include_span_score=false)")
    q.add_argument("--boost", type=float, default=1.0)

    ix = sub.add_parser(
        "index", help="materialize the token index (postings + stats)"
    )
    ix.add_argument("--input", required=True)
    ix.add_argument("--output", required=True, help="token index path")
    ix.add_argument("--lattice-format", default="lattice")
    ix.add_argument("--audio-inc-secs", type=float, default=0.01)

    se = sub.add_parser(
        "search", help="run an ES-style match_lattice JSON body"
    )
    se.add_argument("--input", required=True)
    se.add_argument("--body", required=True,
                    help='e.g. \'{"match_lattice": {"field": {"query": '
                         '"quick fox", "slop": 2}}}\'')
    se.add_argument("--size", type=int, default=10)

    cu = sub.add_parser("curate", help="extract + quality-filter + dedup")
    cu.add_argument("--input", required=True)
    cu.add_argument("--output", required=True)
    cu.add_argument("--min-quality", type=float, default=0.2)
    cu.add_argument("--min-tokens", type=int, default=3)
    cu.add_argument("--dedup", choices=["exact", "minhash", "none"],
                    default="exact")
    cu.add_argument("--max-band-bucket", type=int, default=None,
                    help="minhash only: drop LSH band buckets larger than "
                         "this before the self-join (boilerplate guard)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from full_lattice_search_spark.session import build_session

    spark = build_session(f"fls-{args.cmd}")

    from full_lattice_search_spark.config import LatticeConfig, MatchLatticeParams

    from full_lattice_search_spark.sources.catalog import read_source

    if args.cmd == "datagen":
        from full_lattice_search_spark.datagen import synth_documents

        synth_documents(
            spark,
            args.n_docs,
            seed=args.seed,
            mega_every=args.mega_every,
            partitions=args.partitions,
        ).write.mode("overwrite").parquet(args.output)
        print(json.dumps({"status": "ok", "n_docs": args.n_docs}))
    elif args.cmd == "extract":
        from full_lattice_search_spark.pipeline import run_extraction

        config = LatticeConfig(
            lattice_format=args.lattice_format,
            audio_position_increment_seconds=args.audio_inc_secs,
        )
        docs = read_source(spark, args.input)
        metrics = run_extraction(
            spark,
            docs,
            args.output,
            args.checkpoint,
            n_buckets=args.n_buckets,
            config=config,
            salt_threshold=args.salt_threshold,
            buckets_per_job=args.buckets_per_job,
        )
        print(json.dumps({"status": "ok", **metrics}))
    elif args.cmd == "curate":
        from full_lattice_search_spark.operators.curate import curate_documents

        docs = read_source(spark, args.input)
        kept = curate_documents(
            docs,
            LatticeConfig(),
            min_quality=args.min_quality,
            min_tokens=args.min_tokens,
            dedup=args.dedup,
            max_band_bucket=args.max_band_bucket,
        )
        kept.write.mode("overwrite").parquet(args.output)
        n_in = docs.count()
        n_out = spark.read.parquet(args.output).count()
        print(json.dumps({"status": "ok", "docs_in": n_in, "docs_kept": n_out}))
    elif args.cmd == "index":
        from full_lattice_search_spark.sources.token_index import (
            write_token_index,
        )

        config = LatticeConfig(
            lattice_format=args.lattice_format,
            audio_position_increment_seconds=args.audio_inc_secs,
        )
        docs = read_source(spark, args.input)
        write_token_index(docs, args.output, config)
        n = spark.read.parquet(args.output).count()
        print(json.dumps({"status": "ok", "postings": n}))
    elif args.cmd == "search":
        from full_lattice_search_spark.api import search as api_search

        resp = api_search(
            read_source(spark, args.input),
            json.loads(args.body),
            LatticeConfig(),
            size=args.size,
        )
        print(json.dumps(resp))
    elif args.cmd == "match":
        from full_lattice_search_spark.operators.match import match_lattice

        docs = read_source(spark, args.input)
        hits = match_lattice(
            docs,
            args.query,
            LatticeConfig(),
            MatchLatticeParams(
                slop=args.slop,
                include_span_score=not args.payload_only,
                boost=args.boost,
            ),
            top_k=args.top_k,
        ).collect()
        print(
            json.dumps(
                {
                    "status": "ok",
                    "hits": [
                        {"doc_id": r["doc_id"], "score": r["score"],
                         "n_spans": r["n_spans"]}
                        for r in hits
                    ],
                }
            )
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
