"""Record the benchmark's golden output digests into ``goldens.json``.

    python3 perfbench/goldens.py

- ``ingest``: for the default seed (1) and the held-out seed (2), the
  digests of the direct extraction operator and of the tokenizer over the
  seeded corpus — every op's pipeline output and postings must match them.
- ``search``: for seeds 1 and 2, the digest of each probed ad-hoc query's
  top-k on both read paths over that corpus.
- ``registry``: the digest of every registry entry on the fixed benchmark
  tables.  Each one is first confirmed against that entry's DuckDB
  ``oracle_sql()`` over the same parquet files, with the same
  normalization as the repository's oracle checker; a mismatch aborts.

Runs from any directory; needs DuckDB.  Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SEEDS = (1, 2)


def main() -> int:
    import duckdb

    from full_lattice_search_spark.plans.queries import ORACLES, QUERIES
    from full_lattice_search_spark.sources.token_index import write_token_index
    from perfbench import tables
    from perfbench.metrics import REGISTRY_ENTRIES, frame_digest, hits_digest
    from perfbench.run import build_session, cpus, stop_session
    from perfbench.trace import Tracer
    from perfbench.workloads import (
        Context,
        Ingest,
        make_queries,
        scan_query,
        scratch_dir,
    )

    work = scratch_dir(ROOT)
    spark = build_session(work, cpus())
    goldens: dict = {"ingest": {}, "registry": {}, "search": {}}
    failures = []
    try:
        for seed in SEEDS:
            ing = Ingest(Context(spark, f"{work}/s{seed}", seed, cpus(),
                                 Tracer(spark, False), {}))
            docs = ing.write_corpus(f"{work}/s{seed}/corpus", seed)
            ref = ing.references(docs)
            goldens["ingest"][str(seed)] = ref
            index = f"{work}/s{seed}/index"
            write_token_index(docs, index)
            digests = {}
            for qi, q in enumerate(make_queries(seed, Ingest.N_QUERIES)):
                scan = scan_query(docs, q, Ingest.TOP_K)
                hits = ing.lookup(index, q)
                if q.scoring == "payload" and scan != hits:
                    failures.append(f"search seed {seed} query {qi}")
                digests[str(qi)] = hits_digest([scan, hits])
            goldens["search"][str(seed)] = digests
            print(f"seed {seed}: ingest {ref}, search {digests}", flush=True)

        data = tables.write_tables(f"{work}/tables")
        con = duckdb.connect()
        for t in ("documents", "embeddings", "lineitem"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for name in REGISTRY_ENTRIES:
            got = frame_digest(QUERIES[name](spark, data).toPandas())
            want = frame_digest(con.sql(ORACLES[name]).df())
            ok = got == want
            print(f"{'PASS' if ok else 'FAIL'} {name}: spark {got} oracle {want}",
                  flush=True)
            if not ok:
                failures.append(name)
            goldens["registry"][name] = got
            spark.catalog.clearCache()
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    if failures:
        print(f"not recorded, mismatches: {failures}")
        return 1
    with open(os.path.join(ROOT, "perfbench", "goldens.json"), "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    print("wrote perfbench/goldens.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
