"""Worker bootstrap (full_lattice_search_spark/_worker.py): the stat-guarded
zip-directory cache and the import-time gc freeze happen in Spark Python
workers only, and a changed archive still imports fresh."""

from __future__ import annotations

import gc
import json
import os
import subprocess
import sys
import textwrap
import zipimport
from pathlib import Path

import pandas as pd
import pytest

from full_lattice_search_spark import LatticeConfig, _worker, lattice_tokenize
from full_lattice_search_spark.schema import DOCUMENTS_SCHEMA

REPO = Path(__file__).resolve().parents[1]

# Runs in a fresh interpreter so pytest's own import system is untouched.
ZIP_GUARD_SCRIPT = textwrap.dedent(
    """
    import importlib, json, os, sys, zipfile, zipimport

    from full_lattice_search_spark import _worker

    archive = os.path.join(sys.argv[1], "zpkg.zip")

    def write(mods):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zpkg/__init__.py", "")
            for m in mods:
                z.writestr(f"zpkg/{m}.py", f"NAME = {m!r}\\n")

    reads = []
    real_read = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return real_read(path)

    zipimport._read_directory = spy

    def n_reads(fn):
        del reads[:]
        fn()
        return reads.count(archive)

    write(["a"])
    sys.path.insert(0, archive)
    import zpkg.a

    out = {"importers": sum(
        isinstance(v, zipimport.zipimporter) and v.archive == archive
        for v in sys.path_importer_cache.values())}
    out["stdlib_reads"] = n_reads(importlib.invalidate_caches)
    _worker.install_zip_guard()
    out["installed"] = (
        zipimport.zipimporter.invalidate_caches is _worker._invalidate_caches)
    out["first_reads"] = n_reads(importlib.invalidate_caches)
    out["unchanged_reads"] = n_reads(importlib.invalidate_caches)
    out["shares_cache"] = all(
        v._files is zipimport._zip_directory_cache[archive]
        for v in sys.path_importer_cache.values()
        if isinstance(v, zipimport.zipimporter) and v.archive == archive)

    write(["a", "b"])
    out["changed_reads"] = n_reads(importlib.invalidate_caches)
    import zpkg.b
    out["new_module"] = zpkg.b.NAME
    print(json.dumps(out))
    """
)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ invalidates zip caches lazily"
)
def test_zip_guard_reads_only_changed_archives(tmp_path):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run(
        [sys.executable, "-c", ZIP_GUARD_SCRIPT, str(tmp_path)],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    # the archive root and the zpkg package each hold an importer on it;
    # the stdlib re-reads the directory once per importer
    assert out["importers"] == 2
    assert out["stdlib_reads"] == 2
    assert out["installed"]
    # first guarded call: no stamp yet, so one read for both importers
    assert out["first_reads"] == 1
    # unchanged archive: no read, every importer on the cached directory
    assert out["unchanged_reads"] == 0
    assert out["shares_cache"]
    # rewritten archive: read once, and the new module imports
    assert out["changed_reads"] == 1
    assert out["new_module"] == "b"


def test_workers_prepared_driver_untouched(spark):
    docs = spark.createDataFrame(
        [(f"d{i}", [("text", "quick|0|0|0.6 jumped|1|0|0.9", None, 0)])
         for i in range(8)],
        DOCUMENTS_SCHEMA,
    ).repartition(4)
    assert lattice_tokenize(docs, LatticeConfig()).count() == 16

    def report(batches):
        import gc
        import importlib
        import os
        import time
        import zipimport

        importlib.invalidate_caches()  # the first guarded call may read once
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        invalidate_ms = (time.perf_counter() - t0) * 1e3
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "guard": [zipimport.zipimporter.invalidate_caches
                      is _worker._invalidate_caches],
            "frozen": [gc.get_freeze_count()],
            "invalidate_ms": [invalidate_ms],
        })

    rep = spark.range(8, numPartitions=8).mapInPandas(
        report, "pid long, guard boolean, frozen long, invalidate_ms double"
    ).toPandas()
    assert len(rep) == 8
    assert rep["guard"].all() == (sys.version_info < (3, 13)), rep
    assert (rep["frozen"] > 0).all(), rep
    # the stdlib re-reads pyspark.zip's directory once per importer:
    # 0.1-0.4 s per call in an engine worker
    assert (rep["invalidate_ms"] < 50).all(), rep

    assert zipimport.zipimporter.invalidate_caches is _worker._STDLIB_INVALIDATE
    assert gc.get_freeze_count() == 0
