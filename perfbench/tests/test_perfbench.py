"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

All but the last run without Spark; the memory-sampler test starts a small
local session (about 15 s).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.metrics import (  # noqa: E402
    END_TO_END,
    PER_LAYER,
    describe,
    frame_digest,
    latency_geomean,
    tail,
)
from perfbench.trace import Tracer, parse_metric  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# -- tail percentiles ---------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expected):
    p, value, count = tail(list(range(n)))
    assert p == expected
    assert count == n
    if p is not None:
        beyond = [v for v in range(n) if v > value]
        assert len(beyond) >= 10


def test_describe_reports_p50_tail_and_count():
    assert describe([1.0, 2.0, 3.0], "s") == "p50 2.0000 s; n=3"
    text = describe([float(v) for v in range(100)], "s")
    assert text.startswith("p50 49.5000 s; p90 ") and text.endswith("; n=100")


def test_latency_geomean_weighs_every_call_kind_the_same():
    recs = [{"calls": {"long": 8.0, "short": 0.5}},
            {"calls": {"long": 8.0, "short": 0.5}},
            {"calls": {"long": 80.0, "short": 0.5}}]  # one outlier
    assert latency_geomean(recs) == pytest.approx(2.0)  # sqrt(8 * 0.5)
    slower = [{"calls": {"long": 8.0 * 1.21, "short": 0.5}}]
    assert latency_geomean(slower) == pytest.approx(2.0 * 1.1)
    assert latency_geomean([]) == 0.0


# -- outputs checks feed error_rate ------------------------------------------


class FakeWorkload:
    """Each op returns a result frame; op 2's output is corrupted."""

    def __init__(self):
        self.frame = pd.DataFrame({"doc_id": ["a", "b", "c"], "score": [0.5, 0.25, 1.0]})
        self.golden = frame_digest(self.frame)

    def op(self, i):
        out = self.frame.copy()
        if i == 2:
            out.loc[1, "score"] = np.nextafter(0.25, 1.0)  # one ulp off
        time.sleep(0.002)
        return {"op_s": 0.002, "frame": out}

    def check(self, i, rec):
        got = frame_digest(rec["frame"])
        return None if got == self.golden else f"digest {got} != {self.golden}"


def test_corrupted_output_is_counted_as_failed():
    from perfbench.run import measure

    recs, traced = measure(FakeWorkload(), Tracer(None, False), seconds=0.05,
                           trace=False, deadline=time.perf_counter() + 5)
    assert len(recs) > 3
    failed = [r["i"] for r in recs if not r["ok"]]
    assert failed == [2]
    assert traced == []


def test_loop_runs_at_least_min_ops():
    from perfbench.run import measure

    recs, _ = measure(FakeWorkload(), Tracer(None, False), seconds=0.0,
                      trace=False, deadline=time.perf_counter() + 5, min_ops=7)
    assert len(recs) == 7


def test_frame_digest_ignores_order_but_not_values():
    df = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"], "c": [0.5, 1.5, 2.5]})
    shuffled = df.iloc[[2, 0, 1]][["c", "a", "b"]]
    assert frame_digest(df) == frame_digest(shuffled)
    changed = df.copy()
    changed.loc[0, "b"] = "w"
    assert frame_digest(df) != frame_digest(changed)
    assert frame_digest(df) != frame_digest(df.iloc[:2])


# -- metric names -------------------------------------------------------------


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == END_TO_END
    assert layers == PER_LAYER
    for name in [*e2e, *layers]:
        assert NAME.match(name), name
    assert not set(e2e) & set(layers)


def test_parse_metric_reads_sql_metric_strings():
    assert parse_metric("1,974") == 1974
    assert parse_metric("256.0 B") == 256
    assert parse_metric("52 ms") == pytest.approx(0.052)
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "2.8 s (599 ms, 733 ms, 750 ms (stage 2.0: task 6))") == 2.8
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "2.1 MiB (538.8 KiB, 555.1 KiB, 560.6 KiB "
                        "(stage 2.0: task 5))") == pytest.approx(2.1 * 2**20)
    assert parse_metric(None) == 0.0


def test_ad_hoc_queries_follow_the_seed():
    from perfbench.workloads import make_queries

    assert make_queries(1, 16) == make_queries(1, 16)
    assert make_queries(1, 16) != make_queries(2, 16)
    mix = [q.scoring for q in make_queries(1, 400)]
    assert 0.4 < mix.count("bm25") / 400 < 0.6
    assert 0.15 < mix.count("payload") / 400 < 0.35


# -- /proc memory sampler -----------------------------------------------------


def test_memory_sampler_finds_the_jvm_and_python_workers():
    from perfbench.procmem import RssSampler, classify, rss_bytes
    from perfbench.run import build_session, stop_session
    from perfbench.workloads import scratch_dir

    work = scratch_dir(ROOT)
    spark = build_session(work, 2)
    try:
        def ident(batches):
            yield from batches

        spark.range(1000, numPartitions=2).mapInPandas(ident, "id long").collect()
        groups = classify(os.getpid())
        assert groups.get("jvm"), groups
        assert groups.get("python_daemon") or groups.get("python_worker"), groups
        sampler = RssSampler()
        total = sampler.sample()
        jvm_only = sum(rss_bytes(p) for p in groups["jvm"])
        assert total > jvm_only > 0
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
