"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest|registry \\
        --seed N --seconds S --trace 0|1

Run from the repository root.  One closed-loop client drives the engine on
``local[<cpus>]`` for ``--seconds`` (always finishing the op in flight),
checks every op's output outside the timed region, and prints the metrics
by name and unit; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs each op twice (untraced, then
traced), adds the single-layer probes and reports the per-layer metrics,
writing the spans to ``.perfbench/traces/``.  All scratch data lives under
``.perfbench/`` in the checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
MAX_RUN_S = 150.0  # stop starting new ops past this, whatever --seconds says


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "registry"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def build_session(work: str, nproc: int):
    """One local session; every file Spark, the JVM and the Python workers
    write goes under ``work``."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(f"{work}/{sub}", exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    # no hsperfdata files under /tmp, from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", f"{work}/local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.driver.extraJavaOptions",
                f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp "
                f"-Dderby.system.home={work}/tmp")
        # keep every job, stage and SQL execution of a run for the trace
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for every child to exit."""
    from perfbench.procmem import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def measure(wl, tracer, seconds: float, trace: bool, deadline: float,
            min_ops: int = 1):
    """Closed loop: op, check, next op, until ``seconds`` have passed and
    at least ``min_ops`` ops ran (a deadline cuts both short).  Traced runs
    issue every op twice, untraced then traced."""
    recs, traced_ops = [], []
    t0 = time.perf_counter()
    i = 0
    while True:
        for traced in (False, True) if trace else (False,):
            tracer.enabled = traced
            span, why = None, None
            try:
                with tracer.span("op", op=i) as span:
                    rec = wl.op(i)
            except Exception as e:  # a failed op is counted, not fatal
                traceback.print_exc()
                rec, why = {}, f"op raised {e!r}"
            finally:
                tracer.enabled = False
            if why is None:
                try:
                    why = wl.check(i, rec)
                except Exception as e:
                    traceback.print_exc()
                    why = f"check raised {e!r}"
            rec.update(i=i, traced=traced, ok=why is None, why=why)
            recs.append(rec)
            if why:
                print(f"op {i} failed: {why}", file=sys.stderr)
            elif traced:
                traced_ops.append((span, rec))
        i += 1
        now = time.perf_counter()
        if (now - t0 >= seconds and i >= min_ops) or now > deadline:
            return recs, traced_ops


def layer_metrics(wl, tracer, recs, traced_ops) -> dict:
    from perfbench.metrics import PER_LAYER, median

    tracer.enabled = True
    for why in wl.probes():
        recs.append({"i": -1, "traced": True, "ok": why is None, "why": why})
        if why:
            print(f"probe failed: {why}", file=sys.stderr)
    tracer.enabled = False
    tracer.resolve()
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(wl.layers(traced_ops))
    spans = [sp for sp, _ in traced_ops]
    mb = float(1 << 20)
    out["spark.jobs_per_op"] = median([tracer.jobs([s.id]) for s in spans])
    out["spark.tasks_per_op"] = median([tracer.tasks([s.id]) for s in spans])
    out["spark.shuffle_write_mb_per_op"] = median([
        tracer.metric_sum(tracer.executions([s.id]), "shuffle bytes written") / mb
        for s in spans
    ])
    plain = {r["i"]: r["op_s"] for r in recs if r["ok"] and not r["traced"]}
    out["trace.overhead"] = median([r["op_s"] / plain[r["i"]]
                                    for _, r in traced_ops if r["i"] in plain])
    return {k: float(v) for k, v in out.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "full_lattice_search_spark")):
        print("perfbench: no full_lattice_search_spark package next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    start = time.perf_counter()  # set-up includes importing the engine
    sys.path.insert(0, ROOT)
    from perfbench.metrics import (
        END_TO_END,
        PER_LAYER,
        call_medians,
        describe,
        latency_geomean,
    )
    from perfbench.procmem import RssSampler
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Context, scratch_dir

    nproc = cpus()
    work = scratch_dir(ROOT)
    with open(os.path.join(HERE, "goldens.json")) as f:
        goldens = json.load(f)
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        spark = build_session(work, nproc)
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](
            Context(spark, work, args.seed, nproc, tracer, goldens,
                    bool(args.trace)))
        session_s = time.perf_counter() - start
        wl.setup()
        setup_s = time.perf_counter() - start
        sampler.reset()  # peak memory of the measured ops, not the set-up
        recs, traced_ops = measure(wl, tracer, args.seconds, bool(args.trace),
                                   start + MAX_RUN_S, wl.min_ops(bool(args.trace)))
        sampler.stop()
        layers = None
        if args.trace:
            layers = layer_metrics(wl, tracer, recs, traced_ops)
            layers["peak_rss_mb"] = sampler.peak / 1e6
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
            tracer.dump(
                os.path.join(ROOT, ".perfbench", "traces",
                             f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "cpus": nproc,
                 "layers": layers,
                 "ops": [{k: r[k] for k in ("i", "traced", "ok", "op_s") if k in r}
                         for r in recs]},
            )
    finally:
        if spark is not None:
            stop_session(spark)
        if sampler.is_alive():
            sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    ok = [r for r in recs if r["ok"]]
    plain = [r for r in ok if not r["traced"]]
    failed = len(recs) - len(ok)
    print(f"perfbench workload={args.workload} seed={args.seed} cpus={nproc} "
          f"seconds={args.seconds:g} trace={args.trace}")
    print(f"setup_s {setup_s:.4f} s (session {session_s:.2f} s, "
          + ", ".join(f"{k} {v:.2f} s" for k, v in wl.phases.items()) + ")")
    print(f"peak_rss_mb {sampler.peak / 1e6:.1f} MB ("
          + ", ".join(f"{k} {n}x {b / 1e6:.0f} MB"
                      for k, (n, b) in sorted(sampler.peak_parts.items())) + ")")
    print(f"latency_geomean_s {latency_geomean(plain):.4f} s over "
          f"{len(call_medians(plain))} call kinds")
    for kind, samples in call_medians(plain).items():
        print(f"  {kind} {describe(samples, 's')} ("
              + " ".join(f"{v:.2f}" for v in samples) + ")")
    for name, unit, samples in wl.summary(plain) if plain else ():
        print(f"{name} {describe(samples, unit)}")
    print(f"error_rate {failed / len(recs):.4f} ratio ({failed} of {len(recs)} "
          "ops failed or gave wrong output)")
    if args.trace:
        for name, value in layers.items():
            print(f"  {name} {value:.6g} {PER_LAYER[name]}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": setup_s,
            "latency_geomean_s": latency_geomean(plain),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(recs),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
