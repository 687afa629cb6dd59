"""Collect traced runs into one per-layer table.

    python3 perfbench/layer_table.py OUT_PREFIX TRACE.json [TRACE.json ...]

Reads the trace files that ``run.py --trace 1`` writes under
``.perfbench/traces/`` and writes ``OUT_PREFIX.json`` (every per-layer
metric, per workload) and ``OUT_PREFIX.md`` (the same as a markdown
table, metrics that are 0 on every workload left out).
"""

from __future__ import annotations

import json
import os
import platform
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.metrics import PER_LAYER  # noqa: E402


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown cpu"


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__)
        return 2
    prefix, paths = argv[0], argv[1:]
    runs = []
    for p in paths:
        with open(p) as f:
            t = json.load(f)
        runs.append({k: t[k] for k in ("workload", "seed", "cpus", "layers")})
    host = {"cpus": runs[0]["cpus"], "machine": platform.machine(),
            "cpu_model": cpu_model()}
    with open(f"{prefix}.json", "w") as f:
        json.dump({"host": host, "runs": runs}, f, indent=1)
        f.write("\n")
    cols = [f"{r['workload']} (seed {r['seed']})" for r in runs]
    lines = [
        f"Per-layer metrics of one traced run per workload on local[{host['cpus']}] "
        f"({host['cpus']} cpus, {host['cpu_model']}, {host['machine']}).",
        "Not comparable with the 32-vCPU `BENCH_r0*` records or with bench.py.",
        "",
        "| metric | unit | " + " | ".join(cols) + " |",
        "|---|---|" + "---|" * len(cols),
    ]
    for name, unit in PER_LAYER.items():
        vals = [r["layers"].get(name, 0.0) for r in runs]
        if any(vals):
            lines.append(f"| `{name}` | {unit} | "
                         + " | ".join(f"{v:.4g}" for v in vals) + " |")
    with open(f"{prefix}.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
