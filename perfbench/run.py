"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_zipf --seed 1 --seconds 10 --trace 0

Runs one workload from a seed, checks its outputs, prints a report (one
metric per line with its unit and sample count), and prints as its last line
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics, and the run's spans are written
under ``.perfbench/spans/``. Exits non-zero on any wrong or failed operation,
and when the package is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench import layers
    from perfbench.workloads import E2E_METRICS, WORKLOADS, run_workload

    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    if not (ROOT / "nextsearch_api_spark" / "__init__.py").is_file():
        print(f"perfbench: no nextsearch_api_spark package in {ROOT}",
              file=sys.stderr)
        return 2

    out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    if args.trace:
        metrics = {name: {"value": out.layers[name], "unit": unit}
                   for name, unit, _, _ in layers.LAYER_METRICS}
        for name, _, _, moves in layers.LAYER_METRICS:
            out.say(f"layer {name} {out.layers[name]:.6g} -> {moves}")
    else:
        metrics = {name: {"value": out.e2e[name], "unit": unit}
                   for name, unit in E2E_METRICS}
    for err in out.errors:
        out.say(f"error {err}")
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
          f"trace {args.trace}")
    for line in out.lines:
        print(line)
    correct = out.failed == 0
    print(json.dumps({"correct": correct, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
