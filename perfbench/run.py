"""Run one benchmark workload (or all of them) and print its metrics.

    python3 perfbench/run.py --workload render_flat --seed 1 --seconds 10 --trace 0

Prints one line per metric (name, value, unit), then, as the last line, one
JSON object {"correct", "attempted", "failed", "metrics"}.  With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones,
and the span file is written under .perfbench_work/traces/.  Exits 1 when
any output row is wrong, 2 when the repository is not there to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("render_flat", "extract_mixed", "crawl_dedup")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("rust_html2text_spark", os.path.join("goldens", "render_goldens.parquet")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    sys.path.insert(0, ROOT)
    from perfbench.harness import (
        E2E_UNITS,
        PER_LAYER_UNITS,
        Run,
        print_metrics,
        shutdown_jvm,
    )

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    correct, attempted, failed, out = True, 0, 0, {}
    for name in names:
        run = Run(name, args.seed, args.seconds, bool(args.trace))
        try:
            result = run.execute()
            if args.trace:
                print(f"{name} trace file: {run.write_trace(result)}")
        finally:
            # each workload launches its own JVM: set-up time includes it,
            # and the JVM's temp directory lives in the run's directory
            shutdown_jvm()
            run.cleanup()
        metrics, units = (
            (result["layers"], PER_LAYER_UNITS)
            if args.trace
            else (result["e2e"], E2E_UNITS)
        )
        print_metrics(name, metrics, units)
        print_metrics(
            name,
            {
                "error_frac": run.error_rows / max(run.attempted, 1),
                "mismatch_rows": run.mismatch_rows,
            },
            {"error_frac": "ratio", "mismatch_rows": "count"},
        )
        for line in run.log:
            print(f"{name} check failed: {line}")
        correct &= run.mismatch_rows == 0
        attempted += run.attempted
        failed += run.mismatch_rows + run.error_rows
        prefix = "" if len(names) == 1 else f"{name}."
        out.update(
            {prefix + k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        )
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
