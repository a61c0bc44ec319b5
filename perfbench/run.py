"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload build|serve --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed, runs it against the package
at local[<cores of this process>], checks every timed result, and prints one
JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the workload with spans and Spark
stage data and reports the per-layer metrics, writing the spans to
``.perfbench/traces/``. Exits non-zero without a result when the package is
not next to ``perfbench/`` or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.env import PACKAGE  # noqa: E402


def execute(workload: str, seed: int, seconds: float, trace: bool, sizes=None, mutate=None) -> dict:
    """One run; returns the result object. ``mutate`` corrupts top-k results
    before their check (self-test only)."""
    from perfbench.env import configure, shutdown

    work = os.path.join(ROOT, ".perfbench", f"work-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure(ROOT, work, len(os.sched_getaffinity(0)))

    from perfbench import metrics, workloads
    from perfbench.procstat import RssSampler

    run = workloads.Run(work, seed, seconds, sizes or workloads.Sizes(), trace)
    run.mutate = mutate
    try:
        with RssSampler() as rss:
            workloads.WORKLOADS[workload](run)
        run.e2e["peak_rss_mb"] = rss.peak / 2**20
        if run.tracer is not None:
            traces = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(traces, exist_ok=True)
            run.tracer.dump(os.path.join(traces, f"{workload}-seed{seed}.json"))
    finally:
        shutdown(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    return {
        "correct": run.checks_ok and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics.emit(
            run.layers if trace else run.e2e,
            metrics.PER_LAYER if trace else metrics.END_TO_END,
        ),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: build / serve workloads")
    ap.add_argument("--workload", required=True, choices=("build", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    result = execute(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
