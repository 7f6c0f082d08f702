#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload snapshot_stream --seed 1 --seconds 20 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is the
separate traced run that gives the per-layer metrics. Every metric is
printed by name with its unit; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. Facts
about the run, and the spans of a traced run, go to an artifact under
``perfbench/_out/``. See perfbench/README.md for the workloads.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(BENCH_DIR))

from perfbench import workloads  # noqa: E402
from perfbench.harness import write_artifact  # noqa: E402

WORKLOADS = {
    "snapshot_stream": "snapshot",
    "delta_stream": "delta",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--symbols", type=int, default=None,
                    help="symbols per cycle (default: the workload's scale)")
    ap.add_argument("--max-cycles", type=int, default=None,
                    help="stop after this many timed cycles")
    args = ap.parse_args(argv)
    # exit through the interpreter on SIGTERM so the run's scratch
    # directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    metrics, attempted, failed, artifact = workloads.run_stream(
        WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace),
        T_START, n_symbols=args.symbols, max_cycles=args.max_cycles,
    )
    artifact.update(attempted=attempted, failed=failed,
                    error_rate=failed / attempted,
                    metrics={k: v for k, (v, _) in metrics.items()})
    path = write_artifact(
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json", artifact
    )
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:14.6f} {unit}")
    print(f"{'error_rate':40s} {failed / attempted:14.6f} ratio "
          f"({failed} of {attempted} cycles)")
    print(f"artifact: {os.path.relpath(path)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
