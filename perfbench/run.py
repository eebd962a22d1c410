"""Benchmark entry point: one workload, one seed, a fresh process.

    python3 perfbench/run.py --workload catchup|tail|queries --seed N \\
        --seconds S --trace 0|1

Prints diagnostics, then as its last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``). Run it from the
root of a checkout; it imports the engine from there.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

WORKLOADS = ("catchup", "tail", "queries")


def main() -> int:
    import harness

    t_proc = harness.process_start()
    # a TERM ends the run through the finally below, which stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import omop_meds_spark  # noqa: F401  (fails fast outside a checkout)

    harness.prepare_env()
    mod = __import__(args.workload)
    try:
        mod.run(args.seed, args.seconds, bool(args.trace), t_proc)
    finally:
        harness.shutdown()
        shutil.rmtree(harness.WORK / f"run-{os.getpid()}", ignore_errors=True)
        harness.prune_cache()
    return 0


if __name__ == "__main__":
    sys.exit(main())
