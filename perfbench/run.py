"""Benchmark entry point.

    python3 perfbench/run.py --workload tail_heavy --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds nothing: the package is imported from
the checkout. With ``--trace 0`` the last line of standard output is one
JSON object holding every end-to-end metric; with ``--trace 1`` it holds
the per-layer metrics of a traced run instead (see ``METRICS.md``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.getcwd()
PACKAGE = "patuha_etl_dlt_spark"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["tail_heavy", "sync_small"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _terminate(signum, frame):
    # unwind through the finally blocks: they stop the JVM and remove the
    # run's work directory
    sys.exit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"run from the repository root: no {PACKAGE}/ under {ROOT}", file=sys.stderr)
        return 2
    # the package is not installed: the driver and Spark's Python workers
    # both import it from the checkout
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import measure

    runs_dir = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(runs_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs_dir)
    spans_out = os.path.join(ROOT, ".perfbench_spans", f"{args.workload}-seed{args.seed}.jsonl")
    if args.trace:
        os.makedirs(os.path.dirname(spans_out), exist_ok=True)
    try:
        result = measure.run(args, work, T_START, spans_out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(runs_dir)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
