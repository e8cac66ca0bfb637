"""One benchmark run: set up, measure, check, and fold samples into metrics.

Untraced runs give the end-to-end metrics. A traced run repeats the same
workload with spans around the package's public calls and the Spark event
log on, and gives the per-layer metrics instead (``layers.py``).
"""

from __future__ import annotations

import json
import os
import sys
import time

import arith
import harness
from tracing import RssSampler
from workloads import WORKLOADS

MB = 1024 * 1024


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(w, setup_s: float, peak_rss: int) -> tuple[dict, dict]:
    """The end-to-end metrics and, beside them, the sample counts and tail
    percentiles they rest on. Throughput is events over the time spent
    committing; the read probe between commits is not part of it."""
    window_s = sum(w.commit_s)
    commit_tail, commit_pct, n_commit = arith.tail_value(w.commit_s)
    read_tail, read_pct, n_read = arith.tail_value(w.read_s)
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "commit_eps": metric(w.events / window_s, "events/s"),
        "commit_p50_s": metric(arith.median(w.commit_s), "s"),
        "commit_tail_s": metric(commit_tail, "s"),
        "read_p50_s": metric(arith.median(w.read_s), "s"),
        "read_tail_s": metric(read_tail, "s"),
        "scan_s": metric(arith.median(w.scan_s), "s"),
        "peak_rss_mb": metric(peak_rss / MB, "MB"),
    }
    detail = {
        "window_s": window_s,
        "events": w.events,
        "commits": n_commit,
        "commit_tail_percentile": commit_pct,
        "lookups": n_read,
        "read_tail_percentile": read_pct,
        "scans": len(w.scan_s),
        "samples_s": {
            k: [round(x, 3) for x in v]
            for k, v in (("commit", w.commit_s), ("read", w.read_s), ("scan", w.scan_s))
        },
    }
    return metrics, detail


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (``/proc/stat``): run-to-run noise that no change to the
    program causes."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def run(args, work: str, t_start: float, spans_out: str) -> dict:
    steal0 = steal_s()
    rss = RssSampler().start()
    event_dir = os.path.join(work, "events") if args.trace else None
    spark = harness.start_spark(work, event_dir=event_dir)
    w = None
    try:
        w = WORKLOADS[args.workload](spark, work, args.seed)
        w.setup()
        setup_s = time.perf_counter() - t_start
        if args.trace:
            import layers

            metrics, detail = layers.traced(w, args.seconds, event_dir, spans_out)
        else:
            w.window(args.seconds)
            t_verify = time.perf_counter()
            w.verify()
            metrics, detail = end_to_end(w, setup_s, rss.stop())
            detail["verify_s"] = time.perf_counter() - t_verify
    finally:
        if w is not None:
            w.close()
        harness.shutdown_jvm(w.spark if w is not None else spark)
        rss.stop()
    detail["failed_ratio"] = arith.failed_ratio(w.tally.failed, w.tally.attempted)
    detail["run_s"] = time.perf_counter() - t_start
    detail["steal_s"] = steal_s() - steal0
    detail["problems"] = w.tally.problems[:5]
    print(json.dumps({"workload": args.workload, "seed": args.seed, **detail}), file=sys.stderr)
    return {
        "correct": w.tally.failed == 0,
        "attempted": w.tally.attempted,
        "failed": w.tally.failed,
        "metrics": metrics,
    }
