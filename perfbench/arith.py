"""Pure arithmetic behind the benchmark's numbers (no Spark, no I/O).

Kept apart so the self-tests in ``test_arith.py`` can check every rule the
metrics rest on: medians, the ten-beyond tail rule, the failure ratio,
span self time and the attribution of Spark event-log stages to spans.
"""

from __future__ import annotations

import statistics


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def tail_percentile(samples, beyond: int = 10):
    """The highest percentile that has at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)`` where ``value`` is the sample at
    ascending rank ``n - beyond - 1`` (so exactly ``beyond`` samples lie
    beyond it) and ``percentile`` is its rank as a share of ``n`` in
    percent. Returns ``None`` when ``n <= beyond``: no such percentile
    exists."""
    vals = sorted(samples)
    n = len(vals)
    if n <= beyond:
        return None
    k = n - beyond - 1
    return vals[k], 100.0 * (k + 1) / n, n


def tail_value(samples, beyond: int = 10, floor_pct: float = 90.0) -> tuple[float, float, int]:
    """The tail metric reported per run: the ten-beyond percentile when it
    is at least the 90th, else the slowest sample (percentile 100).

    A run holds one compaction period (a few dozen commits at most), so
    the ten-beyond percentile does not exist or sits near the median; the
    fallback keeps the metric a tail, and in a whole-period window the
    slowest commit is a compaction commit. The switch to the percentile
    needs 100 samples, far from this benchmark's run sizes."""
    vals = sorted(samples)
    if not vals:
        raise ValueError("tail of no samples")
    got = tail_percentile(vals, beyond)
    if got is not None and got[1] >= floor_pct:
        return got
    return vals[-1], 100.0, len(vals)


def failed_ratio(failed: int, attempted: int) -> float:
    if attempted <= 0:
        raise ValueError("failed_ratio needs at least one attempt")
    if failed < 0 or failed > attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((float(a), float(b)) for a, b in intervals if b > a):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the union of its children's intervals,
    each clipped to the span."""
    s, e = span["start"], span["end"]
    clipped = [(max(s, c["start"]), min(e, c["end"])) for c in children]
    return (e - s) - union_length(clipped)


def children_of(spans: list[dict]) -> dict:
    out: dict = {}
    for sp in spans:
        out.setdefault(sp["parent"], []).append(sp)
    return out


def descendants(span_id, kids: dict) -> list:
    """Ids of ``span_id`` and every span below it."""
    out, todo = [], [span_id]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo.extend(c["id"] for c in kids.get(sid, []))
    return out


# ---------------------------------------------------------------- event log

GROUP_KEY = "spark.jobGroup.id"


def _group(props) -> str | None:
    return (props or {}).get(GROUP_KEY)


def attribute_stages(events) -> dict:
    """Fold Spark event-log records into per-job-group stage statistics.

    Each stage is attributed to the job group that was set when the job
    submitting it started (the benchmark sets one job group per span).
    Returns ``{group: {"jobs", "stages", "tasks", "shuffle_bytes",
    "spill_bytes", "slot_wait_s", "stage_run_s": [per-stage list of task
    run times in s]}}``; records of unknown kinds are ignored."""
    stage_group: dict[int, str | None] = {}
    stage_submit: dict[int, float] = {}
    per: dict = {}

    def bucket(g):
        return per.setdefault(
            g,
            {
                "jobs": 0,
                "stages": 0,
                "tasks": 0,
                "shuffle_bytes": 0,
                "spill_bytes": 0,
                "slot_wait_s": 0.0,
                "stage_run_s": {},
            },
        )

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group(ev.get("Properties"))
            bucket(g)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            info = ev.get("Stage Info", {})
            sid = info.get("Stage ID")
            g = _group(ev.get("Properties"))
            if g is not None or sid not in stage_group:
                stage_group[sid] = g
            if info.get("Submission Time") is not None:
                stage_submit[sid] = info["Submission Time"]
            bucket(stage_group[sid])["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            b = bucket(stage_group.get(sid))
            tinfo = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            b["tasks"] += 1
            b["shuffle_bytes"] += int(
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            b["spill_bytes"] += int(tm.get("Disk Bytes Spilled", 0))
            sub = stage_submit.get(sid)
            launch = tinfo.get("Launch Time")
            if sub is not None and launch is not None:
                b["slot_wait_s"] += max(0.0, (launch - sub) / 1000.0)
            b["stage_run_s"].setdefault(sid, []).append(
                tm.get("Executor Run Time", 0) / 1000.0
            )
    for b in per.values():
        b["stage_run_s"] = list(b["stage_run_s"].values())
    return per


def task_skew(stage_run_s: list[list[float]]) -> float:
    """Max ÷ median task run time in the stage with the most total run
    time (1.0 = perfectly even; 0.0 when no stage ran)."""
    stages = [s for s in stage_run_s if s]
    if not stages:
        return 0.0
    heavy = max(stages, key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med > 0 else 1.0
