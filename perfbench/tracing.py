"""In-memory span tracer, Spark event-log reader and process-tree memory sampler.

The tracer records spans from the benchmark's own files: it replaces a
public function of the package, at the place its caller looks it up, by a
wrapper that opens a span around the call, and puts the original back on
``restore()``. Each span also sets the Spark job group of the driver thread
to the span id, so the stages a span launches can be attributed to it from
the event log afterwards (``arith.attribute_stages``).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_id = 1
        self._patches: list[tuple[object, str, object]] = []

    @staticmethod
    def group_of(span_id: int) -> str:
        return f"span-{span_id}"

    def _set_group(self, span_id: int | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if span_id is None else self.group_of(span_id)
        )

    @contextmanager
    def span(self, name: str, **attrs):
        sid = self._next_id
        self._next_id += 1
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper. ``before(args,
        kwargs)`` runs inside the span ahead of the call and its result is
        handed to ``after(rec, ctx, args, kwargs, out)``, which may add
        attributes to the span record."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                ctx = before(args, kwargs) if before else None
                out = orig(*args, **kwargs)
                if after:
                    after(rec, ctx, args, kwargs, out)
                return out

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until ``restore()``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s, default=str) + "\n")


def read_event_log(event_dir: str) -> list[dict]:
    """All records of the Spark event log(s) written under ``event_dir``."""
    out = []
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
    return out


def _children(pid_ppid: dict[int, int], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in pid_ppid.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants, from ``/proc``."""
    pid_ppid: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        rest = stat[stat.rfind(")") + 2 :].split()
        pid_ppid[int(name)] = int(rest[1])
    return _children(pid_ppid, root)


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the process tree, each page counted once: the
    sum of the proportional set sizes (a page shared by k processes, as
    forked Python workers share their daemon's, counts 1/k in each)."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # the process has exited
    return total


class RssSampler:
    """Samples the resident memory of this process tree (driver python,
    JVM, python workers) every ``interval`` seconds and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak
