"""Checkpoint store: the append-only per-commit metrics log.

The reference keeps two state mechanisms and trusts neither — dlt pipeline
state (which it force-clears, ``pipeline_management.py:854-887``) and the
``MAX(modifier)`` re-derivation from the target (``:39-56``). Here the
feed's state — per-partition offsets, the pull cursor, the batch ids and
the batch count — lives in the lake snapshot each write commits, so data
and state land in one atomic swap. What remains here is informational: one
JSON line per committed batch (reference analog of per-sync metrics:
``monitoring.py:287-299``, row-count verification
``pipeline_management.py:70-128``), which ``CdcEngine.status()`` rates
throughput from. A crash before the line is written loses only the line.
"""

from __future__ import annotations

import json
import os
import time


class CheckpointStore:
    def __init__(self, root: str):
        self.root = root
        self.metrics_path = os.path.join(root, "metrics.jsonl")
        os.makedirs(root, exist_ok=True)

    @property
    def state_path(self) -> str:
        """The metrics log — the one file this store writes (the name the
        benchmark's size probe reads)."""
        return self.metrics_path

    def commit(self, batch_id: str, metrics: dict) -> None:
        """Append one committed batch's metrics line (a Decimal cursor in
        the metrics is logged as its string)."""
        row = {"batch_id": batch_id, "ts": time.time(), **metrics}
        with open(self.metrics_path, "a") as f:
            f.write(json.dumps(row, default=str) + "\n")

    def metrics(self) -> list[dict]:
        if not os.path.exists(self.metrics_path):
            return []
        with open(self.metrics_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def metrics_tail(self, n: int, chunk: int = 64 * 1024) -> list[dict]:
        """Last ``n`` metrics rows, reading from the END of the log.

        ``CdcEngine.status()`` is a health-poll hot path; on a feed with
        millions of committed batches, parsing the whole ``metrics.jsonl``
        per poll is an O(history) driver read. This seeks from EOF and
        grows the read window backwards only until ``n`` complete lines are
        in hand, so bytes read are O(n · line size), independent of log
        length."""
        if n <= 0 or not os.path.exists(self.metrics_path):
            return []
        with open(self.metrics_path, "rb") as f:
            f.seek(0, os.SEEK_END)
            size = f.tell()
            buf = b""
            pos = size
            # need n newline-terminated lines plus the boundary before them
            while pos > 0 and buf.count(b"\n") <= n:
                step = min(chunk, pos)
                pos -= step
                f.seek(pos)
                buf = f.read(step) + buf
        lines = [ln for ln in buf.split(b"\n") if ln.strip()]
        if pos > 0:
            lines = lines[1:]  # first line may be a partial read — drop it
        return [json.loads(ln) for ln in lines[-n:]]
