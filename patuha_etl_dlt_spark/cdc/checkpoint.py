"""Checkpoint store: per-partition offsets + batch lineage + metrics.

Replaces the reference's two state mechanisms — dlt pipeline state (which
it distrusts and force-clears, ``pipeline_management.py:854-887``) and the
``MAX(modifier)`` re-derivation from the target (``:39-56``) — with one
authoritative, atomically-swapped state document plus an append-only
metrics log (reference analog of per-sync metrics: ``monitoring.py:287-299``,
row-count verification ``pipeline_management.py:70-128``).

Offsets are per feed-partition LSN high-water marks. The engine's commit
order is: (1) MERGE with batch_id stamped into the lake snapshot,
(2) checkpoint commit. A crash between the two is healed on restart:
the lake's batch-id idempotence skips the re-MERGE and the checkpoint is
re-committed — replay converges (north rule).
"""

from __future__ import annotations

import json
import os
import time
from decimal import Decimal

from patuha_etl_dlt_spark.lake.metadata import atomic_write


_NUMERIC = (int, float, Decimal)


def _encode_cursor(v):
    """JSON form of a cursor: a Decimal (a DECIMAL cursor column) is
    stored tagged with its exact digits, so it reads back as a Decimal
    that compares numerically; every other cursor is stored as is."""
    return {"decimal": str(v)} if isinstance(v, Decimal) else v


def _decode_cursor(v):
    return Decimal(v["decimal"]) if isinstance(v, dict) else v


def _max_cursor(prev, new):
    """Monotone-max for pull cursors that is TYPE-STABLE: int, float and
    Decimal compare numerically (a source whose cursor round-trips
    int→float — e.g. a DOUBLE MAX() — can never move the high-water mark
    backwards); same-type values compare natively; any other type change
    is an explicit error, not a silent reset (the old behavior let a
    replayed older batch regress the cursor and re-pull a whole window)."""
    if prev is None:
        return new
    if (
        isinstance(prev, _NUMERIC)
        and isinstance(new, _NUMERIC)
        and not isinstance(prev, bool)
        and not isinstance(new, bool)
    ):
        # keep the winner's own type (int stays int unless a float wins)
        return prev if prev >= new else new
    if type(prev) is type(new):
        return max(prev, new)
    raise TypeError(
        f"cursor type changed: {type(prev).__name__}({prev!r}) -> "
        f"{type(new).__name__}({new!r}); a type flip would bypass the "
        "monotone guard. Migrate the cursor column explicitly (reset the "
        "checkpoint or normalize the source cursor type)."
    )


class CheckpointStore:
    def __init__(self, root: str, batch_retention: int | None = None):
        """``batch_retention``: keep only the K most recent batch ids in
        the state document (None = unbounded). The cumulative list makes
        every commit O(history) at a 10^10-event feed; with retention the
        document stays O(partitions + K). ``n_batches_total`` still counts
        every commit. Match the lake table's retention so the idempotence
        horizons agree."""
        self.root = root
        self.batch_retention = batch_retention
        self.state_path = os.path.join(root, "state.json")
        self.metrics_path = os.path.join(root, "metrics.jsonl")
        os.makedirs(root, exist_ok=True)

    def read(self) -> dict:
        if not os.path.exists(self.state_path):
            return {"offsets": {}, "batches": [], "n_batches_total": 0}
        with open(self.state_path) as f:
            st = json.load(f)
        st.setdefault("n_batches_total", len(st["batches"]))
        return st

    def offsets(self) -> dict[int, int]:
        return {int(k): int(v) for k, v in self.read()["offsets"].items()}

    def cursor(self):
        """Last committed pull cursor (the reference's ``modifier``
        high-water mark, ``pipeline_management.py:39-56`` — except stored
        authoritatively here instead of re-derived from the target per
        cycle). None until the first pull commits one."""
        return _decode_cursor(self.read().get("cursor"))

    def commit(
        self, batch_id: str, new_offsets: dict[int, int], metrics: dict, cursor=None
    ) -> None:
        st = self.read()
        merged = {int(k): int(v) for k, v in st["offsets"].items()}
        for p, lsn in new_offsets.items():
            merged[int(p)] = max(merged.get(int(p), -1), int(lsn))
        if batch_id not in st["batches"]:
            st["batches"].append(batch_id)
            st["n_batches_total"] = st.get("n_batches_total", 0) + 1
            if self.batch_retention is not None:
                st["batches"] = st["batches"][-self.batch_retention :]
        st["offsets"] = {str(k): v for k, v in sorted(merged.items())}
        if cursor is not None:
            # monotone: a replayed/out-of-order commit can't move it back,
            # and a type flip can't bypass the guard (see _max_cursor)
            st["cursor"] = _encode_cursor(
                _max_cursor(_decode_cursor(st.get("cursor")), cursor)
            )
        st["committed_at"] = time.time()
        row = {"batch_id": batch_id, "ts": time.time(), **metrics}
        # metrics log first (informational), state swap last (authoritative);
        # a Decimal cursor in the metrics is logged as its string
        with open(self.metrics_path, "a") as f:
            f.write(json.dumps(row, default=str) + "\n")
        atomic_write(self.state_path, json.dumps(st))

    def has_batch(self, batch_id: str) -> bool:
        return batch_id in self.read()["batches"]

    def status(self) -> dict:
        """Queryable health/status summary (R8 — the reference's
        ``monitoring.py:16-152`` health endpoint payload, minus the
        DB-connectivity probes that have no Spark analog): last commit age,
        offsets, batch count, and recent throughput from the metrics log."""
        st = self.read()
        committed_at = st.get("committed_at")
        out = {
            "n_batches": st.get("n_batches_total", len(st["batches"])),
            "last_batch_id": st["batches"][-1] if st["batches"] else None,
            "cursor": st.get("cursor"),
            "committed_at": committed_at,
            "last_commit_age_s": round(time.time() - committed_at, 3) if committed_at else None,
            "offsets": {int(k): int(v) for k, v in st["offsets"].items()},
        }
        recent = self.metrics_tail(10)
        # every commit records its seconds; only event applies count events
        applied = sum(m.get("events_applied", 0) for m in recent)
        secs = sum(m.get("seconds", 0.0) for m in recent if "events_applied" in m)
        out["recent_events_applied"] = applied
        out["recent_events_per_sec"] = round(applied / secs, 1) if secs else None
        out["last_batch_metrics"] = recent[-1] if recent else None
        return out

    def metrics(self) -> list[dict]:
        if not os.path.exists(self.metrics_path):
            return []
        with open(self.metrics_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def metrics_tail(self, n: int, chunk: int = 64 * 1024) -> list[dict]:
        """Last ``n`` metrics rows, reading from the END of the log.

        ``status()`` is a health-poll hot path; on a feed with millions of
        committed batches, parsing the whole ``metrics.jsonl`` per poll is
        an O(history) driver read. This seeks from EOF and grows the read
        window backwards only until ``n`` complete lines are in hand, so
        bytes read are O(n · line size), independent of log length."""
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
