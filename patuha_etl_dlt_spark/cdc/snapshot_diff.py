"""Snapshot-diff CDC: derive I/U/D change events from two full snapshots.

The reference's cursor pull fundamentally cannot see upstream DELETEs —
a deleted row never bumps the ``modifier`` column, so it lingers in the
target forever (a limitation its README documents and works around with
full refreshes, ``/root/reference/README.MD:395``,
``pipeline_management.py:1225-1506``). The classic fix (Debezium's
snapshot mode, dlt's ``merge`` from a full extract) is to pull the full
table periodically and DIFF it against the target:

- key only in the new snapshot            → ``I``
- key in both, any payload column differs → ``U``
- key only in the old snapshot            → ``D``
- key in both, payload identical          → no event (dropped)

Spark shape: ONE full-outer join on the merge keys (single shuffle; AQE
skew-join covers hot keys) with a null-safe struct comparison — no
window, no per-row Python, output bounded by the number of CHANGED rows.
At 10^10-row scale this is the O(|new| + |old|) scan it has to be, but
the downstream MERGE then pays only O(changes) — vs the reference's full
refresh which rewrites the entire target every cycle.

Why the full target read is INHERENT (not an optimization gap): the 'D'
side of the diff is "key in old, absent from new" — detecting it
requires every old key to meet the join. A bucket-pruned target read
restricted to the buckets the new snapshot's keys hash into only helps
when some bucket contains NO new-snapshot key; with a full source
snapshot every key (hence ~every bucket) is present, so the pruned set
is the full set. Pruning becomes sound only when the SOURCE can push a
changed-window hint (e.g. "only partitions P were touched since t") —
then the caller should diff ``new_window`` against
``table.read_buckets(buckets_of(new_window.keys))`` with delete scope
limited to that window. Absent such a hint, per-cycle cost is
O(|source| + |target|) scan + one shuffle — measured in BASELINE.md
(round 5): the diff's wall-clock scales linearly with table size and is
dominated by the two scans, exactly this bound.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from patuha_etl_dlt_spark.lake.table import OP


def diff_shuffle_partitions(
    table, snap, session_partitions: int, target_bytes: int = 64 << 20
) -> int:
    """Shuffle width for a snapshot-diff cycle, derived from the on-disk
    bytes of ``table`` at snapshot ``snap`` (the head the cycle diffs
    against): ``max(session, table_bytes // target_bytes)``.

    The diff's full-outer join otherwise inherits the session's shuffle
    partitions — right for steady-state micro-batches, but the diff
    shuffles O(|table|) bytes, so a 32 M-row table squeezed through a
    core-count-sized shuffle spills off a cliff (BASELINE.md round 5:
    3.2 s → 57 s between 8 M and 32 M rows). Sizing partitions so each
    holds ~``target_bytes`` keeps the hash join's per-task state bounded
    (guide §2.2/§5). The pull loop repartitions both diff inputs on the
    keys to this width; a small table stays at the session width. Driver
    cost is one ``os.path.getsize`` per live data file (O(buckets))."""
    total = 0
    for f in snap.files:
        p = os.path.join(table.root, f.path)
        try:
            total += os.path.getsize(p)
        except OSError:
            pass  # concurrently expired file: under-counting is safe
    return max(int(session_partitions), int(total // max(1, int(target_bytes))))


def diff_snapshots(new: DataFrame, old: DataFrame, key_cols: list[str] | str) -> DataFrame:
    """Change events turning ``old`` into ``new``: columns = ``new``'s
    columns plus ``op`` ('I' | 'U' | 'D'). Unchanged keys emit
    nothing. Payload comparison covers ``new``'s non-key columns; a
    column ``old`` lacks (source schema grew) compares against NULL, so
    rows that gained a value surface as updates. Delete events carry the
    OLD payload (useful for audit sinks); the merge only needs their
    keys. Both inputs must be key-unique (full snapshots)."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    payload = [c for c in new.columns if c not in key_cols]
    types = dict(new.dtypes)
    old_aligned = old.select(
        *key_cols,
        *[
            (F.col(c) if c in old.columns else F.lit(None).cast(types[c])).alias(c)
            for c in payload
        ],
    )
    nw = new.select(
        *key_cols, F.struct(*payload).alias("_new"), F.lit(True).alias("_in_new")
    )
    od = old_aligned.select(
        *key_cols, F.struct(*payload).alias("_old"), F.lit(True).alias("_in_old")
    )
    j = nw.join(od, key_cols, "full_outer")
    op = (
        F.when(F.col("_in_new").isNotNull() & F.col("_in_old").isNull(), F.lit("I"))
        .when(F.col("_in_new").isNull() & F.col("_in_old").isNotNull(), F.lit("D"))
        # null-safe struct inequality: NULL payload fields compare equal
        .when(~F.col("_new").eqNullSafe(F.col("_old")), F.lit("U"))
    )
    side = F.coalesce(F.col("_new"), F.col("_old"))
    return (
        j.withColumn(OP, op)
        .filter(F.col(OP).isNotNull())
        .select(*key_cols, *[side.getField(c).alias(c) for c in payload], OP)
    )
