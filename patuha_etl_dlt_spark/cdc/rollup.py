"""Incrementally-maintained aggregate tables (materialized rollups).

The reference recomputes nothing — its MySQL targets are raw table
mirrors. At 10^10 events, downstream consumers need aggregates (hourly
rollups, per-entity counters) maintained INCREMENTALLY: recomputing a
GROUP BY over the full history per sync cycle is O(history); folding each
micro-batch's partial aggregates into a keyed lake table is O(batch).

Mechanics: the measures are restricted to decomposable aggregates
(sum / count / min / max), whose partials combine associatively. Per
batch:

    partials = delta.groupBy(keys).agg(partial per measure)   -- map-side combined
    touched  = pmod(hash(partial keys), B) distinct            -- which buckets changed
    state    = table.read_buckets(touched)                     -- FILE-pruned read
    next     = (state ∪ partials).groupBy(keys).agg(combine)
    table.replace_buckets(next, touched, batch_id)             -- cow bucket rewrite

The commit's batch-id idempotence makes the fold exactly-once: a replayed
batch short-circuits BEFORE partials are recombined, so totals can never
double-count (tested). ``_event_id`` carries a monotone fold sequence so
reads always see the newest total.

Scale shape: one map-side-combined aggregation of the batch, one read of
ONLY the touched buckets' files (untouched buckets are never opened —
asserted via ``inputFiles()`` in tests), and a copy-on-write rewrite of
exactly those buckets. Per-fold cost is O(batch + touched-bucket state);
untouched groups' files are byte-identical across folds, and every bucket
stays at one file forever (no merge-on-read overlay accumulation, so a
long-running streaming fold needs no compaction). For per-entity counters
(millions of groups) size ``num_buckets`` so a batch touches a fraction
of the buckets — the classic LSM-vs-COW knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from patuha_etl_dlt_spark.lake import LakeTable

# measure kind -> (partial aggregate over raw rows, combine over partials)
_KINDS = {
    "sum": (F.sum, F.sum),
    "count": (lambda c: F.count(c), F.sum),  # partial counts combine by SUM
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


class IncrementalRollup:
    """Maintain ``table`` as `groupBy(group_cols).agg(measures)` of every
    event ever applied, folded batch-at-a-time.

    ``measures``: {out_col: (kind, source_expr, out_type)} with kind in
    sum|count|min|max; ``source_expr`` is a Column or column name;
    ``out_type`` a lake type name (use a decimal type for sums that must
    be exact/associative across fold orders — double addition is not).
    """

    def __init__(self, table: LakeTable, group_cols: list[str], measures: dict):
        self.table = table
        self.group_cols = list(group_cols)
        self.measures = measures
        for name, (kind, _, _) in measures.items():
            if kind not in _KINDS:
                raise ValueError(f"{name}: unsupported measure kind {kind!r}")

    @staticmethod
    def create(
        spark,
        root: str,
        group_cols: list[tuple[str, str]],
        measures: dict,
        num_buckets: int = 16,
    ) -> "IncrementalRollup":
        """Create the backing lake table: key = group columns, one column
        per measure, LWW-ordered by the fold sequence."""
        cols = list(group_cols) + [(n, t) for n, (_, _, t) in measures.items()]
        t = LakeTable.create(
            spark,
            root,
            cols,
            key_cols=[c for c, _ in group_cols],
            order_col=None,  # LWW by _event_id = fold sequence
            num_buckets=num_buckets,
        )
        return IncrementalRollup(t, [c for c, _ in group_cols], measures)

    def _partials(self, delta: DataFrame) -> DataFrame:
        aggs = []
        for name, (kind, src, typ) in self.measures.items():
            part, _ = _KINDS[kind]
            col = F.col(src) if isinstance(src, str) else src
            aggs.append(part(col).cast(typ).alias(name))
        return delta.groupBy(*self.group_cols).agg(*aggs)

    def _combine(self, df: DataFrame) -> DataFrame:
        aggs = []
        for name, (kind, _, typ) in self.measures.items():
            _, comb = _KINDS[kind]
            aggs.append(comb(F.col(name)).cast(typ).alias(name))
        return df.groupBy(*self.group_cols).agg(*aggs)

    def apply_batch(self, delta: DataFrame, batch_id: str) -> dict:
        """Fold one micro-batch into the rollup, exactly once.

        Reads ONLY the buckets the batch's groups hash into (file-level
        pruning via ``LakeTable.read_buckets``) and rewrites exactly those
        buckets (``replace_buckets`` — all their groups, touched or not,
        pass through the combine unchanged, so the rewrite needs no second
        base read). Two jobs per fold: the touched-bucket discovery over
        the batch partials (key columns only) and the combined write."""
        snap = self.table.snapshot
        if batch_id in snap.batch_ids:
            return {"skipped": True, "batch_id": batch_id}
        # partials are used twice (bucket discovery + the fold itself):
        # persist the tiny aggregated frame so the batch is scanned once.
        # Group columns are cast to the LAKE schema types first: the write
        # path (_align inside replace_buckets) hashes post-cast values, and
        # murmur3 of e.g. int vs long differs — an uncast delta would make
        # the touched-bucket set disagree with where rows actually land.
        types = {f.name: f.type for f in snap.schema.fields}
        partials = self._partials(delta).select(
            *[F.col(c).cast(types[c]).alias(c) for c in self.group_cols],
            *self.measures,
        ).persist()
        try:
            touched = sorted(
                r[0]
                for r in partials.select(self.table._bucket_expr(snap).alias("b"))
                .distinct()
                .collect()
            )
            state_files = [f for f in snap.files if f.bucket in set(touched)]
            current = self.table.read_buckets(touched).select(*partials.columns)
            nxt = self._combine(current.unionByName(partials)).withColumn(
                "_event_id", F.lit(snap.version + 1).cast("long")
            )
            metrics = self.table.replace_buckets(nxt, touched, batch_id=batch_id, snap=snap)
        finally:
            partials.unpersist()
        metrics["state_files_read"] = len(state_files)
        metrics["state_files_total"] = len(snap.files)
        return metrics

    def read(self) -> DataFrame:
        return self.table.read()
