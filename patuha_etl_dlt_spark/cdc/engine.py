"""CdcEngine — the per-batch apply pipeline.

One micro-batch apply (the reference's ``process_incremental_table``,
``/root/reference/source/pipeline_management.py:605-1223``, collapsed into
one declarative plan):

    head snapshot, read once (a committed batch id is skipped)
    events ──filter(lsn > head.offsets[partition])──► evolve the head's
          in-memory successor ──► remap old-generation columns by field id
          ──► sanitize ──► LWW pre-reduce ──► extract text (Arrow pandas UDF)
          ──► LWW MERGE on the successor: ONE snapshot carries the schema
            change, data, batch id and per-partition offsets
          ──► append the batch's metrics line to CheckpointStore

Exactly-once in one atomic commit: the snapshot that publishes the batch's
data files also records its schema change, batch id, offsets and (for a
pull) cursor, so none is ever committed without the rest. On restart an
already-committed batch is skipped, and the next batch reads exactly the
committed offsets and cursor. That sequence lives in one place,
``CdcEngine.commit_once``; the push apply, the snapshot seed and the
orchestrator's pulls each supply only their write step on its head.

Scale shape of one batch: two exchanges. The LWW pre-reduce
(map-side-combined ``max_by``, at the session's shuffle width) runs
before text extraction; ``LakeTable.merge`` then places the winners into
their buckets for the write. The offsets aggregation is per feed
partition (thousands of groups, trivially small); the offset *filter* is
a literal map (or a broadcast join for very large maps). Nothing collects
event data to the driver.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from patuha_etl_dlt_spark.cdc import evolution
from patuha_etl_dlt_spark.cdc.checkpoint import CheckpointStore
from patuha_etl_dlt_spark.cdc.dedup import lww_agg
from patuha_etl_dlt_spark.cdc.envelope import HTML, LSN, OP, PARTITION, SCHEMA, TEXT
from patuha_etl_dlt_spark.functions.html import with_extracted_text
from patuha_etl_dlt_spark.functions.sanitize import sanitize_columns
from patuha_etl_dlt_spark.lake.metadata import Snapshot, cursor_json
from patuha_etl_dlt_spark.lake.table import SYS_EVENT, LakeTable


# offsets maps up to this size inline as a literal map expression in the
# batch filter; larger maps use a broadcast join (see _filter_new)
_MAX_LITERAL_OFFSETS = 1024


def _delete_count(df: DataFrame):
    """Aggregate counting a batch's delete events; a batch without ``op``
    is all upserts."""
    op = F.upper(F.col(OP)) if OP in df.columns else F.lit("U")
    return F.sum((op == "D").cast("long"))


@dataclass
class EngineConfig:
    # fold merge-on-read overlays into base files every N batches
    # (reference hygiene analog: staging truncation each cycle,
    # pipeline_management.py:1106-1120). 1 = the read-optimized layout
    # (one base file per bucket after every commit); None = caller-managed.
    compact_every: int | None = 8
    # dead-letter directory: rows with fatal problems (NULL merge-key
    # components — nothing to merge on) are appended there as parquet with
    # _reject_reason and _batch_id instead of being silently dropped (the
    # poison-pill pattern; reference analog: the problematic-row debugger,
    # data_processing.py:124-190). None = off (rows still dropped safely
    # by the merge's null-key filter).
    quarantine_dir: str | None = None


class CdcEngine:
    def __init__(self, table: LakeTable, checkpoints: CheckpointStore, config: EngineConfig | None = None):
        self.table = table
        self.cp = checkpoints
        self.cfg = config or EngineConfig()

    # ------------------------------------------------------------ plumbing

    def _filter_new(self, snap: Snapshot, events: DataFrame) -> DataFrame:
        """Drop events at or below the committed per-partition offset —
        the reference's cursor predicate ``WHERE modifier > :ts``
        (pipeline_management.py:149) generalized to per-partition LSNs.

        Small offset maps (the common case — one entry per feed partition)
        inline as a LITERAL map expression: the lookup compiles into the
        scan stage's codegen, costing zero driver→JVM DataFrame round
        trips and no broadcast exchange per batch (both were a measurable
        slice of the per-batch fixed term that caps N→4N scaling on small
        batches). Beyond ``_MAX_LITERAL_OFFSETS`` entries it falls back to
        the broadcast join (a giant literal expression would bloat the
        plan instead)."""
        offsets = snap.offsets
        if not offsets:
            return events
        if len(offsets) <= _MAX_LITERAL_OFFSETS:
            # explicit casts: lit() of a python int picks int vs long by
            # magnitude, and create_map demands uniform key/value types
            omap = F.create_map(
                *[
                    c
                    for p, l in sorted(offsets.items())
                    for c in (F.lit(int(p)).cast("long"), F.lit(int(l)).cast("long"))
                ]
            )
            return events.filter(
                F.col(LSN)
                > F.coalesce(omap[F.col(PARTITION).cast("long")], F.lit(-1).cast("long"))
            )
        spark = events.sparkSession
        odf = spark.createDataFrame(
            [(int(p), int(l)) for p, l in offsets.items()], f"{PARTITION} int, _offset long"
        )
        return (
            events.join(F.broadcast(odf), PARTITION, "left")
            .filter(F.col(LSN) > F.coalesce(F.col("_offset"), F.lit(-1)))
            .drop("_offset")
        )

    def _offsets_and_counts(self, events: DataFrame) -> tuple[dict[int, int], dict, list[str]]:
        """Per-partition max LSN + batch counts + distinct envelope schema
        descriptors — ONE column-pruned pass (reads only
        partition_id/lsn/op/schema_json; Catalyst prunes the heavy payload
        columns out of the scan, and partial aggregation keeps the
        collect_set tiny — a handful of distinct descriptors per batch)."""
        schema = F.col(SCHEMA) if SCHEMA in events.columns else F.lit(None).cast("string")
        rows = (
            events.groupBy(PARTITION)
            .agg(
                F.max(LSN).alias("m"),
                F.count(F.lit(1)).alias("n"),
                _delete_count(events).alias("d"),
                F.collect_set(schema).alias("s"),
            )
            .collect()
        )
        offsets = {int(r[0]): int(r[1]) for r in rows}
        counts = {
            "events_applied": int(sum(r[2] for r in rows)),
            "delete_events": int(sum(r[3] for r in rows)),
        }
        descriptors = sorted({d for r in rows for d in r[3 + 1] if d})
        return offsets, counts, descriptors

    def _quarantine(
        self, snap: Snapshot, df: DataFrame, batch_id: str | None
    ) -> tuple[DataFrame, int]:
        """Split fatally-broken rows into the dead-letter dir; returns the
        clean rows and the quarantined count. Exactly ONE extra job per
        batch — opt-in via ``quarantine_dir``.

        Replay-idempotent: each batch overwrites its own partition
        directory (``_batch_id=<id>/``), so a crash or foreachBatch retry
        between the dead-letter write and the MERGE commit re-writes the
        same rows instead of appending duplicates. The count comes from an
        Observation on the same write (no separate count() job); a batch
        with zero bad rows removes its (empty) directory again so a clean
        long-running feed doesn't accrete one empty dir per batch.

        Layout note: the dead-letter dir is Hive-partitioned on
        ``_batch_id`` (read the ROOT with ``spark.read.parquet(dir)`` and
        the batch id appears as a partition column)."""
        import shutil

        from patuha_etl_dlt_spark.functions.diagnose import split_quarantine

        clean, bad = split_quarantine(df, snap.key_cols)
        obs = Observation()
        out = bad.observe(obs, F.count(F.lit(1)).alias("n_bad"))
        bdir = os.path.join(self.cfg.quarantine_dir, f"_batch_id={batch_id}")
        out.write.mode("overwrite").parquet(bdir)
        n_bad = int(obs.get["n_bad"] or 0)
        if n_bad == 0:
            shutil.rmtree(bdir, ignore_errors=True)
        return clean, n_bad

    def _prepare_delta(self, snap: Snapshot, events: DataFrame) -> DataFrame:
        """Old-generation remap, sanitize, then the LWW pre-reduce BEFORE text
        extraction: the pandas UDF then (a) runs post-shuffle, so its
        parallelism is the session's shuffle width instead of the
        input-split count — on a compressed feed a 200 MB batch is ~2
        splits, which starves a many-core executor — and (b) touches only
        winning rows (under duplication ratio D, a D× saving). Extraction
        is a pure function of html, so winner-then-extract ≡
        extract-then-winner. The reduce is ``lww_agg``: its map-side
        combine is the hot-key skew defence."""
        df = events
        # events minted before a rename still carry an old name of the
        # field: map every name its field id has carried in ``snap.schemas``
        # to the current one (coalesced when generations meet in a batch),
        # as ``LakeTable._source`` maps old data files
        current = set(snap.schema.names)
        for f in snap.schema.fields:
            old = sorted(c for c in snap.names_of(f.id) - current if c in df.columns)
            if old:
                gens = ([f.name] if f.name in df.columns else []) + old
                df = df.withColumn(f.name, F.coalesce(*map(F.col, gens))).drop(*old)
        # merge keys are never sanitized (NULL keys are dropped with a
        # metric, not coerced), nor is the extracted text (byte-identity)
        df = sanitize_columns(df, exclude=(*snap.key_cols, TEXT, OP, SCHEMA))
        df = df.withColumnRenamed(LSN, SYS_EVENT)
        df = df.select(*[c for c in df.columns if c not in (PARTITION, SCHEMA)])
        df = lww_agg(df, snap.key_cols, [snap.order_cols[0], SYS_EVENT])
        if HTML in df.columns and TEXT in df.columns:
            df = with_extracted_text(df, HTML, TEXT)
        return df

    # ------------------------------------------------------------- apply

    def commit_once(self, batch_id: str, write) -> dict:
        """The exactly-once commit step every table write goes through
        (push apply, snapshot seed, and the orchestrator's pulls).

        It reads the head once and skips a batch already in it. Otherwise
        ``write(snap)`` writes on that head one successor snapshot carrying
        the batch's schema change, data, batch id, offsets and cursor, and
        returns its metrics; then the compaction cadence advances and the
        metrics line is appended to the log. A crash before the snapshot
        swap leaves nothing committed (the replay re-applies the batch); a
        crash after it loses at most the metrics line (the replay is
        skipped)."""
        t0 = time.time()
        snap = self.table.snapshot
        if batch_id in snap.batch_ids:
            return {"skipped": True, "batch_id": batch_id}
        metrics = write(snap)
        # the write committed exactly one batch on top of ``snap``
        self.maybe_compact(snap.n_batches + 1, metrics)
        metrics["seconds"] = round(time.time() - t0, 3)
        self.cp.commit(batch_id, metrics)
        return metrics

    def apply_batch(
        self,
        events: DataFrame,
        batch_id: str | None = None,
        offsets: dict[int, int] | None = None,
        descriptors: list[str] | None = None,
    ) -> dict:
        """Apply one change-event micro-batch exactly once.

        ``offsets``/``descriptors``: per-partition end-LSNs and envelope
        schema descriptors, when the SOURCE already knows them — a Kafka
        consumer knows the offset range it polled and a binlog tail knows
        its positions, so scanning the data to rediscover them is wasted
        work (one whole Spark job per batch, a pure Amdahl term that caps
        N→4N scaling on small batches). When either is absent the engine
        falls back to the column-pruned discovery pre-pass."""
        batch_id = batch_id or uuid.uuid4().hex
        return self.commit_once(
            batch_id, lambda snap: self._apply_write(snap, events, batch_id, offsets, descriptors)
        )

    def _apply_write(self, snap, events, batch_id, offsets, descriptors) -> dict:
        """``apply_batch``'s write step on head ``snap``: filter, evolve,
        prepare and MERGE the batch, committing its schema change and
        offsets with the data; returns the metrics."""
        # one column-pruned pre-pass (offsets + counts + schema descriptors
        # — partition_id/lsn/op/schema_json only) unless the source already
        # told us; the heavy payload columns are read exactly once, inside
        # the MERGE job itself.
        fresh = self._filter_new(snap, events)
        obs_in: Observation | None = None
        if offsets is not None and descriptors is not None:
            # no discovery job — but batch counts must still reach the
            # metrics log (status()'s recent_events_per_sec reports on
            # exactly this path). Piggyback an Observation on the batch
            # plan: the counts fall out of the MERGE job itself, zero extra
            # jobs, measured BEFORE the LWW pre-reduce collapses duplicates.
            new_off, counts = offsets, {}
            obs_in = Observation()
            fresh = fresh.observe(
                obs_in,
                F.count(F.lit(1)).alias("events_applied"),
                _delete_count(fresh).alias("delete_events"),
            )
        else:
            new_off, counts, descriptors = self._offsets_and_counts(fresh)
        snap, ops = evolution.evolve_table(snap, descriptors)
        if self.cfg.quarantine_dir:
            fresh, counts["quarantined"] = self._quarantine(snap, fresh, batch_id)
        metrics = self.table.merge(
            self._prepare_delta(snap, fresh),
            batch_id=batch_id,
            # the pre-reduce already left one winner per key — the merge
            # skips its in-batch reduction (one agg pass over the batch)
            delta_reduced=True,
            txn=lambda: (new_off, None),
            snap=snap,
        )
        if obs_in is not None:
            # already resolved: the merge write ran the plan. Spark keeps no
            # row for an empty batch — adaptive execution replaces a shuffle
            # stage that produced no rows (here the pre-reduce's, which the
            # bucket placement follows) together with every observation
            # upstream of it; nothing filters rows before that shuffle, so
            # a missing row means zero events.
            got = obs_in.get if obs_in._jo.getRow().length() else {}
            # update, don't rebind: counts may already carry 'quarantined'
            # from the dead-letter split above
            counts.update(
                events_applied=int(got.get("events_applied") or 0),
                delete_events=int(got.get("delete_events") or 0),
            )
        metrics.update(counts)
        metrics["evolution_ops"] = evolution.ops_json(ops)
        return metrics

    def maybe_compact(self, n_batches: int, metrics: dict) -> None:
        """Fold the overlays when the compaction cadence fires.
        ``commit_once`` calls it after every committed write (push, pull,
        snapshot seed) with ``n_batches``, the committed batch count, so a
        restart resumes the cadence exactly. Only a fold reads the head.

        The fold also purges tombstones below the min-offset horizon, but
        only when the LWW order IS the LSN (``order_col=None`` at create):
        under a business order column a future event above the horizon can
        carry an older/NULL order value, lose to the purged tombstone and
        resurrect the key, so such tables keep their tombstones until the
        operator calls ``compact_tombstones()`` with a horizon they vouch
        for. The horizon also assumes a fixed partition set: a partition
        that has never committed an offset can still deliver below it
        (``test_tombstone_gc_late_partition_resurrects_key``)."""
        if not self.cfg.compact_every or n_batches % self.cfg.compact_every:
            return
        snap = self.table.snapshot
        offs = snap.offsets if snap.order_cols[0] == SYS_EVENT else {}
        metrics["compacted_buckets"] = self.table.compact_deltas(
            purge_tombstones_below=min(offs.values()) if offs else None, snap=snap
        )

    def seed_snapshot(self, snapshot_df: DataFrame, batch_id: str = "seed") -> dict:
        """Initial full load — the reference's full-refresh/replace path
        (pipeline_management.py:1225-1506) as one overwrite commit."""
        return self.commit_once(
            batch_id, lambda snap: self.table.overwrite(snapshot_df, batch_id=batch_id, snap=snap)
        )

    def status(self) -> dict:
        """Queryable health/status summary (R8 — the reference's
        ``monitoring.py:16-152`` health endpoint payload, minus the
        DB-connectivity probes that have no Spark analog): batch count,
        last batch, cursor, offsets and last commit age from the head
        snapshot, and recent throughput from the metrics log."""
        snap = self.table.snapshot
        committed_at = snap.ts if snap.n_batches else None
        out = {
            "n_batches": snap.n_batches,
            "last_batch_id": snap.batch_ids[-1] if snap.batch_ids else None,
            "cursor": cursor_json(snap.cursor),
            "committed_at": committed_at,
            "last_commit_age_s": round(time.time() - committed_at, 3) if committed_at else None,
            "offsets": snap.offsets,
        }
        recent = self.cp.metrics_tail(10)
        # every commit records its seconds; only event applies count events
        applied = sum(m.get("events_applied", 0) for m in recent)
        secs = sum(m.get("seconds", 0.0) for m in recent if "events_applied" in m)
        out["recent_events_applied"] = applied
        out["recent_events_per_sec"] = round(applied / secs, 1) if secs else None
        out["last_batch_metrics"] = recent[-1] if recent else None
        return out
