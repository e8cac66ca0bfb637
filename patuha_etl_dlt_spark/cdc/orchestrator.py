"""Multi-table sync orchestration — the reference's driver loop re-imagined.

Reference: tables processed in batches of ``BATCH_SIZE=8`` with delays
(``pipeline_management.py:2104-2203``), incremental/full-refresh dispatch
(``:2171-2198``), per-table retry queue (``:458-467``), and pre/post
row-count sync verification with status ∈ {perfect, partial, failed}
(``:70-128``, ``database.py:395-433``).

Spark-first differences: there is no connection pool to protect — the
reference's "batch of 8" throttle maps to ``max_concurrency``: tables are
independent single-writer lake tables, so their apply jobs are safe to
run concurrently from driver threads, each tagged with a FAIR-scheduler
pool so one table's large job cannot starve the rest. Retries are safe at
any point because MERGE commits are atomic and batch-id idempotent.

Concurrency note: correctness under concurrent cycles is carried by the
per-table single-writer invariant. No path mutates session-wide conf:
every width a job needs (bucket placement, the snapshot-diff join) is an
explicit ``repartition`` in its own plan, so concurrent tables cannot
disturb each other's layout.
"""

from __future__ import annotations

import dataclasses
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from patuha_etl_dlt_spark.cdc import evolution
from patuha_etl_dlt_spark.cdc.checkpoint import CheckpointStore
from patuha_etl_dlt_spark.cdc.engine import CdcEngine, EngineConfig
from patuha_etl_dlt_spark.cdc.retry import RetryPolicy, RetryQueue, with_retry
from patuha_etl_dlt_spark.config import TableConfig
from patuha_etl_dlt_spark.lake import LakeTable
from patuha_etl_dlt_spark.lake.metadata import Snapshot, canonical_cursor, check_cursor_type
from patuha_etl_dlt_spark.lake.table import OP


@dataclass
class SyncResult:
    table: str
    batch_id: str
    status: str  # 'perfect' | 'failed' | 'skipped'
    metrics: dict


class SyncOrchestrator:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        configs: list[TableConfig],
        engine_config: EngineConfig | None = None,
        retry_policy: RetryPolicy | None = None,
        max_concurrency: int = 1,
        sources: dict[str, object] | None = None,
    ):
        """``max_concurrency``: how many tables one cycle applies at a time
        (reference BATCH_SIZE=8, ``pipeline_management.py:2104-2116``,
        ``config.py:32-33``). 1 = sequential (deterministic resource use);
        >1 runs applies from a driver thread pool, each in its own FAIR
        scheduler pool.

        ``sources``: per-table pull sources for ``pull_cycle`` — either a
        ``JdbcSourceConfig`` (the committed cursor is substituted into
        ``last_value`` each cycle, pushing ``WHERE cursor > :last`` into
        the remote DB) or a callable ``(spark, last_value) -> DataFrame``
        (file feeds, test doubles). Tables without a source are
        push-driven via ``run_cycle`` only."""
        self.spark = spark
        self.root = root
        self.configs = {c.table: c for c in configs}
        self.retry_policy = retry_policy or RetryPolicy()
        self.retry_queue = RetryQueue()
        self.max_concurrency = max(1, int(max_concurrency))
        self.sources = dict(sources or {})
        self._engines: dict[str, CdcEngine] = {}
        self._engine_config = engine_config

    # ------------------------------------------------------------- tables

    def table_root(self, name: str) -> str:
        return os.path.join(self.root, "tables", name)

    def ensure_table(self, name: str) -> LakeTable:
        cfg = self.configs[name]
        root = self.table_root(name)
        if LakeTable.exists(root):
            return LakeTable.load(self.spark, root)
        if not cfg.columns:
            raise ValueError(f"{name}: table does not exist and config has no columns")
        return LakeTable.create(
            self.spark,
            root,
            list(cfg.columns),
            key_cols=list(cfg.merge_key),
            order_col=cfg.cursor or None,
            num_buckets=cfg.num_buckets,
        )

    def engine(self, name: str) -> CdcEngine:
        if name not in self._engines:
            table = self.ensure_table(name)
            cp = CheckpointStore(os.path.join(self.root, "checkpoints", name))
            self._engines[name] = CdcEngine(table, cp, self._engine_config)
        return self._engines[name]

    # -------------------------------------------------------------- cycle

    def _run_table(self, name: str, batch_id: str, step) -> SyncResult:
        """One table's part of a cycle: ``step(name, engine, bid)`` runs
        with retry under the table's FAIR pool; any failure becomes a
        'failed' result instead of aborting the cycle."""
        eng = self._engines[name]
        bid = f"{batch_id}:{name}"
        # a per-table FAIR pool: with spark.scheduler.mode=FAIR set on the
        # session, concurrent tables share executor slots fairly instead of
        # queueing FIFO behind the first table's stages. Local properties
        # are per-thread, so this is concurrency-safe (unlike session conf).
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"table-{name}")
        try:
            m = with_retry(lambda: step(name, eng, bid), self.retry_policy)
            return SyncResult(name, bid, "skipped" if m.get("skipped") else "perfect", m)
        except Exception as e:  # noqa: BLE001
            return SyncResult(name, bid, "failed", {"error": str(e)})
        finally:
            self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

    def _fan_out(self, names: list[str], batch_id: str, step) -> list[SyncResult]:
        """``_run_table`` every table in ``names`` — from a driver thread pool
        when ``max_concurrency > 1`` (tables are independent single-writer,
        the Spark-native analog of the reference's BATCH_SIZE-of-8
        pipelining). Results keep input order; failures are queued for the
        next cycle from the coordinating thread only."""
        # instantiate engines up front (dict mutation stays single-threaded)
        for name in names:
            self.engine(name)

        def run(name: str) -> SyncResult:
            return self._run_table(name, batch_id, step)

        if self.max_concurrency > 1 and len(names) > 1:
            with ThreadPoolExecutor(max_workers=self.max_concurrency) as pool:
                results = list(pool.map(run, names))
        else:
            results = [run(n) for n in names]
        for r in results:
            if r.status == "failed":
                self.retry_queue.push(r.table, r.batch_id)
        return results

    def run_cycle(self, batches: dict[str, DataFrame], batch_id: str) -> list[SyncResult]:
        """One sync cycle: apply each table's pending delta (cdc mode) or
        snapshot (snapshot mode), with retry; failures are queued for the
        next cycle (re-application is idempotent)."""

        def apply(name: str, eng: CdcEngine, bid: str) -> dict:
            if self.configs[name].mode == "snapshot":
                return eng.seed_snapshot(batches[name], bid)
            return eng.apply_batch(batches[name], bid)

        return self._fan_out(list(batches), batch_id, apply)

    # --------------------------------------------------------------- pull

    def _build_scan(self, name: str, last_value) -> tuple[DataFrame, str]:
        """Incremental source scan for ``name`` from ``last_value``;
        returns (df, human-readable description of what was pushed).

        A JDBC source with ``partition_col`` set but no static bounds gets
        PER-CYCLE bounds probed from the current window (one tiny remote
        MIN/MAX the DB answers from its index) so the parallel range-
        partitioned pull follows the table as it grows — vs the
        reference's single-connection serial extract. An empty window
        degrades to an unpartitioned scan."""
        from patuha_etl_dlt_spark.sources.jdbc import (
            JdbcSourceConfig,
            probe_partition_bounds,
            read_jdbc,
        )

        src = self.sources[name]
        if isinstance(src, JdbcSourceConfig):
            cfg = dataclasses.replace(src, last_value=last_value)
            if cfg.partition_col and (cfg.lower_bound is None or cfg.upper_bound is None):
                bounds = probe_partition_bounds(self.spark, cfg)
                if bounds is None:
                    cfg = dataclasses.replace(cfg, partition_col=None)
                else:
                    cfg = dataclasses.replace(
                        cfg, lower_bound=str(bounds[0]), upper_bound=str(bounds[1])
                    )
            desc = cfg.dbtable()
            if cfg.partition_col:
                desc += f" [range-partitioned x{cfg.num_partitions} on {cfg.partition_col}: {cfg.lower_bound}..{cfg.upper_bound}]"
            return read_jdbc(self.spark, cfg), desc
        return src(self.spark, last_value), f"callable(last_value={last_value!r})"

    def _derive_cursor_from_target(self, eng: CdcEngine, snap: Snapshot, cursor_col: str):
        """No-cursor fallback: re-derive the cursor from the TARGET
        table, the reference's ``get_max_timestamp``
        (``pipeline_management.py:39-56`` — it does this EVERY cycle
        because it distrusts dlt state; we only do it when the table has
        no committed cursor, e.g. a table loaded by a push or seed before
        its first pull). O(target state) scan, hence not the steady-state
        path."""
        if not snap.files:
            return None
        state = eng.table.read(snap=snap)
        return canonical_cursor(state.agg(F.max(F.col(cursor_col)).alias("m")).first()["m"])

    def _pull_one(self, name: str, eng: CdcEngine, bid: str) -> dict:
        """One table's pull through the engine's exactly-once commit step,
        which reads the head once and skips a replayed cycle id before any
        source scan runs. Every mode evolves the table from the scanned
        source schema (``evolution.evolve_from_source``): a column
        added/widened upstream lands in the pull's own commit (old rows
        NULL-filled, narrow rows cast up)."""
        write = {
            "snapshot": self._snapshot_write,
            "snapshot_diff": self._diff_write,
        }.get(self.configs[name].mode, self._cursor_write)
        return eng.commit_once(bid, lambda snap: write(name, eng, snap, bid))

    def _snapshot_write(self, name: str, eng: CdcEngine, snap: Snapshot, bid: str):
        """Full-refresh pull: the scanned source replaces the table."""
        df, desc = self._build_scan(name, None)
        snap, ops = evolution.evolve_from_source(snap, df.schema)
        return {
            **eng.table.overwrite(df, batch_id=bid, snap=snap),
            "source_query": desc,
            "evolution_ops": evolution.ops_json(ops),
        }

    def _cursor_write(self, name: str, eng: CdcEngine, snap: Snapshot, bid: str):
        """Cursor pull: scan above the committed cursor and merge; the
        advanced cursor commits in the merge's own snapshot."""
        cfg = self.configs[name]
        last = snap.cursor
        if last is None:
            last = self._derive_cursor_from_target(eng, snap, cfg.cursor)
        df, desc = self._build_scan(name, last)
        # fail a cursor TYPE FLIP before any data file is written: the
        # snapshot's monotone cursor fold would raise only after the merge
        # wrote its files. The source column's type is known from the
        # introspected scan schema, so the mismatch is detectable up front.
        check_cursor_type(last, df.schema[cfg.cursor].dataType)
        snap, ops = evolution.evolve_from_source(snap, df.schema)
        obs = Observation()

        def pulled_cursor():
            # resolved once the write has run. An empty pull still commits
            # the (derived) cursor, so a table without one warms up and
            # never re-derives again.
            new_cursor = canonical_cursor(obs.get["cursor_max"])
            return new_cursor if new_cursor is not None else last

        m = eng.table.merge(
            df,
            batch_id=bid,
            observe=(
                obs,
                F.max(F.col(cfg.cursor)).alias("cursor_max"),
                F.count(F.lit(1)).alias("rows_pulled"),
            ),
            txn=lambda: ({}, pulled_cursor()),
            snap=snap,
        )
        m.update(
            rows_pulled=int(obs.get["rows_pulled"] or 0),
            last_value=last,
            cursor=pulled_cursor(),
            source_query=desc,
            evolution_ops=evolution.ops_json(ops),
        )
        return m

    def _diff_write(self, name: str, eng: CdcEngine, snap: Snapshot, bid: str):
        """Snapshot-diff pull: full pull, but MERGE only the derived
        I/U/D changes — the mode that propagates upstream DELETEs (a
        cursor can never see them) at O(changes) write cost vs the full
        refresh's O(target) rewrite. See cdc.snapshot_diff."""
        from patuha_etl_dlt_spark.cdc.snapshot_diff import (
            diff_shuffle_partitions,
            diff_snapshots,
        )

        df, desc = self._build_scan(name, None)
        evolved, ops = evolution.evolve_from_source(snap, df.schema)
        # size the diff's full-outer-join shuffle from the TABLE's bytes,
        # not the session constant (the round-5 32 M-row spill cliff): both
        # inputs are hash-placed on the keys at that width, so the join
        # reuses those exchanges; the merge then places the changes into
        # buckets for its write
        diff_width = diff_shuffle_partitions(
            eng.table, snap, int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        )
        keys = list(self.configs[name].merge_key)
        delta = diff_snapshots(
            df.repartition(diff_width, *keys),
            eng.table.read(snap=snap).repartition(diff_width, *keys),
            keys,
        ).withColumn("_event_id", F.lit(snap.version + 1).cast("long"))
        obs = Observation()
        opc = F.upper(F.col(OP))
        m = eng.table.merge(
            delta,
            batch_id=bid,
            # diff output is key-unique by construction (one full-outer
            # join on the keys of two key-unique snapshots) — the merge can
            # skip its in-batch LWW reduction
            delta_reduced=True,
            observe=(
                obs,
                F.count(F.lit(1)).alias("changes"),
                F.sum((opc == "D").cast("long")).alias("delete_events"),
                F.sum((opc == "I").cast("long")).alias("insert_events"),
            ),
            snap=evolved,
        )
        got = obs.get
        m.update(
            changes=int(got["changes"] or 0),
            delete_events=int(got["delete_events"] or 0),
            insert_events=int(got["insert_events"] or 0),
            source_query=desc,
            evolution_ops=evolution.ops_json(ops),
        )
        return m

    def pull_cycle(self, batch_id: str, tables: list[str] | None = None) -> list[SyncResult]:
        """One closed-loop sync cycle — the reference's actual entry point
        (``db_pipeline.py:75-94``: derive cursor → build incremental
        extract → load → repeat): for each table with a registered source,
        read the committed cursor, build the pushed-down incremental
        scan (``WHERE cursor > :last`` runs IN the source DB against its
        own index), auto-evolve the lake schema from the introspected
        source schema, LWW-MERGE the batch exactly-once, and advance the
        cursor. Snapshot-mode tables full-refresh instead
        (``pipeline_management.py:2176-2182``).

        Like the reference's cursor sync, a pull cycle sees inserts and
        updates only — upstream DELETEs don't bump a cursor column, so
        they need the event-envelope path (``run_cycle``/``apply_batch``
        with op='D') or ``snapshot_diff`` mode. Failures queue for retry;
        re-running a cycle id is idempotent end-to-end (the batch id and
        the cursor commit in one snapshot, ``CdcEngine.commit_once``)."""
        names = [n for n in (tables if tables is not None else self.configs) if n in self.sources]
        return self._fan_out(names, batch_id, self._pull_one)

    def run_pull_loop(
        self,
        interval_s: float = 0.0,
        max_cycles: int | None = None,
        tables: list[str] | None = None,
        cycle_prefix: str = "cycle",
    ) -> list[list[SyncResult]]:
        """The reference's main process loop (``db_pipeline.py:75-94``:
        ``while True: run_db_sync(); sleep(INTERVAL)``) over ``pull_cycle``.
        Cycle ids are ``{prefix}-{n}`` with ``n`` continuing from the
        committed history (restart-safe: a re-run after a crash first
        replays the last cycle id, which is idempotent end-to-end, then
        proceeds). Bounded by ``max_cycles`` (None = run forever)."""
        # resume numbering after the highest committed cycle for any table
        start = 0
        for name in tables if tables is not None else self.configs:
            if name not in self.sources:
                continue
            for bid in self.engine(name).table.snapshot.batch_ids:
                head = bid.split(":", 1)[0]
                if head.startswith(f"{cycle_prefix}-"):
                    try:
                        start = max(start, int(head.split("-", 1)[1]))
                    except ValueError:
                        pass
        out = []
        n = 0
        while max_cycles is None or n < max_cycles:
            out.append(self.pull_cycle(f"{cycle_prefix}-{start + n}", tables=tables))
            n += 1
            if max_cycles is not None and n >= max_cycles:
                break
            if interval_s:
                time.sleep(interval_s)
        return out

    # -------------------------------------------------------------- health

    def status(self) -> dict:
        """Aggregate health/status document (R8; reference
        ``monitoring.py:16-152`` serves the equivalent over HTTP :8089 —
        see ``cdc.monitoring.HealthServer`` for the serving surface).
        'healthy' = every instantiated table has committed at least one
        batch and nothing is queued for retry; 'idle' = no table has run
        yet; 'degraded' otherwise."""
        tables = {}
        any_commits, any_missing = False, False
        for name in self.configs:
            if name in self._engines:
                s = self._engines[name].status()
                tables[name] = s
                if s["n_batches"]:
                    any_commits = True
                else:
                    any_missing = True
            else:
                tables[name] = {"n_batches": 0, "last_batch_id": None}
                any_missing = True
        retry_depth = len(self.retry_queue.items)
        if not any_commits:
            overall = "idle"
        elif any_missing or retry_depth:
            overall = "degraded"
        else:
            overall = "healthy"
        return {
            "status": overall,
            "timestamp": time.time(),
            "retry_queue_depth": retry_depth,
            "tables": tables,
        }

    # ------------------------------------------------------- verification

    def verify_sync(self, name: str, expected: DataFrame) -> dict:
        """Row-count sync verification (reference ``log_sync_results``,
        ``pipeline_management.py:70-128``): compare the live table state
        against an expected DataFrame; classify perfect/partial/failed."""
        got = self.engine(name).table.read().count()
        want = expected.count()
        diff_pct = 0.0 if want == 0 else abs(got - want) * 100.0 / want
        status = "perfect" if got == want else ("partial" if diff_pct <= 5.0 else "failed")
        return {"table": name, "expected": want, "actual": got, "diff_pct": round(diff_pct, 3), "status": status}
