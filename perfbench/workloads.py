"""The benchmark's workloads, driven through the package's public API.

Each workload is a closed loop on one driver thread: the next batch (or
table pull) starts only after the previous one has committed. The timed
window is a whole number of compaction periods, so the deferred write cost
of merge-on-read overlays always falls inside it. Between commits, a read
probe (20-key ``LakeTable.lookup`` calls and full-state aggregate scans)
samples read latency at every overlay depth a period passes through.

- ``tail_heavy``: push-mode binlog/Kafka tail of ~8.5 KB pages through
  ``CdcEngine.apply_batch``; per-row work dominates.
- ``sync_small``: tables.json-style pull sync of eight Derby tables through
  ``SyncOrchestrator.pull_cycle``; per-commit fixed cost dominates.

Every workload records commit, lookup and scan latencies and checks its
results against an independent oracle (``oracles.py``).
"""

from __future__ import annotations

import contextlib
import os
import random

import harness
import oracles
from harness import Tally, run_periods, timed

PAGE_COLS = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
]
FEED_PARTITIONS = 4
LOOKUP_KEYS = 20
COMPACT_EVERY = 8  # EngineConfig() default: one compaction period = 8 commits


class Workload:
    """Shared state of one run: session, work dir, tally, the tracer of a
    traced run, and the latency samples the end-to-end metrics come from."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = None  # set by a traced run
        self.tally = Tally()
        self.rng = random.Random(seed)
        self.commit_s: list[float] = []
        self.read_s: list[float] = []
        self.scan_s: list[float] = []
        self.events = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def close(self) -> None:
        pass

    def reset_samples(self) -> None:
        self.commit_s.clear()
        self.read_s.clear()
        self.scan_s.clear()
        self.events = 0


def table_counts(table, keys) -> dict:
    """File counts of a table's current snapshot and of one lookup."""
    files = table.snapshot.files
    return {
        "lake.table.lookup.files_scanned": len(table.lookup(keys).inputFiles()),
        "lake.table.overlay_files": sum(f.kind == "delta" for f in files),
        "lake.table.live_files": len(files),
    }


# --------------------------------------------------------------- page feed


def url_of(idx: int) -> str:
    """The url ``feedgen.generate_events_distributed`` gives key ``idx``."""
    return f"https://site{idx % 97}.example/page/{idx}"


class TailHeavy(Workload):
    """Push-mode tail of Common-Crawl-size pages (~8.5 KB of html each):
    half the events on 1% of the urls, 10% deletes, applied in large
    LSN-contiguous batches with ``EngineConfig()`` defaults. A light read
    probe rides along: a 20-key lookup after every ``LOOKUP_EVERY``
    batches and a full-state aggregate scan after every ``SCAN_EVERY``.

    Batch 0 (the warm-up) covers LSNs [0, FIRST); batch i >= 1 covers
    ``BATCH`` LSNs after it. Inputs are a pure function of the seed."""

    N_URLS = 12_000
    BODY_PARAGRAPHS = 48
    FIRST = 2_000
    BATCH = 4_000
    LOOKUP_EVERY = 2
    SCAN_EVERY = 4

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        from patuha_etl_dlt_spark.cdc.checkpoint import CheckpointStore
        from patuha_etl_dlt_spark.cdc.engine import CdcEngine
        from patuha_etl_dlt_spark.lake.table import LakeTable

        self.n_hot = self.N_URLS // 100
        self.feed_dir = os.path.join(work, "feed")
        self.staged = 0
        self.applied = 0  # batches committed
        self.table = LakeTable.create(
            spark, os.path.join(work, "lake"), PAGE_COLS, key_cols="url", order_col="warc_ts"
        )
        self.engine = CdcEngine(self.table, CheckpointStore(os.path.join(work, "cp")))
        self.lookups: list[tuple[int, list[str], int, list]] = []  # (id, keys, max_lsn, rows)
        self.scans: list[tuple[int, dict]] = []  # (max_lsn, {lang: count})

    def bounds(self, i: int) -> tuple[int, int]:
        if i == 0:
            return 0, self.FIRST
        lo = self.FIRST + (i - 1) * self.BATCH
        return lo, lo + self.BATCH

    def stage(self, upto: int) -> None:
        """Write batches [staged, upto) of the feed to Parquet, one
        directory per batch."""
        from pyspark.sql import functions as F

        from patuha_etl_dlt_spark.sources.feedgen import generate_events_distributed

        if upto <= self.staged:
            return
        lo, hi = self.bounds(self.staged)[0], self.bounds(upto - 1)[1]
        feed = generate_events_distributed(
            self.spark,
            hi,
            self.N_URLS,
            n_partitions=FEED_PARTITIONS,
            body_paragraphs=self.BODY_PARAGRAPHS,
            seed=self.seed,
            parallelism=harness.CORES,
        ).filter(F.col("lsn") >= lo)
        b = F.when(F.col("lsn") < self.FIRST, 0).otherwise(
            ((F.col("lsn") - self.FIRST) / self.BATCH).cast("int") + 1
        )
        feed.withColumn("b", b).write.mode("append").partitionBy("b").parquet(self.feed_dir)
        self.staged = upto

    def staged_batch(self, i: int):
        return self.spark.read.parquet(os.path.join(self.feed_dir, f"b={i}"))

    def apply(self, engine, i: int) -> dict:
        """Apply staged batch ``i`` with the offsets its source knows."""
        last = self.bounds(i)[1] - 1
        offsets = {p: last - (last - p) % FEED_PARTITIONS for p in range(FEED_PARTITIONS)}
        return engine.apply_batch(
            self.staged_batch(i), batch_id=f"b{i}", offsets=offsets, descriptors=[]
        )

    def apply_next(self) -> None:
        i = self.applied
        out, dt = timed(self.tally.call, f"apply b{i}", self.apply, self.engine, i)
        self.applied += 1
        if out is not None:
            self.commit_s.append(dt)
            lo, hi = self.bounds(i)
            self.events += hi - lo

    @property
    def max_lsn(self) -> int:
        return self.bounds(self.applied - 1)[1] - 1

    def lookup_keys(self) -> list[str]:
        hot = self.rng.sample(range(self.n_hot), LOOKUP_KEYS // 2)
        cold = self.rng.sample(range(self.n_hot, self.N_URLS), LOOKUP_KEYS - LOOKUP_KEYS // 2)
        return [url_of(i) for i in hot + cold]

    def lookup(self, record: bool = True) -> None:
        from pyspark.sql import functions as F

        keys = self.lookup_keys()

        def run():
            with self.span("bench.lookup"):
                return (
                    self.table.lookup(keys)
                    .select(
                        "url", F.col("warc_ts").cast("long"), "lang",
                        F.octet_length("html"), "html", "text",
                    )
                    .collect()
                )

        rows, dt = timed(self.tally.call, "lookup", run)
        if rows is not None:
            self.lookups.append((len(self.lookups), keys, self.max_lsn, rows))
            if record:
                self.read_s.append(dt)

    def scan(self, record: bool = True) -> None:
        from pyspark.sql import functions as F

        def run():
            with self.span("bench.scan"):
                return (
                    self.table.read()
                    .groupBy("lang")
                    .agg(F.count(F.lit(1)), F.sum(F.length("text")))
                    .collect()
                )

        rows, dt = timed(self.tally.call, "scan", run)
        if rows is not None:
            self.scans.append((self.max_lsn, {r[0]: int(r[1]) for r in rows}))
            if record:
                self.scan_s.append(dt)

    def replay_batch(self):
        """(input batch, key columns, LWW order) for the isolated replays."""
        return self.staged_batch(1), ["url"], ["warc_ts", "lsn"]

    def layer_counts(self) -> dict:
        return table_counts(self.table, self.lookup_keys())

    def replay_fresh(self, spark, root: str) -> None:
        """Apply staged batch 1 to a fresh table in ``spark``."""
        from patuha_etl_dlt_spark.cdc.checkpoint import CheckpointStore
        from patuha_etl_dlt_spark.cdc.engine import CdcEngine
        from patuha_etl_dlt_spark.lake.table import LakeTable

        table = LakeTable.create(
            spark, os.path.join(root, "lake"), PAGE_COLS, key_cols="url", order_col="warc_ts"
        )
        engine = CdcEngine(table, CheckpointStore(os.path.join(root, "cp")))
        self.apply(engine, 1)

    def verify(self) -> None:
        """DuckDB LWW oracle over the staged feed: every lookup, every
        scan's per-language counts and the final state; stored text is
        checked against ``extract_text_bytes`` of the stored html."""
        from pyspark.sql import functions as F

        from patuha_etl_dlt_spark.functions.html import extract_text_bytes

        con = oracles.duck(self.work)
        try:
            oracles.load_feed(con, self.feed_dir)
            want = oracles.lww_lookups(con, [(c, k, m) for c, k, m, _ in self.lookups])
            for cid, _, _, rows in self.lookups:
                got = {(r[0], int(r[1]), r[2], int(r[3])) for r in rows}
                self.tally.ok(got == want[cid], f"lookup {cid} differs from the LWW oracle")
                self.tally.ok(
                    all(r[5] == extract_text_bytes(r[4]) for r in rows),
                    f"lookup {cid}: stored text is not the extraction of stored html",
                )
            counts = oracles.lww_lang_counts(con, [m for m, _ in self.scans])
            for m, got in self.scans:
                self.tally.ok(got == counts[m], f"scan at lsn {m} differs from the LWW oracle")
            final = {
                (r[0], int(r[1]), r[2], int(r[3]))
                for r in self.table.read()
                .select("url", F.col("warc_ts").cast("long"), "lang", F.octet_length("html"))
                .collect()
            }
            self.tally.ok(final == oracles.lww_final(con, self.max_lsn), "final state differs")
        finally:
            con.close()

    def setup(self) -> None:
        self.stage(1 + COMPACT_EVERY)
        self.apply_next()  # warm-up: JIT, Python workers, first-batch plans
        self.table.compact_deltas()  # warms the compaction path off the cadence
        self.lookup(record=False)
        self.scan(record=False)
        self.reset_samples()

    def window(self, seconds: float) -> None:
        def period():
            self.stage(self.applied + COMPACT_EVERY)  # off the clock
            for k in range(1, COMPACT_EVERY + 1):
                self.apply_next()
                if k % self.LOOKUP_EVERY == 0:
                    self.lookup()
                if k % self.SCAN_EVERY == 0:
                    self.scan()

        run_periods(seconds, period, lambda: sum(self.commit_s))


# --------------------------------------------------------------- pull sync

SYNC_TABLES = 8
SYNC_ROWS = 5_000
SYNC_BUCKETS = 4
SYNC_COLS = (("ID", "long"), ("SEQ", "long"), ("NAME", "string"), ("AMOUNT", "double"))
# small tables with a few hundred changes per cycle fold their overlays
# every third cycle: one compaction period = 3 cycles, a third of the pulls
# compacting, so the median pull is an ordinary one
SYNC_COMPACT_EVERY = 3
DERBY_DRIVER = oracles.Derby.DRIVER


class SyncSmall(Workload):
    """Eight relational tables in embedded Derby pulled by one
    ``SyncOrchestrator``: seven ``cdc`` tables on a monotone SEQ cursor and
    one ``snapshot_diff`` table that also receives deletes. Between cycles,
    untimed, each table gets a few hundred updates and about a hundred
    inserts. One commit is one table's pull (``pull_cycle`` restricted to
    that table); a cycle pulls every table in turn."""

    LOOKUPS_PER_CYCLE = 1
    SCANS_PER_CYCLE = 1

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        self.db = os.path.join(work, "derby-db")
        self.names = [f"T{i}" for i in range(SYNC_TABLES)]
        self.cycles = 0
        self.derby = None
        self.orch = None
        self.n_lookups = 0  # lookups and scans rotate over the tables
        self.n_scans = 0

    def _seed_derby(self) -> None:
        self.derby = oracles.Derby(self.spark, self.db)
        for t, name in enumerate(self.names):
            csv = os.path.join(self.work, f"{name}.csv")
            rng = random.Random(self.seed * 100 + t)
            with open(csv, "w") as f:
                for i in range(SYNC_ROWS):
                    f.write(f"{i},{i},n{rng.randrange(10**6)},{rng.randrange(10**6) / 100}\n")
            self.derby.execute(
                f"CREATE TABLE {name} (ID BIGINT PRIMARY KEY, SEQ BIGINT, "
                "NAME VARCHAR(64), AMOUNT DOUBLE)"
            )
            self.derby.execute(f"CREATE INDEX {name}_SEQ ON {name}(SEQ)")
            self.derby.execute(
                f"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, '{name}', '{csv}', null, null, null, 0)"
            )
            os.remove(csv)

    def mutate(self) -> None:
        """Untimed upstream traffic before cycle ``self.cycles``: updates
        (~1/32 of rows), inserts (~1/97 of the original ids, as new ids)
        and, on the snapshot_diff table, deletes (~1/61)."""
        c = self.cycles
        base = (c + 1) * 10**10
        for name in self.names:
            r = self.rng.randrange(32)
            self.derby.execute(
                f"UPDATE {name} SET SEQ = {base} + ID, NAME = 'c{c}-{r}', AMOUNT = AMOUNT + 1.5 "
                f"WHERE MOD(ID, 32) = {r}"
            )
            r = self.rng.randrange(97)
            shift = (c + 1) * SYNC_ROWS
            self.derby.execute(
                f"INSERT INTO {name} SELECT ID + {shift}, {base} + ID + {shift}, 'i{c}', AMOUNT "
                f"FROM {name} WHERE ID < {SYNC_ROWS} AND MOD(ID, 97) = {r}"
            )
        r = self.rng.randrange(61)
        self.derby.execute(f"DELETE FROM {self.names[-1]} WHERE MOD(ID, 61) = {r}")

    def pull_all(self) -> None:
        c = self.cycles
        for name in self.names:
            res, dt = timed(self.tally.call, f"pull c{c}:{name}", self.orch.pull_cycle, f"c{c}", [name])
            if res is None:
                continue
            r = res[0]
            if self.tally.ok(r.status == "perfect", f"pull c{c}:{name} status {r.status}"):
                self.commit_s.append(dt)
                self.events += int(r.metrics.get("rows_pulled", r.metrics.get("changes", 0)))
        self.cycles += 1

    def setup(self) -> None:
        from patuha_etl_dlt_spark.cdc.engine import EngineConfig
        from patuha_etl_dlt_spark.cdc.orchestrator import SyncOrchestrator
        from patuha_etl_dlt_spark.config import TableConfig
        from patuha_etl_dlt_spark.sources.jdbc import JdbcSourceConfig

        self._seed_derby()
        configs, sources = [], {}
        for name in self.names:
            diff = name == self.names[-1]
            configs.append(
                TableConfig(
                    table=name, merge_key=("ID",), cursor="SEQ",
                    mode="snapshot_diff" if diff else "cdc",
                    num_buckets=SYNC_BUCKETS, columns=SYNC_COLS,
                )
            )
            sources[name] = JdbcSourceConfig(
                url=f"jdbc:derby:{self.db}", table=name,
                cursor_col=None if diff else "SEQ", driver=DERBY_DRIVER,
            )
        self.orch = SyncOrchestrator(
            self.spark, os.path.join(self.work, "sync"), configs,
            engine_config=EngineConfig(compact_every=SYNC_COMPACT_EVERY), sources=sources,
        )
        self.pull_all()  # initial full load, which also warms the pull path
        self._table(self.names[0]).compact_deltas()  # and the compaction path
        self.lookup(record=False)
        self.scan(record=False)
        self.reset_samples()

    def window(self, seconds: float) -> None:
        def period():
            for _ in range(SYNC_COMPACT_EVERY):
                self.mutate()
                self.pull_all()
                for _ in range(self.LOOKUPS_PER_CYCLE):
                    self.lookup()
                for _ in range(self.SCANS_PER_CYCLE):
                    self.scan()

        run_periods(seconds, period, lambda: sum(self.commit_s))

    def _table(self, name: str):
        return self.orch.engine(name).table

    def lookup(self, record: bool = True) -> None:
        name = self.names[self.n_lookups % len(self.names)]
        self.n_lookups += 1
        hi = SYNC_ROWS * (self.cycles + 1)
        ids = self.rng.sample(range(hi), LOOKUP_KEYS)

        def run():
            with self.span("bench.lookup"):
                return self._table(name).lookup(ids).select(*[c for c, _ in SYNC_COLS]).collect()

        rows, dt = timed(self.tally.call, "lookup", run)
        if rows is not None:
            want = self.derby.query(
                f"SELECT ID, SEQ, NAME, AMOUNT FROM {name} WHERE ID IN ({','.join(map(str, ids))})",
                4,
            )
            self.tally.ok(
                {tuple(r) for r in rows} == {(int(a), int(b), c, float(d)) for a, b, c, d in want},
                f"lookup on {name} differs from Derby",
            )
            if record:
                self.read_s.append(dt)

    def scan(self, record: bool = True) -> None:
        from pyspark.sql import functions as F

        name = self.names[self.n_scans % len(self.names)]
        self.n_scans += 1

        def run():
            with self.span("bench.scan"):
                return (
                    self._table(name)
                    .read()
                    .groupBy((F.col("ID") % 4).alias("g"))
                    .agg(F.count(F.lit(1)), F.sum(F.length("NAME")))
                    .collect()
                )

        rows, dt = timed(self.tally.call, "scan", run)
        if rows is not None:
            want = self.derby.query(
                f"SELECT MOD(ID, 4), COUNT(*), SUM(LENGTH(NAME)) FROM {name} GROUP BY MOD(ID, 4)", 3
            )
            self.tally.ok(
                {(int(a), int(b), int(c)) for a, b, c in rows}
                == {(int(a), int(b), int(c)) for a, b, c in want},
                f"scan on {name} differs from Derby",
            )
            if record:
                self.scan_s.append(dt)

    def derby_table(self, name: str):
        """Spark's own JDBC reader over a Derby table (not the package's)."""
        return (
            self.spark.read.format("jdbc")
            .options(url=f"jdbc:derby:{self.db}", dbtable=name, driver=DERBY_DRIVER)
            .load()
        )

    def replay_batch(self):
        return self.derby_table(self.names[0]), ["ID"], ["SEQ"]

    def layer_counts(self) -> dict:
        out = table_counts(self._table(self.names[0]), self.rng.sample(range(SYNC_ROWS), LOOKUP_KEYS))
        out["cdc.orchestrator.retries"] = len(self.orch.retry_queue.items)
        return out

    def verify(self) -> None:
        """Every lake table against a JDBC read of its Derby source:
        row count and an order-free fingerprint of all columns."""
        cols = [c for c, _ in SYNC_COLS]
        src = oracles.fingerprints({n: self.derby_table(n).select(*cols) for n in self.names})
        lake = oracles.fingerprints({n: self._table(n).read().select(*cols) for n in self.names})
        for name in self.names:
            self.tally.ok(src[name] == lake[name], f"{name}: lake table differs from its Derby source")

    def close(self) -> None:
        if self.derby is not None:
            self.derby.close()


WORKLOADS = {"tail_heavy": TailHeavy, "sync_small": SyncSmall}
