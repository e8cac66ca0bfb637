"""Closed-loop pull cycle: committed cursor → pushed-down incremental
source scan → source-introspection schema evolution → exactly-once MERGE →
cursor advance. This is the reference's actual entry point
(``db_pipeline.py:75-94`` + ``get_max_timestamp``
``pipeline_management.py:39-56`` + INFORMATION_SCHEMA evolution
``schema_management.py:11-57``) closed end-to-end, verified against a real
SQL database (embedded Derby)."""

from __future__ import annotations

import pytest

from patuha_etl_dlt_spark.cdc.orchestrator import SyncOrchestrator
from patuha_etl_dlt_spark.config import TableConfig
from patuha_etl_dlt_spark.sources.jdbc import JdbcSourceConfig

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture()
def derby(spark, tmp_path):
    db = tmp_path / "pulldb"
    url = f"jdbc:derby:{db};create=true"
    jvm = spark._jvm
    jvm.java.lang.Class.forName(DRIVER)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE items (id BIGINT PRIMARY KEY, seq BIGINT, name VARCHAR(64))"
    )
    for i in range(100):
        st.executeUpdate(f"INSERT INTO items VALUES ({i}, {i}, 'name {i}')")

    def exec_sql(sql: str) -> None:
        st.executeUpdate(sql)

    yield f"jdbc:derby:{db}", exec_sql
    st.close()
    conn.close()


def make_orch(spark, tmp_path, url, num_buckets=4) -> SyncOrchestrator:
    # Derby folds unquoted identifiers to upper-case, so the lake columns
    # carry the names the JDBC scan actually returns
    cfg = TableConfig(
        table="items",
        merge_key=("ID",),
        cursor="SEQ",
        columns=(("ID", "long"), ("SEQ", "long"), ("NAME", "string")),
        num_buckets=num_buckets,
    )
    src = JdbcSourceConfig(url=url, table="items", cursor_col="seq", driver=DRIVER)
    return SyncOrchestrator(spark, str(tmp_path / "sync"), [cfg], sources={"items": src})


def test_pull_cycle_derby_end_to_end(spark, tmp_path, derby):
    url, exec_sql = derby
    orch = make_orch(spark, tmp_path, url)

    # cycle 1: cold checkpoint + empty target → full extract
    (r1,) = orch.pull_cycle("c1")
    assert r1.status == "perfect" and r1.metrics["rows_pulled"] == 100
    assert "WHERE" not in r1.metrics["source_query"]
    t = orch.engine("items").table
    assert t.read().count() == 100
    assert orch.engine("items").table.snapshot.cursor == 99

    # upstream inserts + an update with a higher cursor
    for i in range(100, 150):
        exec_sql(f"INSERT INTO items VALUES ({i}, {i}, 'name {i}')")
    exec_sql("UPDATE items SET seq = 150, name = 'renamed 7' WHERE id = 7")

    # cycle 2: ONLY the new/changed rows, predicate pushed to the DB
    (r2,) = orch.pull_cycle("c2")
    assert r2.status == "perfect" and r2.metrics["rows_pulled"] == 51
    assert "WHERE seq > 99" in r2.metrics["source_query"]
    assert r2.metrics["last_value"] == 99 and r2.metrics["cursor"] == 150
    state = {r["ID"]: r["NAME"] for r in t.read().collect()}
    assert len(state) == 150 and state[7] == "renamed 7"

    # cycle 3: nothing new → no-op, cursor parked
    (r3,) = orch.pull_cycle("c3")
    assert r3.metrics["rows_pulled"] == 0
    assert orch.engine("items").table.snapshot.cursor == 150
    assert t.read().count() == 150

    # replaying a whole cycle id is exactly-once end-to-end
    (r2b,) = orch.pull_cycle("c2")
    assert r2b.status == "skipped"
    assert t.read().count() == 150


def test_pull_cycle_source_schema_evolution(spark, tmp_path, derby):
    url, exec_sql = derby
    orch = make_orch(spark, tmp_path, url)
    orch.pull_cycle("c1")

    # the source table grows a column upstream (reference
    # schema_management.py:79-104: INFORMATION_SCHEMA diff → ALTER ADD)
    exec_sql("ALTER TABLE items ADD COLUMN extra INTEGER")
    exec_sql("INSERT INTO items VALUES (200, 200, 'with extra', 7)")

    (r,) = orch.pull_cycle("c2")
    assert {"kind": "add", "name": "EXTRA", "typ": "int"} in r.metrics["evolution_ops"]
    t = orch.engine("items").table
    assert "EXTRA" in [f.name for f in t.schema.fields]
    rows = {r["ID"]: r["EXTRA"] for r in t.read().collect()}
    assert rows[200] == 7 and rows[0] is None  # old + new generations coexist


def test_pull_cycle_callable_source_widen_and_cold_restart(spark, tmp_path):
    """(a) a source whose cursor/value column WIDENS upstream (int→long)
    evolves the lake column before apply; (b) a fresh checkpoint dir
    against an existing target resumes from the cursor the target's
    snapshot committed instead of re-pulling history."""
    import shutil

    pulls = []

    def source(spark_, last):
        pulls.append(last)
        if len(pulls) <= 2:
            return spark_.createDataFrame(
                [(i, i, i * 10) for i in range(5)], "k long, c long, v int"
            ).filter(f"c > {-1 if last is None else last}")
        # later generation: v widened to long upstream, new rows
        return spark_.createDataFrame(
            [(i, i, i * 10_000_000_000) for i in range(5, 8)], "k long, c long, v long"
        ).filter(f"c > {-1 if last is None else last}")

    cfg = TableConfig(
        table="w", merge_key=("k",), cursor="c",
        columns=(("k", "long"), ("c", "long"), ("v", "int")), num_buckets=4,
    )
    orch = SyncOrchestrator(spark, str(tmp_path / "sync"), [cfg], sources={"w": source})
    (r1,) = orch.pull_cycle("c1")
    assert r1.metrics["rows_pulled"] == 5 and pulls[-1] is None

    # cold restart: wipe ONLY the checkpoint (the metrics log); target survives
    shutil.rmtree(str(tmp_path / "sync" / "checkpoints" / "w"))
    orch2 = SyncOrchestrator(spark, str(tmp_path / "sync"), [cfg], sources={"w": source})
    (r2,) = orch2.pull_cycle("c2")
    # the cursor rides the table snapshot (max c == 4): nothing re-pulled
    assert pulls[-1] == 4 and r2.metrics["rows_pulled"] == 0

    (r3,) = orch2.pull_cycle("c3")
    assert {"kind": "widen", "name": "v", "typ": "long"} in r3.metrics["evolution_ops"]
    t = orch2.engine("w").table
    assert dict((f.name, f.type) for f in t.schema.fields)["v"] == "long"
    vals = {r["k"]: r["v"] for r in t.read().collect()}
    assert vals[0] == 0 and vals[7] == 70_000_000_000 and len(vals) == 8


def _restart(spark, orch: SyncOrchestrator) -> SyncOrchestrator:
    """A fresh orchestrator over the same directories and sources."""
    return SyncOrchestrator(spark, orch.root, list(orch.configs.values()), sources=orch.sources)


def test_pull_cycle_crash_between_merge_and_checkpoint_heals(spark, tmp_path, crash_at, monkeypatch):
    """A cursor pull that dies (a) inside ``write_snapshot``, before
    ``CURRENT`` is swapped, committed nothing: the replayed cycle pulls
    again from the old cursor. One that dies (b) after ``CURRENT``, before
    the metrics line, committed its rows and its cursor together: the
    replay is skipped, and the next cycle scans from the crashed commit's
    cursor without re-deriving it from the target."""
    rows = {"n": 10}

    def source(spark_, last):
        return spark_.createDataFrame(
            [(i, i, f"n{i}") for i in range(rows["n"])], "k long, c long, n string"
        ).filter(f"c > {-1 if last is None else last}")

    cfg = TableConfig(
        table="h", merge_key=("k",), cursor="c",
        columns=(("k", "long"), ("c", "long"), ("n", "string")), num_buckets=4,
    )
    for point in ("a", "b"):
        rows["n"] = 10
        orch = SyncOrchestrator(spark, str(tmp_path / point), [cfg], sources={"h": source})
        orch.pull_cycle("c1")
        assert orch.engine("h").table.snapshot.cursor == 9

        rows["n"] = 15
        crash_at(point)
        with pytest.raises(crash_at.Crash):
            orch.pull_cycle("c2")

        orch = _restart(spark, orch)
        eng = orch.engine("h")
        # a table that has a committed cursor never scans the target for one
        monkeypatch.setattr(
            SyncOrchestrator, "_derive_cursor_from_target",
            lambda *a: pytest.fail("cursor re-derived from the target"),
        )
        (r,) = orch.pull_cycle("c2")  # same cycle id replayed after "restart"
        if point == "a":
            assert r.status == "perfect" and r.metrics["last_value"] == 9
            assert r.metrics["rows_pulled"] == 5
        else:
            assert r.status == "skipped" and eng.table.has_batch("c2:h")
            assert "source_query" not in r.metrics  # no scan ran
        assert eng.table.snapshot.cursor == 14
        assert orch.status()["status"] == "healthy"

        (r3,) = orch.pull_cycle("c3")
        assert r3.metrics["last_value"] == 14 and r3.metrics["rows_pulled"] == 0
        assert eng.table.read().count() == 15 and eng.table.snapshot.cursor == 14
        monkeypatch.undo()


def test_cursor_pull_without_committed_cursor_derives_from_target(spark, tmp_path):
    """A table whose snapshot holds no cursor — loaded by a snapshot seed
    before its first pull — falls back to the target's MAX(cursor) (the
    reference's get_max_timestamp) once, then commits it."""
    pulls = []

    def source(spark_, last):
        pulls.append(last)
        return spark_.createDataFrame(
            [(i, i, f"n{i}") for i in range(6)], "k long, c long, n string"
        ).filter(f"c > {-1 if last is None else last}")

    cfg = TableConfig(
        table="d", merge_key=("k",), cursor="c",
        columns=(("k", "long"), ("c", "long"), ("n", "string")), num_buckets=4,
    )
    orch = SyncOrchestrator(spark, str(tmp_path / "sync"), [cfg], sources={"d": source})
    eng = orch.engine("d")
    eng.seed_snapshot(
        spark.createDataFrame([(i, i, f"n{i}") for i in range(4)], "k long, c long, n string")
    )
    assert eng.table.snapshot.cursor is None
    (r,) = orch.pull_cycle("c1")
    assert pulls == [3] and r.metrics["rows_pulled"] == 2
    assert eng.table.snapshot.cursor == 5
    orch.pull_cycle("c2")
    assert pulls == [3, 5]


def test_snapshot_mode_pull_crash_heals(spark, tmp_path, crash_at):
    """A full-refresh (snapshot mode) pull that dies before ``CURRENT`` is
    swapped (a) re-runs the overwrite on replay; one that dies after it
    (b) is skipped. Either way the table holds the source and reports
    healthy."""

    def source(spark_, last):
        return spark_.createDataFrame([(i, f"n{i}") for i in range(5)], "k long, n string")

    cfg = TableConfig(
        table="s", merge_key=("k",), cursor="", mode="snapshot",
        columns=(("k", "long"), ("n", "string")), num_buckets=4,
    )
    for point in ("a", "b"):
        orch = SyncOrchestrator(spark, str(tmp_path / point), [cfg], sources={"s": source})
        orch.engine("s")  # create the table before arming the crash
        crash_at(point)
        with pytest.raises(crash_at.Crash):
            orch.pull_cycle("c1")

        orch = _restart(spark, orch)
        eng = orch.engine("s")
        assert eng.table.has_batch("c1:s") is (point == "b")
        (r,) = orch.pull_cycle("c1")
        assert r.status == ("skipped" if point == "b" else "perfect")
        assert eng.table.has_batch("c1:s")
        assert orch.status()["status"] == "healthy"
        assert eng.table.read().count() == 5
        assert (eng.table.snapshot.offsets, eng.table.snapshot.cursor) == ({}, None)


def test_snapshot_mode_pull_evolves_from_source(spark, tmp_path):
    """A source that grows a column upstream evolves the lake table on
    every pull mode — the full-refresh (snapshot) pull as the cursor and
    snapshot-diff pulls do — in the pull's own commit, instead of the
    overwrite silently dropping the new column."""
    state = {"rows": [(i, i, f"v{i}") for i in range(4)], "ddl": "k long, seq long, v string"}

    def source(spark_, last):
        return spark_.createDataFrame(state["rows"], state["ddl"])

    cols = (("k", "long"), ("seq", "long"), ("v", "string"))
    cfgs = [
        TableConfig(table=mode, merge_key=("k",), cursor="seq" if mode == "cdc" else "",
                    mode=mode, columns=cols, num_buckets=2)
        for mode in ("cdc", "snapshot", "snapshot_diff")
    ]
    orch = SyncOrchestrator(
        spark, str(tmp_path / "sync"), cfgs, sources={c.table: source for c in cfgs}
    )
    assert all(r.status == "perfect" for r in orch.pull_cycle("c1"))
    v1 = {c.table: orch.engine(c.table).table.snapshot.version for c in cfgs}
    state["rows"] = [(i, i, f"v{i}", f"x{i}") for i in range(4, 6)]
    state["ddl"] = "k long, seq long, v string, x string"
    for r in orch.pull_cycle("c2"):
        assert r.status == "perfect", r
        assert r.metrics["evolution_ops"] == [{"kind": "add", "name": "x", "typ": "string"}], r
        t = orch.engine(r.table).table
        assert t.user_columns() == ["k", "seq", "v", "x"], r.table
        assert t.snapshot.version == v1[r.table] + 1, r.table  # one commit
        got = {row["k"]: row["x"] for row in t.read().collect()}
        want = {4: "x4", 5: "x5"}
        if r.table == "cdc":
            want.update({i: None for i in range(4)})  # old rows NULL-filled
        assert got == want, r.table


def test_snapshot_diff_pull_crash_heals(spark, tmp_path, crash_at):
    """A snapshot-diff pull that dies before ``CURRENT`` (a) re-diffs on
    replay; one that dies after it (b) is skipped. Either way the next
    cycle still lands an upstream delete as a tombstone."""
    state = {}

    def source(spark_, last):
        return spark_.createDataFrame(state["rows"], "k long, n string")

    cfg = TableConfig(
        table="sd", merge_key=("k",), cursor="", mode="snapshot_diff",
        columns=(("k", "long"), ("n", "string")), num_buckets=4,
    )
    for point in ("a", "b"):
        state["rows"] = [(i, f"n{i}") for i in range(6)]
        orch = SyncOrchestrator(spark, str(tmp_path / point), [cfg], sources={"sd": source})
        orch.engine("sd")  # create the table before arming the crash
        crash_at(point)
        with pytest.raises(crash_at.Crash):
            orch.pull_cycle("c1")

        orch = _restart(spark, orch)
        eng = orch.engine("sd")
        (r,) = orch.pull_cycle("c1")
        if point == "a":
            assert r.status == "perfect" and r.metrics["changes"] == 6
        else:
            assert r.status == "skipped" and eng.table.has_batch("c1:sd")
        assert orch.status()["status"] == "healthy"

        state["rows"] = [row for row in state["rows"] if row[0] != 2]  # upstream DELETE
        (r2,) = orch.pull_cycle("c2")
        assert r2.status == "perfect" and r2.metrics["delete_events"] == 1
        assert {row["k"] for row in eng.table.read().collect()} == {0, 1, 3, 4, 5}
        tombstones = eng.table.read(include_deleted=True, include_system=True).filter("_deleted")
        assert [row["k"] for row in tombstones.collect()] == [2]


def test_pull_cycle_dynamic_partition_bounds(spark, tmp_path, derby):
    """A JDBC source with partition_col but NO static bounds gets
    per-cycle bounds probed from the current incremental window, so the
    range-partitioned parallel pull follows the growing table; an empty
    window degrades to an unpartitioned scan."""
    url, exec_sql = derby
    cfg = TableConfig(
        table="items", merge_key=("ID",), cursor="SEQ",
        columns=(("ID", "long"), ("SEQ", "long"), ("NAME", "string")), num_buckets=4,
    )
    src = JdbcSourceConfig(
        url=url, table="items", cursor_col="seq",
        partition_col="seq", num_partitions=4, driver=DRIVER,
    )
    orch = SyncOrchestrator(spark, str(tmp_path / "sync"), [cfg], sources={"items": src})
    orch.engine("items")

    df, desc = orch._build_scan("items", None)
    assert df.rdd.getNumPartitions() == 4 and df.count() == 100
    assert "range-partitioned x4" in desc and "0..99" in desc

    (r1,) = orch.pull_cycle("c1")
    assert r1.status == "perfect" and r1.metrics["rows_pulled"] == 100
    assert "range-partitioned" in r1.metrics["source_query"]

    # the window moved: bounds re-probed per cycle, not reused stale
    for i in range(100, 140):
        exec_sql(f"INSERT INTO items VALUES ({i}, {i}, 'name {i}')")
    df2, desc2 = orch._build_scan("items", 99)
    assert df2.count() == 40 and "100..139" in desc2

    (r2,) = orch.pull_cycle("c2")
    assert r2.metrics["rows_pulled"] == 40
    assert orch.engine("items").table.read().count() == 140

    # empty window: probe returns None → unpartitioned no-op scan
    df3, desc3 = orch._build_scan("items", 139)
    assert df3.count() == 0 and "range-partitioned" not in desc3


def test_run_pull_loop_resumes_numbering_and_heals(spark, tmp_path):
    """The continuous loop (reference db_pipeline.py:75-94) numbers cycles
    from committed history on restart: the last cycle id replays first
    (idempotent heal), then fresh cycles proceed; a snapshot-mode table
    full-refreshes every cycle alongside."""
    feed = {"rows": [(i, i, f"n{i}") for i in range(6)]}

    def cdc_source(spark_, last):
        return spark_.createDataFrame(feed["rows"], "k long, c long, n string").filter(
            f"c > {-1 if last is None else last}"
        )

    def snap_source(spark_, last):
        return spark_.createDataFrame(feed["rows"], "k long, c long, n string")

    cfgs = [
        TableConfig(table="t1", merge_key=("k",), cursor="c",
                    columns=(("k", "long"), ("c", "long"), ("n", "string")), num_buckets=4),
        TableConfig(table="s1", merge_key=("k",), cursor="", mode="snapshot",
                    columns=(("k", "long"), ("c", "long"), ("n", "string")), num_buckets=4),
    ]
    orch = SyncOrchestrator(
        spark, str(tmp_path / "sync"), cfgs,
        sources={"t1": cdc_source, "s1": snap_source},
    )
    rounds = orch.run_pull_loop(max_cycles=2)
    assert len(rounds) == 2
    assert {r.table: r.status for r in rounds[0]} == {"t1": "perfect", "s1": "perfect"}
    assert rounds[1][0].metrics["rows_pulled"] == 0  # cdc: nothing new
    assert rounds[1][1].status == "perfect"  # snapshot: refreshed again
    assert orch.engine("t1").status()["cursor"] == 5

    # "restart": a new orchestrator resumes numbering — first cycle is the
    # idempotent replay of cycle-1, then cycle-2 picks up the new rows
    feed["rows"] = feed["rows"] + [(6, 6, "n6")]
    orch2 = SyncOrchestrator(
        spark, str(tmp_path / "sync"), cfgs,
        sources={"t1": cdc_source, "s1": snap_source},
    )
    rounds2 = orch2.run_pull_loop(max_cycles=2)
    assert rounds2[0][0].status == "skipped"  # cycle-1 replay healed
    assert rounds2[1][0].metrics["rows_pulled"] == 1  # cycle-2: the new row
    assert orch2.engine("t1").table.read().count() == 7
    assert orch2.engine("s1").table.read().count() == 7


def test_diff_snapshots_unit(spark):
    """I/U/D derivation with null-safe payload comparison and a column
    the old snapshot lacks (source schema grew)."""
    from patuha_etl_dlt_spark.cdc.snapshot_diff import diff_snapshots

    old = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5), (3, "c", 7), (4, None, 9)],
        "k long, s string, v int",
    )
    new = spark.createDataFrame(
        [(1, "a", None, None), (2, "B", 5, None), (4, None, 9, 1), (5, "e", 0, None)],
        "k long, s string, v int, extra int",
    )
    got = {r["k"]: (r["op"], r["s"], r["v"], r["extra"]) for r in
           diff_snapshots(new, old.drop("extra") if "extra" in old.columns else old, "k").collect()}
    # k=1 unchanged (None == None null-safely, extra None vs missing→None)
    assert 1 not in got
    assert got[2] == ("U", "B", 5, None)     # payload changed
    assert got[4] == ("U", None, 9, 1)       # gained a value in the new column
    assert got[5] == ("I", "e", 0, None)     # new key
    assert got[3][0] == "D" and got[3][1] == "c"  # deleted key keeps old payload
    assert len(got) == 4


def test_pull_cycle_snapshot_diff_propagates_deletes(spark, tmp_path):
    """snapshot_diff mode: full pull, merge only derived changes; an
    upstream DELETE lands as a tombstone (the thing cursor CDC can't do),
    a resurrected key comes back, replay is exactly-once."""
    state = {"rows": [(i, f"n{i}", i * 10) for i in range(8)]}

    def source(spark_, last):
        return spark_.createDataFrame(state["rows"], "k long, n string, v long")

    cfg = TableConfig(
        table="sd", merge_key=("k",), cursor="", mode="snapshot_diff",
        columns=(("k", "long"), ("n", "string"), ("v", "long")), num_buckets=4,
    )
    orch = SyncOrchestrator(spark, str(tmp_path / "sync"), [cfg], sources={"sd": source})
    (r1,) = orch.pull_cycle("c1")
    assert r1.metrics["changes"] == 8 and r1.metrics["insert_events"] == 8
    t = orch.engine("sd").table
    assert t.read().count() == 8

    # upstream: delete k=3, update k=5, insert k=8
    state["rows"] = [(i, f"n{i}" if i != 5 else "CHANGED", i * 10)
                     for i in range(8) if i != 3] + [(8, "n8", 80)]
    (r2,) = orch.pull_cycle("c2")
    assert r2.metrics["changes"] == 3
    assert r2.metrics["delete_events"] == 1 and r2.metrics["insert_events"] == 1
    rows = {r["k"]: r["n"] for r in t.read().collect()}
    assert 3 not in rows and rows[5] == "CHANGED" and rows[8] == "n8" and len(rows) == 8
    # the delete is a real tombstone (blocks stale resurrection)
    assert t.read(include_deleted=True, include_system=True).filter("_deleted").count() == 1

    # no upstream change → zero events, zero writes of consequence
    (r3,) = orch.pull_cycle("c3")
    assert r3.metrics["changes"] == 0

    # resurrect k=3 upstream → I event wins over the tombstone
    state["rows"] = state["rows"] + [(3, "back", 30)]
    (r4,) = orch.pull_cycle("c4")
    assert r4.metrics["insert_events"] == 1
    assert {r["k"]: r["n"] for r in t.read().collect()}[3] == "back"

    # replay a committed cycle id: exactly-once end-to-end
    (r2b,) = orch.pull_cycle("c2")
    assert r2b.status == "skipped"
    assert t.read().count() == 9


def test_concurrent_pull_cycle_matches_sequential(spark, tmp_path):
    """pull_cycle with max_concurrency>1 (driver thread pool + FAIR pools,
    mixed cdc/snapshot_diff modes) converges to the same state as a
    sequential orchestrator over the same sources."""
    def mk_sources():
        def cdc_src(spark_, last):
            return spark_.createDataFrame(
                [(i, i, i * 2) for i in range(30)], "k long, c long, v long"
            ).filter(f"c > {-1 if last is None else last}")

        def sd_src(spark_, last):
            return spark_.createDataFrame(
                [(i, f"x{i}") for i in range(20) if i != 7], "k long, s string"
            )

        return {"a": cdc_src, "b": sd_src}

    cfgs = [
        TableConfig(table="a", merge_key=("k",), cursor="c",
                    columns=(("k", "long"), ("c", "long"), ("v", "long")), num_buckets=4),
        TableConfig(table="b", merge_key=("k",), cursor="", mode="snapshot_diff",
                    columns=(("k", "long"), ("s", "string")), num_buckets=8),
    ]

    def final_state(orch):
        return {
            name: sorted(map(tuple, orch.engine(name).table.read().collect()))
            for name in ("a", "b")
        }

    seq = SyncOrchestrator(spark, str(tmp_path / "seq"), cfgs, sources=mk_sources())
    con = SyncOrchestrator(
        spark, str(tmp_path / "con"), cfgs, sources=mk_sources(), max_concurrency=2
    )
    for orch in (seq, con):
        rs = orch.pull_cycle("c1")
        assert {r.status for r in rs} == {"perfect"}
    assert final_state(seq) == final_state(con)
    assert con.status()["status"] == "healthy"


def test_pull_loop_overlay_passthrough_and_compaction_cadence(spark, tmp_path):
    """Pull cycles write merge-on-read overlays one file per touched
    bucket AND advance the engine's compaction cadence — without it a
    long-running run_pull_loop accretes one overlay file-set
    per cycle forever. Every compact_every cycles the fold restores one
    base file per bucket, so the file count stays bounded over many
    cycles."""
    from patuha_etl_dlt_spark.cdc.engine import EngineConfig

    feed = {"n": 4}

    def source(spark_, last):
        rows = [(i, i, f"n{i}") for i in range(feed["n"])]
        return spark_.createDataFrame(rows, "k long, c long, n string").filter(
            f"c > {-1 if last is None else last}"
        )

    cfg = TableConfig(
        table="pc", merge_key=("k",), cursor="c",
        columns=(("k", "long"), ("c", "long"), ("n", "string")), num_buckets=8,
    )
    orch = SyncOrchestrator(
        spark, str(tmp_path / "sync"), [cfg], sources={"pc": source},
        engine_config=EngineConfig(compact_every=3),
    )
    (r1,) = orch.pull_cycle("c1")
    assert r1.status == "perfect"
    t = orch.engine("pc").table
    # the pull merge wrote bucket-placed overlays, one file per bucket
    deltas = [f for f in t.snapshot.files if f.kind == "delta"]
    assert deltas and all(f.bucket >= 0 for f in deltas)
    assert r1.metrics["files_written"] == r1.metrics["buckets_touched"] == len(deltas)

    file_counts = []
    for i in range(2, 14):
        feed["n"] += 2
        orch.pull_cycle(f"c{i}")
        file_counts.append(len(t.snapshot.files))
    # cadence fired (compacted state = bucketed files only, one per bucket)
    # and the count never trends upward cycle-over-cycle beyond one
    # cadence period's worth of overlays
    assert min(file_counts[2:]) <= t.snapshot.num_buckets
    assert max(file_counts) <= t.snapshot.num_buckets + 3 * 2 + 2
    rows = {r["k"]: r["n"] for r in t.read().collect()}
    assert len(rows) == feed["n"] and rows[0] == "n0"


def test_snapshot_diff_pull_respects_overlay_and_compacts(spark, tmp_path, monkeypatch):
    """The snapshot_diff pull path writes bucket-placed overlays, passes
    delta_reduced through and rides the same compaction cadence (its
    per-cycle full table read degrades monotonically if overlays
    accrete)."""
    from patuha_etl_dlt_spark.cdc.engine import EngineConfig
    from patuha_etl_dlt_spark.lake import LakeTable

    merge_kwargs = []
    orig_merge = LakeTable.merge

    def spy(self, *a, **kw):
        merge_kwargs.append(kw)
        return orig_merge(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "merge", spy)

    state = {"rows": {i: f"v{i}" for i in range(6)}}

    def source(spark_, last):
        return spark_.createDataFrame(
            [(k, v) for k, v in state["rows"].items()], "k long, v string"
        )

    cfg = TableConfig(
        table="sd", merge_key=("k",), cursor="", mode="snapshot_diff",
        columns=(("k", "long"), ("v", "string")), num_buckets=8,
    )
    orch = SyncOrchestrator(
        spark, str(tmp_path / "sync"), [cfg], sources={"sd": source},
        engine_config=EngineConfig(compact_every=2),
    )
    (r1,) = orch.pull_cycle("c1")
    t = orch.engine("sd").table
    deltas = [f for f in t.snapshot.files if f.kind == "delta"]
    assert deltas and all(f.bucket >= 0 for f in deltas)
    assert r1.metrics["files_written"] == r1.metrics["buckets_touched"] == len(deltas)
    assert [kw.get("delta_reduced") for kw in merge_kwargs] == [True]
    state["rows"][6] = "v6"
    del state["rows"][0]  # upstream DELETE propagates via the diff
    orch.pull_cycle("c2")  # cadence fires here (compact_every=2)
    files = t.snapshot.files
    assert all(f.kind == "base" for f in files)
    assert len(files) == len({f.bucket for f in files})
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == state["rows"]
    (r3,) = orch.pull_cycle("c3")  # upstream unchanged: an empty diff
    assert r3.status == "perfect" and r3.metrics["changes"] == 0, r3.metrics


def test_cursor_type_flip_fails_before_merge(spark, tmp_path):
    """ADVICE r5: a cursor TYPE FLIP must fail the cycle BEFORE any state
    lands — before the merge writes a data file, not inside the commit's
    cursor fold after it."""
    cfg = TableConfig(
        table="w",
        merge_key=("k",),
        cursor="c",
        columns=(("k", "long"), ("c", "long"), ("v", "string")),
        num_buckets=4,
    )

    def source_int(s, last):
        return s.createDataFrame([(1, 10, "a"), (2, 11, "b")], "k long, c long, v string")

    def source_str(s, last):
        # upstream cursor column silently became a string
        return s.createDataFrame([(3, "z12", "c")], "k long, c string, v string")

    orch = SyncOrchestrator(spark, str(tmp_path / "sync"), [cfg], sources={"w": source_int})
    (r1,) = orch.pull_cycle("c1")
    assert r1.status == "perfect"
    eng = orch.engine("w")
    assert eng.table.snapshot.cursor == 11
    v_before = eng.table.snapshot.version

    orch.sources["w"] = source_str
    (r2,) = orch.pull_cycle("c2")
    assert r2.status == "failed"
    assert "cursor type changed" in r2.metrics["error"]
    # the guard fired BEFORE the merge: no new snapshot, cursor unchanged,
    # and the cycle id is not committed anywhere (cleanly retryable)
    assert eng.table.snapshot.version == v_before
    assert eng.table.snapshot.cursor == 11
    assert not eng.table.has_batch("c2:w")


def test_decimal_cursor_pulls_advance_numerically(spark, tmp_path):
    """A DECIMAL cursor column survives consecutive pull cycles (the
    cursor used to be stored as a string, which the next cycle's type
    guard rejected), is pushed to the source as a plain numeric literal,
    and advances numerically: 9.50 < 10.50, though "9.50" > "10.50"."""
    from decimal import Decimal

    db = tmp_path / "decdb"
    jvm = spark._jvm
    jvm.java.lang.Class.forName(DRIVER)
    conn = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};create=true")
    st = conn.createStatement()
    try:
        st.executeUpdate("CREATE TABLE px (id BIGINT PRIMARY KEY, c DECIMAL(10,2), v VARCHAR(16))")
        for i in range(1, 10):
            st.executeUpdate(f"INSERT INTO px VALUES ({i}, {i}.50, 'a{i}')")
        # Derby folds unquoted identifiers to upper-case
        cfg = TableConfig(
            table="px", merge_key=("ID",), cursor="C",
            columns=(("ID", "long"), ("C", "decimal(10,2)"), ("V", "string")), num_buckets=4,
        )
        src = JdbcSourceConfig(url=f"jdbc:derby:{db}", table="px", cursor_col="c", driver=DRIVER)
        orch = SyncOrchestrator(spark, str(tmp_path / "sync"), [cfg], sources={"px": src})
        (r1,) = orch.pull_cycle("c1")
        assert r1.status == "perfect", r1.metrics
        eng = orch.engine("px")
        assert eng.table.snapshot.cursor == Decimal("9.50")

        st.executeUpdate("INSERT INTO px VALUES (10, 10.50, 'a10')")
        st.executeUpdate("UPDATE px SET c = 11.50, v = 'b3' WHERE id = 3")
        (r2,) = orch.pull_cycle("c2")
        assert r2.status == "perfect", r2.metrics
        assert r2.metrics["last_value"] == Decimal("9.50")
        assert r2.metrics["rows_pulled"] == 2  # only rows above 9.50
        assert "9.50" in r2.metrics["source_query"]
        assert eng.table.snapshot.cursor == Decimal("11.50")

        (r3,) = orch.pull_cycle("c3")  # nothing new: cursor holds
        assert r3.status == "perfect" and r3.metrics["rows_pulled"] == 0, r3.metrics
        assert eng.table.snapshot.cursor == Decimal("11.50")
        got = {r["ID"]: r["V"] for r in eng.table.read().collect()}
        assert got == {**{i: f"a{i}" for i in range(1, 11)}, 3: "b3"}
    finally:
        st.close()
        conn.close()


def test_diff_shuffle_partitions_sized_from_table_bytes(spark, tmp_path):
    """VERDICT r5 #4: the snapshot-diff shuffle width derives from the
    table's on-disk bytes (max(session, bytes // target)), so a large
    table's full-outer diff join no longer squeezes through a
    core-count-sized shuffle (the 32M-row spill cliff)."""
    from patuha_etl_dlt_spark.cdc.snapshot_diff import diff_shuffle_partitions
    from patuha_etl_dlt_spark.lake import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("k", "long"), ("v", "string")],
        key_cols="k", order_col=None, num_buckets=4,
    )
    t.merge(spark.createDataFrame([(i, "x" * 50) for i in range(2000)], "k long, v string"),
            batch_id="b0")
    total = sum(
        __import__("os").path.getsize(__import__("os").path.join(t.root, f.path))
        for f in t.snapshot.files
    )
    assert total > 0
    # small table: session width wins (AQE-coalesce-friendly floor)
    assert diff_shuffle_partitions(t, t.snapshot, 8) == 8
    # big-table regime simulated by shrinking the per-partition target:
    # width scales with bytes, never below the session width
    assert diff_shuffle_partitions(t, t.snapshot, 8, target_bytes=total // 32) == 32
    assert diff_shuffle_partitions(t, t.snapshot, 64, target_bytes=total // 32) == 64
