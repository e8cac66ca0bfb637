"""End-to-end CDC engine tests: replay equivalence, exactly-once,
schema evolution, byte-identical extraction.

These implement the reference's *intended* test plan (TRD.md:874-932 names
test_incremental_sync_with_error_recovery / test_schema_evolution_with_
validation / test_composite_primary_key_handling; no tests were shipped —
SURVEY.md §5) plus the north-rule invariants from BASELINE.json."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from patuha_etl_dlt_spark.cdc import CdcEngine, CheckpointStore
from patuha_etl_dlt_spark.cdc.engine import EngineConfig
from patuha_etl_dlt_spark.cdc.envelope import PAGES_COLUMNS, event_struct, schema_descriptor
from patuha_etl_dlt_spark.functions.html import extract_text_bytes
from patuha_etl_dlt_spark.lake import LakeTable
from patuha_etl_dlt_spark.sources.feedgen import FeedSpec, generate_pandas, split_batches

SPEC = FeedSpec(n_urls=300, n_events=3000, n_partitions=4, seed=42)


def make_engine(spark, tmp_path, name="pages", buckets=8) -> CdcEngine:
    t = LakeTable.create(
        spark, str(tmp_path / name), PAGES_COLUMNS, key_cols="url", order_col="warc_ts", num_buckets=buckets
    )
    return CdcEngine(t, CheckpointStore(str(tmp_path / f"{name}_cp")))


def sanitize_lang(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return None
    v = str(v).replace("\x00", "")
    return None if v.strip() == "" else v


def oracle_state(pdf: pd.DataFrame) -> dict:
    """Global LWW winner per url by (warc_ts, lsn); delete winners absent;
    text recomputed from html by the same pure function the UDF uses."""
    best: dict = {}
    for r in pdf.itertuples(index=False):
        tsv = r.warc_ts if pd.notna(r.warc_ts) else pd.Timestamp("1970-01-01")
        cand = (tsv, r.lsn)
        if r.url not in best or cand > best[r.url][0]:
            best[r.url] = (cand, r)
    out = {}
    for u, (_, r) in best.items():
        if r.op == "D":
            continue
        out[u] = (extract_text_bytes(r.html), sanitize_lang(r.lang))
    return out


def table_state(t: LakeTable) -> dict:
    return {r["url"]: (r["text"], r["lang"]) for r in t.read().collect()}


def to_df(spark, pdf):
    return spark.createDataFrame(pdf, schema=event_struct())


@pytest.fixture(scope="module")
def feed():
    return generate_pandas(SPEC)


def test_single_batch_apply_matches_oracle(spark, tmp_path, feed):
    eng = make_engine(spark, tmp_path)
    m = eng.apply_batch(to_df(spark, feed), batch_id="all")
    assert m["events_applied"] > 0
    assert table_state(eng.table) == oracle_state(feed)
    # offsets advanced for every partition, in the same snapshot
    assert set(eng.table.snapshot.offsets) == set(feed["partition_id"].unique().astype(int))


def test_batched_apply_matches_oracle_and_replay_converges(spark, tmp_path, feed):
    batches = split_batches(feed, 5)
    eng = make_engine(spark, tmp_path)
    for i, b in enumerate(batches):
        eng.apply_batch(to_df(spark, b), batch_id=f"b{i}")
    want = oracle_state(feed)
    assert table_state(eng.table) == want

    # replay from checkpoint: a fresh engine instance over the same state
    # re-delivered the whole feed → pure no-op, state unchanged
    eng2 = CdcEngine(eng.table, eng.cp)
    for i, b in enumerate(batches):
        eng2.apply_batch(to_df(spark, b), batch_id=f"replay{i}")
    assert table_state(eng2.table) == want


def test_restart_from_mid_checkpoint(spark, tmp_path, feed):
    batches = split_batches(feed, 4)
    eng = make_engine(spark, tmp_path)
    for i in (0, 1):
        eng.apply_batch(to_df(spark, batches[i]), batch_id=f"b{i}")
    # "crash"; resume with a new engine over the same table+checkpoint,
    # with re-delivery overlapping already-applied data (at-least-once feed)
    eng2 = CdcEngine(eng.table, eng.cp)
    redelivery = pd.concat([batches[1], batches[2], batches[3]], ignore_index=True)
    eng2.apply_batch(to_df(spark, redelivery), batch_id="resume")
    assert table_state(eng2.table) == oracle_state(feed)


def restart(spark, eng: CdcEngine) -> CdcEngine:
    """A fresh engine over the same table and checkpoint directories."""
    return CdcEngine(LakeTable.load(spark, eng.table.root), CheckpointStore(eng.cp.root), eng.cfg)


def lsn_max(pdf: pd.DataFrame) -> dict[int, int]:
    return {int(p): int(v) for p, v in pdf.groupby("partition_id")["lsn"].max().items()}


def test_crash_between_merge_and_checkpoint_heals(spark, tmp_path, feed, crash_at):
    """A commit can die at two points, on every push write path (the
    discovery path, the known-offsets path and the snapshot seed):
    (a) inside ``write_snapshot``, after ``snap-*.json`` and before
    ``CURRENT`` — nothing is committed, so the replay re-applies the batch;
    (b) after ``CURRENT``, before the metrics line — data, batch id and
    offsets are committed together, so the replay is skipped and the
    offsets stay the crashed commit's. A fresh engine over the same
    directories converges to the oracle either way; only the lost metrics
    line is missing from the log. A batch whose descriptor renames and
    adds a column commits its schema change in the same swap: after (a)
    the head version and the columns are unchanged."""
    batches = split_batches(feed, 3)

    def apply(eng, path, i):
        df = to_df(spark, batches[i])
        if path == "discovery":
            return eng.apply_batch(df, batch_id=f"b{i}")
        return eng.apply_batch(df, batch_id=f"b{i}", offsets=lsn_max(batches[i]), descriptors=[])

    for path in ("discovery", "known_offsets"):
        for point in ("a", "b"):
            eng = make_engine(spark, tmp_path, f"{path}_{point}")
            apply(eng, path, 0)
            v0 = eng.table.snapshot.version
            crash_at(point)
            with pytest.raises(crash_at.Crash):
                apply(eng, path, 1)

            eng = restart(spark, eng)
            snap = eng.table.snapshot
            if point == "a":
                assert snap.version == v0 and not eng.table.has_batch("b1")
                assert snap.offsets == lsn_max(batches[0])
                assert apply(eng, path, 1)["skipped"] is False
            else:
                assert snap.version == v0 + 1 and eng.table.has_batch("b1")
                crashed = snap.offsets
                assert crashed == lsn_max(pd.concat(batches[:2]))
                assert apply(eng, path, 1)["skipped"] is True
                assert eng.table.snapshot.offsets == crashed
                s = eng.status()
                assert (s["n_batches"], s["last_batch_id"]) == (2, "b1")
            apply(eng, path, 2)
            assert table_state(eng.table) == oracle_state(feed), (path, point)
            assert eng.table.snapshot.offsets == lsn_max(feed)
            logged = ["b0", "b1", "b2"] if point == "a" else ["b0", "b2"]
            assert [m["batch_id"] for m in eng.cp.metrics()] == logged, (path, point)

    # the snapshot seed, then a push batch on top of it
    seed_rows = [(k, f"s{k}") for k in range(5)]
    for point in ("a", "b"):
        t = LakeTable.create(
            spark, str(tmp_path / f"seed_{point}"), [("k", "long"), ("v", "string")],
            key_cols="k", order_col=None, num_buckets=2,
        )
        eng = CdcEngine(t, CheckpointStore(str(tmp_path / f"seed_{point}_cp")))
        seed = spark.createDataFrame(seed_rows, "k long, v string")
        crash_at(point)
        with pytest.raises(crash_at.Crash):
            eng.seed_snapshot(seed, "seed")

        eng = restart(spark, eng)
        assert eng.table.has_batch("seed") is (point == "b")
        assert eng.seed_snapshot(seed, "seed")["skipped"] is (point == "b")
        assert (eng.table.snapshot.offsets, eng.table.snapshot.cursor) == ({}, None)
        eng.apply_batch(
            spark.createDataFrame([(7, 0, 3, "new")], "lsn long, partition_id int, k long, v string"),
            batch_id="p1",
        )
        assert {r["k"]: r["v"] for r in eng.table.read().collect()} == {**dict(seed_rows), 3: "new"}
        assert eng.table.snapshot.offsets == {0: 7}
        assert (eng.status()["n_batches"], eng.status()["last_batch_id"]) == (2, "p1")

    # a batch whose descriptor renames lang -> language and adds ct
    old = schema_descriptor([(1, "k", "string"), (2, "ts", "long"), (3, "lang", "string")])
    new = schema_descriptor(
        [(1, "k", "string"), (2, "ts", "long"), (3, "language", "string"), (4, "ct", "string")]
    )
    env = "lsn long, partition_id int, schema_json string, k string, ts long"
    e0 = spark.createDataFrame([(0, 0, old, "a", 1, "en"), (1, 0, old, "b", 1, "de")], f"{env}, lang string")
    e1 = spark.createDataFrame(
        [(2, 0, new, "a", 2, "sv", "x"), (3, 0, new, "c", 2, "fi", "y")],
        f"{env}, language string, ct string",
    )
    for point in ("a", "b"):
        t = LakeTable.create(
            spark, str(tmp_path / f"evolve_{point}"), [("k", "string"), ("ts", "long"), ("lang", "string")],
            key_cols="k", order_col="ts", num_buckets=2,
        )
        eng = CdcEngine(t, CheckpointStore(str(tmp_path / f"evolve_{point}_cp")))
        eng.apply_batch(e0, batch_id="e0")
        v0 = t.snapshot.version
        crash_at(point)
        with pytest.raises(crash_at.Crash):
            eng.apply_batch(e1, batch_id="e1")

        eng = restart(spark, eng)
        if point == "a":
            assert eng.table.snapshot.version == v0
            assert eng.table.user_columns() == ["k", "ts", "lang"]
        else:
            assert eng.table.snapshot.version == v0 + 1
        assert eng.apply_batch(e1, batch_id="e1")["skipped"] is (point == "b")
        assert eng.table.user_columns() == ["k", "ts", "language", "ct"]
        got = {r["k"]: (r["language"], r["ct"]) for r in eng.table.read().collect()}
        assert got == {"a": ("sv", "x"), "b": ("de", None), "c": ("fi", "y")}, point


def test_one_durable_state_write_per_commit(spark, tmp_path, monkeypatch):
    """A non-compacting commit makes exactly two durable metadata writes —
    the snapshot manifest and the ``CURRENT`` swap — on the push discovery
    path, the push known-offsets path and a cursor pull; the checkpoint
    directory holds only the metrics log."""
    import os

    from patuha_etl_dlt_spark.cdc.orchestrator import SyncOrchestrator
    from patuha_etl_dlt_spark.config import TableConfig
    from patuha_etl_dlt_spark.lake import metadata

    writes: list[str] = []
    real_write = metadata.atomic_write

    def counting_write(path, data):
        writes.append(os.path.basename(path))
        real_write(path, data)

    cols = [("k", "string"), ("ts", "long"), ("v", "string")]
    rows = [(lsn, f"k{lsn % 3}", lsn, f"v{lsn}", lsn % 2) for lsn in range(10)]
    events = spark.createDataFrame(rows, "lsn long, k string, ts long, v string, partition_id int")
    for path in ("discovery", "known_offsets"):
        t = LakeTable.create(
            spark, str(tmp_path / path), cols, key_cols="k", order_col="ts", num_buckets=2
        )
        eng = CdcEngine(t, CheckpointStore(str(tmp_path / f"{path}_cp")))
        writes.clear()
        monkeypatch.setattr(metadata, "atomic_write", counting_write)
        if path == "discovery":
            m = eng.apply_batch(events, batch_id="b0")
        else:
            m = eng.apply_batch(events, batch_id="b0", offsets={0: 8, 1: 9}, descriptors=[])
        monkeypatch.setattr(metadata, "atomic_write", real_write)
        assert m["events_applied"] == 10 and "compacted_buckets" not in m, path
        assert writes == ["snap-00000001.json", "CURRENT"], path
        assert t.snapshot.offsets == {0: 8, 1: 9}, path
        assert os.listdir(eng.cp.root) == ["metrics.jsonl"], path

    cfg = TableConfig(
        table="p", merge_key=("k",), cursor="c",
        columns=(("k", "long"), ("c", "long"), ("v", "string")), num_buckets=2,
    )

    def source(spark_, last):
        return spark_.createDataFrame([(i, i, f"v{i}") for i in range(5)], "k long, c long, v string")

    orch = SyncOrchestrator(spark, str(tmp_path / "sync"), [cfg], sources={"p": source})
    eng = orch.engine("p")
    writes.clear()
    monkeypatch.setattr(metadata, "atomic_write", counting_write)
    (r,) = orch.pull_cycle("c1")
    monkeypatch.setattr(metadata, "atomic_write", real_write)
    assert r.status == "perfect" and r.metrics["rows_pulled"] == 5
    assert writes == ["snap-00000001.json", "CURRENT"]
    assert eng.table.snapshot.cursor == 4
    assert os.listdir(eng.cp.root) == ["metrics.jsonl"]


def test_manifest_io_per_commit(spark, tmp_path, manifest_io):
    """Each commit reads the head manifest once and publishes one
    snapshot. A non-compacting commit — a push apply on the discovery and
    the known-offsets path, including one whose descriptor renames and
    adds a column and a late one on the pre-rename descriptor, and every
    cursor pull, including one that evolves from the source — parses the
    head at most twice, writes exactly one snapshot and advances the head
    version by exactly one; a snapshot-diff pull parses the head exactly
    once. A compacting apply adds at most one parse and one write."""
    from patuha_etl_dlt_spark.cdc.orchestrator import SyncOrchestrator
    from patuha_etl_dlt_spark.config import TableConfig

    old = schema_descriptor([(1, "k", "string"), (2, "ts", "long"), (3, "lang", "string")])
    new = schema_descriptor(
        [(1, "k", "string"), (2, "ts", "long"), (3, "language", "string"), (4, "ct", "string")]
    )
    gens = [(old, ["lang"]), (new, ["language", "ct"]), (old, ["lang"])]

    def counted(table, commit) -> tuple[dict, int, int, int]:
        v = table.snapshot.version
        manifest_io.take()
        m = commit()
        reads, writes = manifest_io.take()
        return m, reads, writes, table.snapshot.version - v

    for path in ("discovery", "known_offsets"):
        t = LakeTable.create(
            spark, str(tmp_path / path), [("k", "string"), ("ts", "long"), ("lang", "string")],
            key_cols="k", order_col="ts", num_buckets=2,
        )
        eng = CdcEngine(t, CheckpointStore(str(tmp_path / f"{path}_cp")), EngineConfig(compact_every=3))
        for i, (desc, payload) in enumerate(gens):
            lsns = range(10 * i, 10 * i + 10)
            df = spark.createDataFrame(
                [(lsn, lsn % 2, desc, f"k{lsn % 4}", lsn, *[f"v{lsn}"] * len(payload)) for lsn in lsns],
                "lsn long, partition_id int, schema_json string, k string, ts long, "
                + ", ".join(f"{c} string" for c in payload),
            )
            kw = {}
            if path == "known_offsets":
                kw = {"offsets": {0: lsns[-2], 1: lsns[-1]}, "descriptors": [desc]}
            m, reads, writes, versions = counted(
                t, lambda: eng.apply_batch(df, batch_id=f"b{i}", **kw)
            )
            compacting = i == 2
            assert ("compacted_buckets" in m) is compacting, (path, i)
            assert reads <= 2 + compacting, (path, i, reads)
            assert writes == versions == 1 + compacting, (path, i, writes, versions)
        assert t.user_columns() == ["k", "ts", "language", "ct"], path
        got = {r["k"]: r["language"] for r in t.read().collect()}
        assert got == {"k0": "v28", "k1": "v29", "k2": "v26", "k3": "v27"}, path

    state = {"n": 5, "cols": ["k", "c", "v"]}

    def source(spark_, last):
        rows = [(i, i, *[f"{c}{i}" for c in state["cols"][2:]]) for i in range(state["n"])]
        ddl = "k long, c long, " + ", ".join(f"{c} string" for c in state["cols"][2:])
        return spark_.createDataFrame(rows, ddl).filter(f"c > {-1 if last is None else last}")

    cfg = TableConfig(
        table="p", merge_key=("k",), cursor="c",
        columns=(("k", "long"), ("c", "long"), ("v", "string")), num_buckets=2,
    )
    orch = SyncOrchestrator(spark, str(tmp_path / "sync"), [cfg], sources={"p": source})
    t = orch.engine("p").table
    for cycle in range(3):
        if cycle == 2:
            state["cols"].append("x")  # the source grows a column upstream
        (r,), reads, writes, versions = counted(t, lambda: orch.pull_cycle(f"c{cycle}"))
        assert r.status == "perfect" and r.metrics["rows_pulled"] == 5 - 2 * (cycle > 0), r
        assert reads <= 2 and writes == versions == 1, (cycle, reads, writes, versions)
        state["n"] += 3
    assert t.user_columns() == ["k", "c", "v", "x"]

    # a snapshot-diff pull sizes and diffs against the head it was handed
    rows = [(i, f"n{i}") for i in range(6)]
    cfg = TableConfig(
        table="sd", merge_key=("k",), cursor="", mode="snapshot_diff",
        columns=(("k", "long"), ("n", "string")), num_buckets=2,
    )
    orch = SyncOrchestrator(
        spark, str(tmp_path / "diff"), [cfg],
        sources={"sd": lambda spark_, last: spark_.createDataFrame(rows, "k long, n string")},
    )
    t = orch.engine("sd").table
    for cycle in range(3):
        (r,), reads, writes, versions = counted(t, lambda: orch.pull_cycle(f"d{cycle}"))
        assert r.status == "perfect" and r.metrics["changes"] == (6, 2, 2)[cycle], r
        assert reads == 1 and writes == versions == 1, (cycle, reads, writes, versions)
        rows = rows[1:] + [(10 + cycle, "new")]  # one upstream delete, one insert
    assert sorted(r["k"] for r in t.read().collect()) == [2, 3, 4, 5, 10, 11]


def test_offset_filter_broadcast_fallback_matches_literal_map(spark, tmp_path, monkeypatch):
    """Above ``_MAX_LITERAL_OFFSETS`` committed partitions the offset
    filter joins a broadcast offsets table instead of inlining a literal
    map; both keep exactly the events above their partition's offset
    (every event of a partition with no offset)."""
    from patuha_etl_dlt_spark.cdc import engine as engine_mod

    n_parts = 1100
    assert n_parts > engine_mod._MAX_LITERAL_OFFSETS
    eng = make_engine(spark, tmp_path)
    # plant the offsets through one table commit, as an engine write does
    snap = eng.table.snapshot
    eng.table._commit(
        snap, snap.files, "offsets", {"operation": "merge"},
        lambda: ({p: p % 7 for p in range(n_parts)}, None),
    )
    events = spark.range(0, 3300).select(
        (F.col("id") % (n_parts + 50)).cast("int").alias("partition_id"),
        (F.col("id") % 11).alias("lsn"),
        F.col("id").alias("eid"),
    )

    def kept(df):
        return {(r["partition_id"], r["lsn"], r["eid"]) for r in df.collect()}

    fallback_df = eng._filter_new(eng.table.snapshot, events)
    assert "Broadcast" in fallback_df._jdf.queryExecution().executedPlan().toString()
    fallback = kept(fallback_df)
    monkeypatch.setattr(engine_mod, "_MAX_LITERAL_OFFSETS", n_parts)
    literal = kept(eng._filter_new(eng.table.snapshot, events))
    want = {
        (e % (n_parts + 50), e % 11, e)
        for e in range(3300)
        if e % 11 > (e % (n_parts + 50) % 7 if e % (n_parts + 50) < n_parts else -1)
    }
    assert fallback == literal == want and want


def test_duplicate_delivery_and_dup_lsn_within_batch(spark, tmp_path):
    spec = FeedSpec(n_urls=50, n_events=500, dup_rate=0.2, seed=7)
    feed = generate_pandas(spec)
    eng = make_engine(spark, tmp_path)
    for i, b in enumerate(split_batches(feed, 3)):
        eng.apply_batch(to_df(spark, b), batch_id=f"b{i}")
    assert table_state(eng.table) == oracle_state(feed)


def test_byte_identical_text_extraction(spark, tmp_path, feed):
    eng = make_engine(spark, tmp_path)
    eng.apply_batch(to_df(spark, feed), batch_id="all")
    got = {r["url"]: r["text"] for r in eng.table.read().select("url", "text").collect()}
    want = {u: t for u, (t, _) in oracle_state(feed).items()}
    assert got == want  # byte-identical per url (string equality on utf-8 text)


def test_schema_evolution_from_envelope(spark, tmp_path):
    eng = make_engine(spark, tmp_path)
    base = generate_pandas(FeedSpec(n_urls=40, n_events=200, p_delete=0.0, edge_cases=False))
    eng.apply_batch(to_df(spark, base), batch_id="b0")

    # evolved stream: add content_type(id 6), rename lang->language (id 5),
    # widen nothing yet
    desc2 = schema_descriptor(
        [(1, "url", "string"), (2, "warc_ts", "timestamp"), (3, "html", "binary"),
         (4, "text", "string"), (5, "language", "string"), (6, "content_type", "string")]
    )
    ev2 = base.copy().iloc[:50]
    ev2["lsn"] = ev2["lsn"] + 10_000
    ev2["warc_ts"] = ev2["warc_ts"] + pd.Timedelta(days=10)
    ev2["schema_json"] = desc2
    ev2 = ev2.rename(columns={"lang": "language"})
    ev2["language"] = "sv"
    ev2["content_type"] = "text/html"
    cols = ["lsn", "op", "url", "warc_ts", "html", "text", "language", "content_type", "partition_id", "schema_json"]
    df2 = spark.createDataFrame(
        ev2[cols],
        "lsn long, op string, url string, warc_ts timestamp, html binary, text string, "
        "language string, content_type string, partition_id int, schema_json string",
    )
    m = eng.apply_batch(df2, batch_id="b1")
    kinds = {(o["kind"], o["name"]) for o in m["evolution_ops"]}
    assert ("rename", "lang") in kinds and ("add", "content_type") in kinds

    rows = {r["url"]: r for r in eng.table.read().collect()}
    assert eng.table.snapshot.key_cols == ["url"]
    evolved_urls = set(ev2["url"])
    some_old = next(u for u in rows if u not in evolved_urls)
    some_new = next(u for u in rows if u in evolved_urls)
    assert rows[some_new]["language"] == "sv" and rows[some_new]["content_type"] == "text/html"
    assert rows[some_old]["content_type"] is None
    assert rows[some_old]["language"] in ("en", "de", "fr", "id", None)  # old files id-mapped


def test_type_widen_from_envelope(spark, tmp_path):
    cols = [("url", "string"), ("warc_ts", "timestamp"), ("hits", "int")]
    t = LakeTable.create(spark, str(tmp_path / "t"), cols, "url", "warc_ts", num_buckets=2)
    eng = CdcEngine(t, CheckpointStore(str(tmp_path / "cp")))
    d1 = schema_descriptor([(1, "url", "string"), (2, "warc_ts", "timestamp"), (3, "hits", "int")])
    df1 = spark.createDataFrame(
        [(0, "I", "a", dt.datetime(2026, 1, 1), 5, 0, d1)],
        "lsn long, op string, url string, warc_ts timestamp, hits int, partition_id int, schema_json string",
    )
    eng.apply_batch(df1, batch_id="b0")
    d2 = schema_descriptor([(1, "url", "string"), (2, "warc_ts", "timestamp"), (3, "hits", "long")])
    df2 = spark.createDataFrame(
        [(1, "I", "b", dt.datetime(2026, 1, 2), 2**40, 0, d2)],
        "lsn long, op string, url string, warc_ts timestamp, hits long, partition_id int, schema_json string",
    )
    eng.apply_batch(df2, batch_id="b1")
    # a late event on the pre-widen descriptor is an older generation:
    # no op, its value is cast up
    df3 = spark.createDataFrame(
        [(2, "I", "c", dt.datetime(2026, 1, 3), 7, 1, d1)],
        "lsn long, op string, url string, warc_ts timestamp, hits int, partition_id int, schema_json string",
    )
    assert eng.apply_batch(df3, batch_id="b2")["evolution_ops"] == []
    got = {r["url"]: r["hits"] for r in t.read().collect()}
    assert got == {"a": 5, "b": 2**40, "c": 7}
    assert dict(t.read().dtypes)["hits"] == "bigint"


def test_seed_snapshot_then_incremental(spark, tmp_path, feed):
    eng = make_engine(spark, tmp_path)
    # full-refresh seed with the oracle state of the first half (replace path)
    half = feed.iloc[: len(feed) // 2]
    snap_df = spark.createDataFrame(
        [(u, None, None, t, l) for u, (t, l) in oracle_state(half).items()],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    eng.seed_snapshot(snap_df, batch_id="seed")
    assert len(table_state(eng.table)) == len(oracle_state(half))
    # snapshot seeding is idempotent too
    m = eng.seed_snapshot(snap_df, batch_id="seed")
    assert m["skipped"] is True


def test_mixed_generation_batch_rename_coalesce(spark, tmp_path):
    """One batch carrying BOTH pre-rename ('lang') and post-rename events:
    the rename is applied once and the engine coalesces the two
    generations into the current column (``_prepare_delta`` maps columns
    by field id). The new name sorts after the old one's descriptor
    ('language') or before it ('alang'): the descriptor order does not
    decide the result."""
    base = generate_pandas(FeedSpec(n_urls=20, n_events=60, p_delete=0.0, edge_cases=False))
    for new_name in ("language", "alang"):
        eng = make_engine(spark, tmp_path, name=new_name)
        eng.apply_batch(to_df(spark, base), batch_id="b0")

        desc2 = schema_descriptor(
            [(1, "url", "string"), (2, "warc_ts", "timestamp"), (3, "html", "binary"),
             (4, "text", "string"), (5, new_name, "string")]
        )
        uniq = base.drop_duplicates("url")  # disjoint url sets per generation
        old_gen = uniq.iloc[:5].copy()
        old_gen["lsn"] = old_gen["lsn"] + 1000
        old_gen["warc_ts"] = old_gen["warc_ts"] + pd.Timedelta(days=1)
        old_gen[new_name] = None
        new_gen = uniq.iloc[5:10].copy()
        new_gen["lsn"] = new_gen["lsn"] + 2000
        new_gen["warc_ts"] = new_gen["warc_ts"] + pd.Timedelta(days=1)
        new_gen["schema_json"] = desc2
        new_gen[new_name] = "sv"
        new_gen["lang"] = None
        mixed = pd.concat([old_gen, new_gen], ignore_index=True)
        cols = ["lsn", "op", "url", "warc_ts", "html", "text", "lang", new_name,
                "partition_id", "schema_json"]
        df = spark.createDataFrame(
            mixed[cols],
            "lsn long, op string, url string, warc_ts timestamp, html binary, text string, "
            f"lang string, {new_name} string, partition_id int, schema_json string",
        )
        m = eng.apply_batch(df, batch_id="b1")
        assert m["evolution_ops"] == [{"kind": "rename", "name": "lang", "new_name": new_name}]
        assert eng.table.user_columns() == ["url", "warc_ts", "html", "text", new_name]
        rows = {r["url"]: r[new_name] for r in eng.table.read().collect()}
        for u in old_gen["url"]:
            assert rows[u] in ("en", "de", "fr", "id"), new_name  # old-gen value carried over
        for u in new_gen["url"]:
            assert rows[u] == "sv", new_name


def test_extreme_hot_key_skew(spark, tmp_path):
    """One url receives ~50% of 200k events (plus a uniform tail): the
    map-side-combined LWW reduction must absorb it without a straggler
    task materializing 100k rows for one key. Correctness: the hot key's
    winner is the max-(warc_ts,lsn) event."""
    from patuha_etl_dlt_spark.sources.feedgen import generate_events_distributed

    eng = make_engine(spark, tmp_path, buckets=8)
    ev = generate_events_distributed(
        spark, 200_000, 2_000, n_partitions=4, hot_fraction=0.0005, hot_share=0.5,
        p_delete=0.0, parallelism=16,
    )
    m = eng.apply_batch(ev, batch_id="skew")
    assert m["events_applied"] == 200_000
    n_keys = eng.table.read().count()
    assert 0 < n_keys <= 2_000
    # the winner per url carries the globally max lsn seen for that url
    from pyspark.sql import functions as F

    joined = (
        eng.table.read(include_system=True)
        .select("url", F.col("_event_id").alias("winner_lsn"))
        .join(ev.groupBy("url").agg(F.max_by("lsn", F.struct("warc_ts", "lsn")).alias("want")), "url")
    )
    assert joined.filter(F.col("winner_lsn") != F.col("want")).count() == 0


def test_known_offsets_fast_path_matches_discovery(spark, tmp_path, feed):
    """apply_batch with source-supplied offsets/descriptors (the Kafka/
    binlog consumer shape — skips the discovery pre-pass) must converge to
    the same state and survive replay (exactly-once)."""
    e1 = make_engine(spark, tmp_path, "disc")
    e2 = make_engine(spark, tmp_path, "known")
    half = to_df(spark, feed[feed.lsn < 1500])
    rest = to_df(spark, feed[feed.lsn >= 1500])

    e1.apply_batch(half, batch_id="a")
    e1.apply_batch(rest, batch_id="b")

    nparts = SPEC.n_partitions
    e2.apply_batch(half, batch_id="a", offsets={p: 1499 for p in range(nparts)}, descriptors=[])
    e2.apply_batch(rest, batch_id="b", offsets={p: 10**9 for p in range(nparts)}, descriptors=[])

    assert table_state(e1.table) == table_state(e2.table) != {}
    # replay with known offsets is still a no-op (exactly-once)
    m = e2.apply_batch(half, batch_id="a", offsets={p: 1499 for p in range(nparts)}, descriptors=[])
    assert m["skipped"] is True
    # checkpointed high-water marks cover everything applied
    assert all(v >= 1499 for v in e2.table.snapshot.offsets.values())


def test_known_offsets_path_reports_throughput(spark, tmp_path, feed):
    """The known-offsets fast path must still carry events_applied /
    delete_events into the metrics log (via the merge job's
    Observation — no extra discovery job), so status() reports real
    throughput on exactly the path high-volume sources use."""
    eng = make_engine(spark, tmp_path, "thr")
    half = feed[feed.lsn < 1500]
    n_events = len(half)
    n_deletes = int((half.op == "D").sum())
    nparts = SPEC.n_partitions
    m = eng.apply_batch(
        to_df(spark, half), batch_id="a",
        offsets={p: 1499 for p in range(nparts)}, descriptors=[],
    )
    assert m["events_applied"] == n_events > 0
    assert m["delete_events"] == n_deletes > 0
    s = eng.status()
    assert s["recent_events_applied"] == n_events
    assert s["recent_events_per_sec"] is not None and s["recent_events_per_sec"] > 0
    # a re-delivered window under a new batch id is all below the offsets:
    # an empty batch whose counts still reach the metrics
    m = eng.apply_batch(
        to_df(spark, half), batch_id="again",
        offsets={p: 1499 for p in range(nparts)}, descriptors=[],
    )
    assert (m["events_applied"], m["rows_written"], m["files_written"]) == (0, 0, 0)


def test_quarantine_replay_does_not_duplicate(spark, tmp_path, feed):
    """A foreachBatch retry / crash-replay of the same batch id must not
    append duplicate dead-letter rows: each batch overwrites its own
    _batch_id=<id> partition."""
    qdir = str(tmp_path / "dead2")
    t = LakeTable.create(
        spark, str(tmp_path / "qt2"), PAGES_COLUMNS, key_cols="url", order_col="warc_ts", num_buckets=4
    )
    eng = CdcEngine(
        t, CheckpointStore(str(tmp_path / "qcp2")), EngineConfig(quarantine_dir=qdir)
    )
    pdf = feed[feed.lsn < 500].copy()
    pdf.loc[pdf.lsn % 10 == 0, "url"] = None
    n_bad = int((pdf.lsn % 10 == 0).sum())
    # simulate the crash window: quarantine runs, merge never commits, retry
    for _ in range(3):
        _, n = eng._quarantine(t.snapshot, to_df(spark, pdf), "q0")
        assert n == n_bad
    dead = spark.read.parquet(qdir)
    assert dead.count() == n_bad  # not 3 * n_bad
    assert dead.filter(F.col("_batch_id") == "q0").count() == n_bad


def test_quarantine_dead_letter(spark, tmp_path, feed):
    """Rows with NULL merge keys land in the dead-letter dir with
    _reject_reason/_batch_id instead of vanishing; clean rows still merge."""
    qdir = str(tmp_path / "dead")
    t = LakeTable.create(
        spark, str(tmp_path / "qt"), PAGES_COLUMNS, key_cols="url", order_col="warc_ts", num_buckets=4
    )
    eng = CdcEngine(
        t, CheckpointStore(str(tmp_path / "qcp")), EngineConfig(quarantine_dir=qdir)
    )
    pdf = feed[feed.lsn < 500].copy()
    pdf.loc[pdf.lsn % 10 == 0, "url"] = None
    n_bad = int((pdf.lsn % 10 == 0).sum())
    m = eng.apply_batch(to_df(spark, pdf), batch_id="q0")
    assert m["quarantined"] == n_bad > 0

    dead = spark.read.parquet(qdir)
    assert dead.count() == n_bad
    row = dead.limit(1).collect()[0]
    assert row["_reject_reason"] == "null_key:url" and row["_batch_id"] == "q0"
    # no null-key rows reached the table
    assert t.read().filter("url IS NULL").count() == 0
    assert t.read().count() > 0


def test_quarantine_clean_batch_leaves_no_dir_and_counts_survive(spark, tmp_path, feed):
    """(a) A batch with zero bad rows must not accrete an empty
    _batch_id=<id> directory (a long-running clean feed would otherwise
    grow one dir per batch forever); (b) on the known-offsets fast path
    the 'quarantined' count must survive into the committed metrics
    alongside the Observation-derived counts (it used to be lost when the
    counts dict was rebound)."""
    import os

    qdir = str(tmp_path / "dead3")
    t = LakeTable.create(
        spark, str(tmp_path / "qt3"), PAGES_COLUMNS, key_cols="url", order_col="warc_ts", num_buckets=4
    )
    eng = CdcEngine(
        t, CheckpointStore(str(tmp_path / "qcp3")), EngineConfig(quarantine_dir=qdir)
    )
    nparts = SPEC.n_partitions

    clean_pdf = feed[feed.lsn < 300]
    m = eng.apply_batch(
        to_df(spark, clean_pdf), batch_id="c0",
        offsets={p: 299 for p in range(nparts)}, descriptors=[],
    )
    assert m["quarantined"] == 0
    assert m["events_applied"] == len(clean_pdf) > 0
    assert not os.path.exists(os.path.join(qdir, "_batch_id=c0"))

    bad_pdf = feed[(feed.lsn >= 300) & (feed.lsn < 600)].copy()
    bad_pdf.loc[bad_pdf.lsn % 7 == 0, "url"] = None
    n_bad = int((bad_pdf.lsn % 7 == 0).sum())
    m = eng.apply_batch(
        to_df(spark, bad_pdf), batch_id="c1",
        offsets={p: 599 for p in range(nparts)}, descriptors=[],
    )
    assert m["quarantined"] == n_bad > 0
    assert m["events_applied"] == len(bad_pdf)
    # the committed metrics row carries BOTH counts on the fast path
    last = eng.cp.metrics_tail(1)[0]
    assert last["quarantined"] == n_bad and last["events_applied"] == len(bad_pdf)


def test_metrics_tail_is_bounded_and_exact(tmp_path):
    """metrics_tail must read O(n) bytes from the END of the log: a log
    whose head is unparseable garbage proves the head is never touched,
    and the tail rows must equal metrics()[-n:] on a well-formed log."""
    import json

    cp = CheckpointStore(str(tmp_path / "cp_tail"))
    # 200k-line log (~8 MB) with a garbage head: metrics() would raise
    with open(cp.metrics_path, "w") as f:
        for i in range(200_000):
            f.write("not json at all %d\n" % i)
        for i in range(20):
            f.write(json.dumps({"batch_id": f"b{i}", "events_applied": i}) + "\n")
    tail = cp.metrics_tail(10)
    assert [m["batch_id"] for m in tail] == [f"b{i}" for i in range(10, 20)]

    # well-formed log: exact agreement with the full parse
    cp2 = CheckpointStore(str(tmp_path / "cp_tail2"))
    for i in range(57):
        cp2.commit(f"b{i}", {"events_applied": i})
    assert cp2.metrics_tail(10) == cp2.metrics()[-10:]
    assert cp2.metrics_tail(500) == cp2.metrics()  # n > len: whole log
    assert cp2.metrics_tail(0) == []


def test_cursor_monotone_type_stable(spark, tmp_path):
    """A cursor that round-trips to a different numeric type can never move
    the high-water mark backwards (the old guard reset on ANY type change);
    a genuinely incomparable type flip is an explicit error, not a silent
    regression — and the failed commit publishes nothing."""

    def table(name):
        return LakeTable.create(
            spark, str(tmp_path / name), [("k", "long"), ("c", "string")],
            key_cols="k", order_col=None, num_buckets=1,
        )

    def commit(t, batch_id, cursor):
        snap = t.snapshot
        t._commit(snap, snap.files, batch_id, {"operation": "merge"}, lambda: ({}, cursor))

    t = table("cur")
    commit(t, "b1", 5)
    commit(t, "b2", 3.5)  # replayed older batch as float
    assert t.snapshot.cursor == 5
    commit(t, "b3", 7.5)
    assert t.snapshot.cursor == 7.5
    commit(t, "b4", 6)
    assert t.snapshot.cursor == 7.5
    v = t.snapshot.version
    with pytest.raises(TypeError, match="cursor type changed"):
        commit(t, "b5", "2026-01-01")
    assert t.snapshot.version == v and not t.has_batch("b5")

    t2 = table("cur2")
    commit(t2, "b1", "2026-01-02 00:00:00")
    commit(t2, "b2", "2026-01-01 00:00:00")  # replay
    assert t2.snapshot.cursor == "2026-01-02 00:00:00"


def test_widen_key_column_refused(spark, tmp_path):
    """Widening a merge-key column would silently invalidate every recorded
    bucket assignment (murmur3(int) != murmur3(long)) — refused with an
    explicit migration message, both directly and via the pull loop's
    source-introspection evolution."""
    from patuha_etl_dlt_spark.cdc import evolution

    t = LakeTable.create(
        spark, str(tmp_path / "wk"), [("k", "int"), ("c", "long"), ("v", "int")],
        key_cols="k", order_col="c", num_buckets=4,
    )
    with pytest.raises(ValueError, match="merge-key"):
        t.widen_column("k", "long")
    wide = spark.createDataFrame([(1, 1, 1)], "k long, c long, v int")
    with pytest.raises(ValueError, match="merge-key"):
        evolution.evolve_from_source(t.snapshot, wide.schema)
    t.widen_column("v", "long")  # non-key columns still widen fine


def test_tombstone_gc_skipped_for_business_order_col(spark, tmp_path, feed):
    """ADVICE r5 (high): the min-offset horizon is NOT a safe purge bound
    when LWW orders by a business column — a future above-horizon event
    with an older/NULL order value would have LOST to the tombstone, so
    purging it could resurrect the key. The engine must therefore keep
    every tombstone on warc_ts-ordered tables (compaction still folds
    overlays), and replay must still converge."""
    t = LakeTable.create(
        spark, str(tmp_path / "gc"), PAGES_COLUMNS, key_cols="url",
        order_col="warc_ts", num_buckets=8,
    )
    eng = CdcEngine(
        t, CheckpointStore(str(tmp_path / "gc_cp")), EngineConfig(compact_every=2)
    )
    pdf = feed[feed.lsn < 2000]
    bounds = [(0, 500), (500, 1000), (1000, 1500), (1500, 2000)]
    batches = [pdf[(pdf.lsn >= lo) & (pdf.lsn < hi)] for lo, hi in bounds]
    eng.apply_batch(to_df(spark, batches[0]), batch_id="t0")
    eng.apply_batch(to_df(spark, batches[1]), batch_id="t1")  # cadence #1
    eng.apply_batch(to_df(spark, batches[2]), batch_id="t2")
    h = min(eng.table.snapshot.offsets.values())
    tombs_before = {
        r["url"]: r["_event_id"]
        for r in t.read(include_deleted=True, include_system=True)
        .filter("_deleted").collect()
    }
    assert any(v < h for v in tombs_before.values()), "no below-horizon tombstones: vacuous"
    eng.apply_batch(to_df(spark, batches[3]), batch_id="t3")  # cadence #2: folds, NO purge
    tombs_after = {
        r["url"]: r["_event_id"]
        for r in t.read(include_deleted=True, include_system=True)
        .filter("_deleted").collect()
    }
    # control: identical batches, compaction disabled — the compacting
    # engine's tombstone set must be IDENTICAL (folding without purging;
    # LWW supersession by t3's events is common to both)
    tc = LakeTable.create(
        spark, str(tmp_path / "gc_ctl"), PAGES_COLUMNS, key_cols="url",
        order_col="warc_ts", num_buckets=8,
    )
    ctl = CdcEngine(
        tc, CheckpointStore(str(tmp_path / "gc_ctl_cp")), EngineConfig(compact_every=None)
    )
    for i, b in enumerate(batches):
        ctl.apply_batch(to_df(spark, b), batch_id=f"t{i}")
    tombs_ctl = {
        r["url"]: r["_event_id"]
        for r in tc.read(include_deleted=True, include_system=True)
        .filter("_deleted").collect()
    }
    assert tombs_after == tombs_ctl
    assert any(v < h for v in tombs_after.values())  # below-horizon kept
    # replay: same batch id short-circuits; same ROWS under a new id are
    # dropped by the offset filter
    assert eng.apply_batch(to_df(spark, batches[0]), batch_id="t0")["skipped"]
    m = eng.apply_batch(to_df(spark, batches[0]), batch_id="t0-redelivered")
    assert m["rows_written"] == 0
    assert table_state(t) == oracle_state(pdf)


def test_tombstone_gc_on_cadence_lsn_ordered_and_replay_converges(spark, tmp_path, feed):
    """VERDICT r4 'Missing #3' + ADVICE r5 fix: automatic tombstone GC
    still fires on the compaction cadence — but only where it is provably
    safe: a table whose LWW order IS the LSN (order_col=None), where every
    future event outranks any below-horizon tombstone by construction."""
    cols = [(n, t_) for n, t_ in PAGES_COLUMNS]
    t = LakeTable.create(
        spark, str(tmp_path / "gcl"), cols, key_cols="url",
        order_col=None, num_buckets=8,
    )
    eng = CdcEngine(
        t, CheckpointStore(str(tmp_path / "gcl_cp")), EngineConfig(compact_every=2)
    )
    pdf = feed[feed.lsn < 2000]
    bounds = [(0, 500), (500, 1000), (1000, 1500), (1500, 2000)]
    batches = [pdf[(pdf.lsn >= lo) & (pdf.lsn < hi)] for lo, hi in bounds]
    eng.apply_batch(to_df(spark, batches[0]), batch_id="t0")
    eng.apply_batch(to_df(spark, batches[1]), batch_id="t1")  # cadence #1
    eng.apply_batch(to_df(spark, batches[2]), batch_id="t2")
    h = min(eng.table.snapshot.offsets.values())
    tombs_before = {
        r["url"]: r["_event_id"]
        for r in t.read(include_deleted=True, include_system=True)
        .filter("_deleted").collect()
    }
    assert any(v < h for v in tombs_before.values()), "no purge targets: test is vacuous"
    eng.apply_batch(to_df(spark, batches[3]), batch_id="t3")  # cadence #2 purges
    tombs_after = {
        r["url"]: r["_event_id"]
        for r in t.read(include_deleted=True, include_system=True)
        .filter("_deleted").collect()
    }
    assert all(v >= h for v in tombs_after.values())
    assert len(tombs_after) < len(tombs_before)
    # replay: neither a committed id nor redelivered rows resurrect a purge
    assert eng.apply_batch(to_df(spark, batches[0]), batch_id="t0")["skipped"]
    m = eng.apply_batch(to_df(spark, batches[0]), batch_id="t0-redelivered")
    assert m["rows_written"] == 0
    # lsn-ordered oracle: winner per url by lsn alone
    best: dict = {}
    for r in pdf.itertuples(index=False):
        if r.url not in best or r.lsn > best[r.url].lsn:
            best[r.url] = r
    want = {
        u: (extract_text_bytes(r.html), sanitize_lang(r.lang))
        for u, r in best.items()
        if r.op != "D"
    }
    assert table_state(t) == want


@pytest.mark.xfail(
    strict=True,
    reason="known defect: the tombstone-GC horizon assumes a fixed feed "
    "partition set; a partition that never committed can deliver below it",
)
def test_tombstone_gc_late_partition_resurrects_key(spark, tmp_path):
    """On an LSN-ordered table the compaction cadence purges tombstones
    below min(checkpointed offsets). That horizon only covers partitions
    that have committed: here partition 0 deletes ``a`` at lsn 20, the
    second cadence purges the tombstone at horizon 40, and then partition
    1 — never committed before — delivers an older update ``a@15``. With
    the tombstone kept, LWW by LSN keeps ``a`` deleted (20 > 15); purged,
    the stale update resurrects it."""
    t = LakeTable.create(
        spark, str(tmp_path / "late"), [("k", "string"), ("v", "string")],
        key_cols="k", order_col=None, num_buckets=1,
    )
    eng = CdcEngine(
        t, CheckpointStore(str(tmp_path / "late_cp")), EngineConfig(compact_every=2)
    )

    def events(rows):
        return spark.createDataFrame(
            rows, "lsn long, op string, k string, v string, partition_id int"
        )

    feed = [
        (10, "I", "a", "A1", 0),
        (20, "D", "a", None, 0),  # cadence 1: horizon 20 keeps the tombstone
        (30, "I", "b", "B1", 0),
        (40, "I", "c", "C1", 0),  # cadence 2: horizon 40 purges it
        (50, "I", "d", "D1", 0),
    ]
    for row in feed:
        eng.apply_batch(events([row]), batch_id=f"p0-{row[0]}")
    tombs = t.read(include_deleted=True, include_system=True).filter("_deleted")
    assert tombs.count() == 0, "tombstone not purged: the scenario is vacuous"
    eng.apply_batch(events([(15, "U", "a", "STALE", 1)]), batch_id="p1-15")
    state = {r["k"]: r["v"] for r in t.read().collect()}
    assert state == {"b": "B1", "c": "C1", "d": "D1"}


def test_push_batches_without_op_and_schema_columns(spark, tmp_path):
    """A push batch may carry only ``lsn``, ``partition_id`` and payload
    columns: no ``op`` means every event is an upsert and no
    ``schema_json`` means no evolution. Both the discovery path and the
    known-offsets path must count zero deletes, apply no evolution op and
    converge to the LWW state."""
    cols = [("k", "string"), ("ts", "long"), ("v", "string")]
    rows = [
        (lsn, f"k{lsn * 7 % 5}", lsn * 3 % 11, f"v{lsn}", lsn % 2) for lsn in range(40)
    ]
    batches = [[r for r in rows if r[0] < 20], [r for r in rows if r[0] >= 20]]
    want: dict = {}
    for lsn, k, ts, v, _ in rows:
        if k not in want or (ts, lsn) > want[k][0]:
            want[k] = ((ts, lsn), v)
    want = {k: v for k, (_, v) in want.items()}

    def df(batch):
        return spark.createDataFrame(
            batch, "lsn long, k string, ts long, v string, partition_id int"
        )

    for path in ("discovery", "known_offsets"):
        t = LakeTable.create(
            spark, str(tmp_path / path), cols, key_cols="k", order_col="ts", num_buckets=2
        )
        eng = CdcEngine(t, CheckpointStore(str(tmp_path / f"{path}_cp")))
        for i, batch in enumerate(batches):
            if path == "discovery":
                m = eng.apply_batch(df(batch), batch_id=f"b{i}")
            else:
                offsets = {p: max(r[0] for r in batch if r[4] == p) for p in (0, 1)}
                m = eng.apply_batch(
                    df(batch), batch_id=f"b{i}", offsets=offsets, descriptors=[]
                )
            assert m["events_applied"] == len(batch), path
            assert m["delete_events"] == 0, path
            assert m["evolution_ops"] == [], path
        assert {r["k"]: r["v"] for r in t.read().collect()} == want, path
        assert eng.table.snapshot.offsets == {0: 38, 1: 39}, path


def test_late_pre_rename_event_keeps_renamed_column(spark, tmp_path):
    """Field 3 is renamed ``lang`` → ``language`` by batch ``b1``
    (partition 0). A late batch ``b2`` on partition 1 still carries the old
    descriptor, so by field id it reads as ``language`` → ``lang``. The
    rename must stick: the column stays ``language`` and ``b2``'s value
    lands there."""
    t = LakeTable.create(
        spark, str(tmp_path / "rn"), [("url", "string"), ("ts", "long"), ("lang", "string")],
        key_cols="url", order_col="ts", num_buckets=2,
    )
    eng = CdcEngine(t, CheckpointStore(str(tmp_path / "rn_cp")))
    old = schema_descriptor([(1, "url", "string"), (2, "ts", "long"), (3, "lang", "string")])
    new = schema_descriptor([(1, "url", "string"), (2, "ts", "long"), (3, "language", "string")])
    eng.apply_batch(
        spark.createDataFrame(
            [(1, 0, new, "u1", 1, "en")],
            "lsn long, partition_id int, schema_json string, url string, ts long, language string",
        ),
        batch_id="b1",
    )
    assert t.user_columns() == ["url", "ts", "language"]
    eng.apply_batch(
        spark.createDataFrame(
            [(1, 1, old, "u2", 2, "de")],
            "lsn long, partition_id int, schema_json string, url string, ts long, lang string",
        ),
        batch_id="b2",
    )
    assert t.user_columns() == ["url", "ts", "language"]
    assert {r["url"]: r["language"] for r in t.read().collect()} == {"u1": "en", "u2": "de"}
