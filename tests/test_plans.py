"""Physical-plan assertions: pushdown, pruning, broadcast, shuffle count.

These encode the scale contract: at 100 TB a scan that doesn't push its
filter or prune its columns is a different query. (SURVEY.md §4.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from patuha_etl_dlt_spark.plans import (
    count_exchanges,
    formatted_plan,
    has_partial_aggregation,
    has_pushed_filter,
    read_schema_columns,
    uses_broadcast_join,
)

SF = "/root/testdata/sf0.001"


def test_cursor_predicate_pushdown(spark):
    """P1: the incremental cursor filter must reach the parquet scan."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    df = ev.filter(F.col("ts") > F.lit("2024-01-15").cast("timestamp")).select("event_id")
    assert has_pushed_filter(df, "ts")


def test_column_pruning(spark):
    """P2: a two-column projection must read two columns, not six."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    df = ev.select("user_id", "ts")
    cols = read_schema_columns(df)
    assert set(cols) == {"user_id", "ts"}


def test_offset_filter_prunes_payload(spark, tmp_path):
    """The engine's offsets/counts pre-pass must not read html/text."""
    from patuha_etl_dlt_spark.cdc import CdcEngine, CheckpointStore
    from patuha_etl_dlt_spark.cdc.envelope import PAGES_COLUMNS
    from patuha_etl_dlt_spark.lake import LakeTable
    from patuha_etl_dlt_spark.sources.feedgen import FeedSpec, generate_events

    ev = generate_events(spark, FeedSpec(n_urls=20, n_events=100))
    feed_dir = str(tmp_path / "feed")
    ev.write.parquet(feed_dir)
    feed = spark.read.parquet(feed_dir)
    t = LakeTable.create(spark, str(tmp_path / "t"), PAGES_COLUMNS, "url", "warc_ts")
    eng = CdcEngine(t, CheckpointStore(str(tmp_path / "cp")))
    pruned = eng._filter_new(t.snapshot, feed).groupBy("partition_id").agg(F.max("lsn"))
    cols = set(read_schema_columns(pruned))
    assert "html" not in cols and "text" not in cols


def test_small_dim_join_broadcasts(spark):
    """Nation/region joins must be broadcast, not shuffled."""
    n = spark.read.parquet(f"{SF}/nation.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    df = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).groupBy("n_name").count()
    assert uses_broadcast_join(df)


def test_merge_plan_single_data_shuffle(spark, tmp_path):
    """The MERGE write places rows with one explicit hash repartition on
    the keys, whose partition ids ARE the buckets, so the written files
    land one per bucket (check by file layout, the observable)."""
    from patuha_etl_dlt_spark.cdc.envelope import PAGES_COLUMNS
    from patuha_etl_dlt_spark.lake import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"), PAGES_COLUMNS, "url", "warc_ts", num_buckets=8
    )
    import datetime as dt

    rows = [(i, "U", f"u{i}", dt.datetime(2026, 1, 1), b"<p>x</p>", None, "en") for i in range(500)]
    df = spark.createDataFrame(
        rows, "_event_id long, op string, url string, warc_ts timestamp, html binary, text string, lang string"
    )
    t.merge(df, batch_id="b1")
    files = t.snapshot.files
    per_bucket: dict[int, int] = {}
    for f in files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    # one file per touched bucket
    assert all(v == 1 for v in per_bucket.values()), per_bucket
    assert len(per_bucket) == 8


def test_lww_agg_is_partial_aggregated(spark):
    """The dedup aggregate must run a map-side partial max_by before the
    shuffle — the combine that makes hot keys cheap."""
    from patuha_etl_dlt_spark.cdc.dedup import lww_agg
    from patuha_etl_dlt_spark.plans import has_partial_aggregation

    ev = spark.read.parquet(f"{SF}/events.parquet")
    df = lww_agg(ev, ["user_id"], ["ts", "event_id"])
    assert has_partial_aggregation(df)
    assert "partial_max_by" in formatted_plan(df)


def test_exchange_count_bounded(spark):
    """LWW agg over a parquet scan = exactly one shuffle."""
    from patuha_etl_dlt_spark.cdc.dedup import lww_agg

    ev = spark.read.parquet(f"{SF}/events.parquet")
    assert count_exchanges(lww_agg(ev, ["user_id"], ["ts", "event_id"])) == 1


def test_rollup_partials_map_side_combined(spark, tmp_path):
    """The rollup's scan-side aggregation of the (big) event input must be
    partial-aggregated (map-side combine) with exactly one exchange — at
    scale the fold's cost is one combined shuffle of group-cardinality
    rows, not an events-wide sort."""
    from pyspark.sql import functions as F

    from patuha_etl_dlt_spark.cdc.rollup import IncrementalRollup
    from patuha_etl_dlt_spark.plans import count_exchanges, has_partial_aggregation

    ru = IncrementalRollup.create(
        spark, str(tmp_path / "ru"), [("typ", "string")],
        {"n": ("count", "eid", "long"), "mx": ("max", "v", "double")},
        num_buckets=2,
    )
    delta = spark.createDataFrame(
        [(i, "t" + str(i % 3), float(i)) for i in range(100)], "eid long, typ string, v double"
    )
    partials = ru._partials(delta)
    assert has_partial_aggregation(partials)
    assert count_exchanges(partials) == 1


def test_engine_apply_plan_one_shuffle_and_no_second_reduce(spark, tmp_path):
    """The batch preparation (offset filter → sanitize → pre-reduce →
    extraction) carries exactly ONE shuffle (the map-side-combined LWW
    groupBy); after the pre-reduce the merge must NOT re-reduce the batch
    (delta_reduced), and the literal-map offset filter must not introduce
    a broadcast exchange."""
    import datetime as dt

    from patuha_etl_dlt_spark.cdc import CdcEngine, CheckpointStore
    from patuha_etl_dlt_spark.cdc.envelope import PAGES_COLUMNS
    from patuha_etl_dlt_spark.lake import LakeTable
    from patuha_etl_dlt_spark.lake.table import LakeTable as LT
    from patuha_etl_dlt_spark.plans import count_exchanges, formatted_plan, has_partial_aggregation

    t = LakeTable.create(
        spark, str(tmp_path / "pl"), PAGES_COLUMNS, "url", "warc_ts", num_buckets=8
    )
    eng = CdcEngine(t, CheckpointStore(str(tmp_path / "pl_cp")))
    rows = [
        (i, i % 4, "U", f"u{i % 50}", dt.datetime(2026, 1, 1), b"<p>x</p>", None, "en", None)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows,
        "lsn long, partition_id int, op string, url string, warc_ts timestamp, "
        "html binary, text string, lang string, schema_json string",
    )
    eng.apply_batch(df, batch_id="seed", offsets={p: 99 for p in range(4)}, descriptors=[])

    # now offsets exist: the batch plan uses the literal-map filter
    fresh = eng._filter_new(t.snapshot, df)
    delta = eng._prepare_delta(t.snapshot, fresh)
    plan = formatted_plan(delta)
    assert count_exchanges(delta) == 1, plan  # the LWW groupBy only
    assert has_partial_aggregation(delta), plan  # map-side combine
    assert "BroadcastExchange" not in plan, plan  # literal map, not a join

    # merge skips its in-batch reduction when the engine pre-reduced
    calls = []
    orig = LT._lww_reduce
    try:
        LT._lww_reduce = lambda self, snap, d: calls.append(1) or orig(self, snap, d)
        eng.apply_batch(df, batch_id="b2", offsets={p: 300 for p in range(4)}, descriptors=[])
        assert calls == []  # mor + delta_reduced: no reduce inside merge
    finally:
        LT._lww_reduce = orig


def _record_placements(monkeypatch) -> list:
    """Record every frame ``LakeTable._place`` returns; the last one of a
    write is the frame the bucketed writer runs."""
    from patuha_etl_dlt_spark.lake.table import LakeTable

    placed = []
    orig = LakeTable._place

    def spy(self, snap, df):
        out = orig(self, snap, df)
        placed.append(out)
        return out

    monkeypatch.setattr(LakeTable, "_place", spy)
    return placed


def _pages_batch(spark, lo: int, n: int):
    import datetime as dt

    rows = [
        (i, i % 4, "U", f"u{i % 50}", dt.datetime(2026, 1, 1), b"<p>x</p>", None, "en", None)
        for i in range(lo, lo + n)
    ]
    return spark.createDataFrame(
        rows,
        "lsn long, partition_id int, op string, url string, warc_ts timestamp, "
        "html binary, text string, lang string, schema_json string",
    )


def test_push_apply_plans_two_exchanges(spark, tmp_path, monkeypatch):
    """Push path: the map-side-combined LWW pre-reduce at session width,
    then — because the extraction pandas UDF drops the partitioning —
    one placement of the winners into buckets. Exactly two exchanges."""
    from patuha_etl_dlt_spark.cdc import CdcEngine, CheckpointStore
    from patuha_etl_dlt_spark.cdc.envelope import PAGES_COLUMNS
    from patuha_etl_dlt_spark.lake import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "push"), PAGES_COLUMNS, "url", "warc_ts", num_buckets=8)
    eng = CdcEngine(t, CheckpointStore(str(tmp_path / "push_cp")))
    placed = _record_placements(monkeypatch)
    m = eng.apply_batch(
        _pages_batch(spark, 0, 200), batch_id="b0", offsets={p: 199 for p in range(4)}, descriptors=[]
    )
    plan = formatted_plan(placed[-1])
    assert count_exchanges(placed[-1]) == 2, plan
    assert has_partial_aggregation(placed[-1]), plan  # the hot-key combine stays
    assert m["files_written"] == m["buckets_touched"]


def test_pull_merge_plans_one_exchange(spark, tmp_path, monkeypatch):
    """Pull path: the merge's in-batch LWW reduce is placed on the
    bucket partitioning, so the write reuses its exchange — one in all."""
    from patuha_etl_dlt_spark.cdc.orchestrator import SyncOrchestrator
    from patuha_etl_dlt_spark.config import TableConfig

    def source(spark_, last):
        rows = [(i % 30, i, f"n{i}") for i in range(120)]
        return spark_.createDataFrame(rows, "k long, c long, n string").filter(
            F.col("c") > (-1 if last is None else last)
        )

    cfg = TableConfig(
        table="p", merge_key=("k",), cursor="c",
        columns=(("k", "long"), ("c", "long"), ("n", "string")), num_buckets=4,
    )
    orch = SyncOrchestrator(spark, str(tmp_path / "pull"), [cfg], sources={"p": source})
    placed = _record_placements(monkeypatch)
    (r,) = orch.pull_cycle("c1")
    assert r.status == "perfect", r.metrics
    assert count_exchanges(placed[-1]) == 1, formatted_plan(placed[-1])
    assert r.metrics["files_written"] == r.metrics["buckets_touched"]


def test_compaction_rewrite_plans_one_exchange(spark, tmp_path, monkeypatch):
    """A compact_deltas rewrite reduces every dirty bucket in place and
    writes it with no second exchange — also with a tombstone purge."""
    from patuha_etl_dlt_spark.lake import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "cmp"), [("k", "long"), ("v", "string")], "k", None, num_buckets=4
    )
    for b in range(3):
        rows = [(i, "D" if (i + b) % 7 == 0 else "U", f"v{b}", b * 100 + i) for i in range(40)]
        t.merge(spark.createDataFrame(rows, "k long, op string, v string, _event_id long"), batch_id=f"b{b}")
    placed = _record_placements(monkeypatch)
    for horizon in (None, 150):
        assert t.compact_deltas(purge_tombstones_below=horizon) > 0
        assert count_exchanges(placed[-1]) == 1, formatted_plan(placed[-1])
        files = t.snapshot.files
        assert len(files) == len({f.bucket for f in files})
        # dirty one bucket again for the purge pass
        t.merge(
            spark.createDataFrame([(1, "U", "x", 1000)], "k long, op string, v string, _event_id long"),
            batch_id=f"again{horizon}",
        )
