"""Lake-table format: commits, merge semantics, evolution, idempotence.

These cover the sink contract the CDC engine relies on (reference analogs
cited in patuha_etl_dlt_spark/lake/*; the reference ships no tests —
SURVEY.md §5 — so this suite implements its TRD's intended scenarios)."""

from __future__ import annotations

import datetime as dt
import glob
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from patuha_etl_dlt_spark.lake import LakeTable

PAGES = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
]


def ts(i: int) -> dt.datetime:
    return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=i)


def ev(spark, rows):
    """rows: (lsn, op, url, ts_i, text)"""
    return spark.createDataFrame(
        [(l, o, u, ts(t), f"<html>{x}</html>".encode(), x, "en") for (l, o, u, t, x) in rows],
        "_event_id long, op string, url string, warc_ts timestamp, html binary, text string, lang string",
    )


def state(t: LakeTable) -> dict[str, str]:
    return {r["url"]: r["text"] for r in t.read().collect()}


@pytest.fixture
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "pages"), PAGES, key_cols="url", order_col="warc_ts", num_buckets=4
    )


def test_create_and_empty_read(table):
    assert table.read().count() == 0
    assert table.user_columns() == ["url", "warc_ts", "html", "text", "lang"]


def test_merge_insert_update_delete(spark, table):
    m = table.merge(
        ev(spark, [(1, "I", "a", 1, "A1"), (2, "I", "b", 1, "B1"), (3, "U", "a", 2, "A2")]),
        batch_id="b1",
    )
    assert m["rows_written"] == 2 and m["buckets_touched"] >= 1
    assert state(table) == {"a": "A2", "b": "B1"}

    table.merge(ev(spark, [(4, "D", "a", 3, "X"), (5, "U", "b", 3, "B2")]), batch_id="b2")
    assert state(table) == {"b": "B2"}
    # tombstone retained internally
    assert table.read(include_deleted=True, include_system=True).count() == 2


def test_lww_out_of_order_within_batch(spark, table):
    # late event (smaller warc_ts) loses even if higher lsn arrives later
    table.merge(ev(spark, [(10, "U", "a", 5, "NEW"), (11, "U", "a", 2, "OLD")]), batch_id="b1")
    assert state(table) == {"a": "NEW"}


def test_lww_out_of_order_across_batches(spark, table):
    table.merge(ev(spark, [(10, "U", "a", 5, "NEW")]), batch_id="b1")
    table.merge(ev(spark, [(11, "U", "a", 2, "OLD")]), batch_id="b2")
    assert state(table) == {"a": "NEW"}


def test_delete_tombstone_blocks_older_resurrect(spark, table):
    table.merge(ev(spark, [(1, "I", "a", 1, "A1")]), batch_id="b1")
    table.merge(ev(spark, [(3, "D", "a", 5, "X")]), batch_id="b2")
    # an older update arriving after the delete must NOT resurrect the row
    table.merge(ev(spark, [(2, "U", "a", 3, "A2")]), batch_id="b3")
    assert state(table) == {}


def test_exactly_once_reapply_is_noop(spark, table):
    d = ev(spark, [(1, "I", "a", 1, "A1")])
    table.merge(d, batch_id="b1")
    v = table.snapshot.version
    m = table.merge(ev(spark, [(2, "U", "a", 9, "CHANGED")]), batch_id="b1")
    assert m["skipped"] is True
    assert table.snapshot.version == v
    assert state(table) == {"a": "A1"}


def test_merge_commutes(spark, tmp_path):
    b1 = [(1, "I", "a", 1, "A1"), (4, "U", "b", 2, "B2")]
    b2 = [(2, "U", "a", 3, "A2"), (3, "I", "b", 1, "B1"), (5, "D", "c", 1, "X")]
    finals = []
    for order in ([("x1", b1), ("x2", b2)], [("x2", b2), ("x1", b1)]):
        t = LakeTable.create(
            spark, str(tmp_path / f"t{len(finals)}"), PAGES, "url", "warc_ts", num_buckets=2
        )
        for bid, rows in order:
            t.merge(ev(spark, rows), batch_id=bid)
        finals.append(state(t))
    assert finals[0] == finals[1] == {"a": "A2", "b": "B2"}


def test_bucket_pruning(spark, table):
    table.merge(ev(spark, [(i, "I", f"u{i}", 1, f"T{i}") for i in range(40)]), batch_id="seed")
    assert table.compact_deltas() == table.snapshot.num_buckets
    m = table.merge(ev(spark, [(100, "U", "u3", 9, "NEW")]), batch_id="b2")
    assert m["buckets_touched"] == 1
    # only the touched bucket carries an overlay, so only it is rewritten
    assert table.compact_deltas() == 1
    assert state(table)["u3"] == "NEW"
    assert len(state(table)) == 40


def test_overwrite_full_refresh(spark, table):
    table.merge(ev(spark, [(1, "I", "a", 1, "A1"), (2, "I", "b", 1, "B1")]), batch_id="b1")
    snap_df = ev(spark, [(3, "I", "c", 2, "C1")]).drop("op")
    table.overwrite(snap_df, batch_id="fr1")
    assert state(table) == {"c": "C1"}


def test_schema_evolution_add_rename_widen(spark, table):
    table.merge(ev(spark, [(1, "I", "a", 1, "A1")]), batch_id="b1")
    table.add_column("content_type", "string")
    table.add_column("fetch_ms", "int")
    d = ev(spark, [(2, "I", "b", 2, "B1")]).withColumn(
        "content_type", F.lit("text/html")
    ).withColumn("fetch_ms", F.lit(42))
    table.merge(d, batch_id="b2")
    rows = {r["url"]: r for r in table.read().collect()}
    assert rows["a"]["content_type"] is None  # old files: null-filled
    assert rows["b"]["content_type"] == "text/html"

    table.rename_column("lang", "language")
    assert "language" in table.user_columns() and "lang" not in table.user_columns()
    assert {r["url"]: r["language"] for r in table.read().collect()} == {"a": "en", "b": "en"}

    table.widen_column("fetch_ms", "long")
    rows = {r["url"]: r for r in table.read().collect()}
    assert rows["b"]["fetch_ms"] == 42
    assert dict(table.read().dtypes)["fetch_ms"] == "bigint"


def test_rename_key_column(spark, table):
    table.merge(ev(spark, [(1, "I", "a", 1, "A1")]), batch_id="b1")
    table.rename_column("url", "page_url")
    assert table.snapshot.key_cols == ["page_url"]
    d = ev(spark, [(2, "U", "a", 5, "A2")]).withColumnRenamed("url", "page_url")
    table.merge(d, batch_id="b2")
    assert {r["page_url"]: r["text"] for r in table.read().collect()} == {"a": "A2"}


def test_time_travel_and_expire(spark, table):
    # merges append overlays; compacting REPLACES the bucket's files with
    # one base file, so expiring the old snapshots can reclaim them
    table.merge(ev(spark, [(1, "I", "a", 1, "A1")]), batch_id="b1")
    s1 = table.snapshot
    table.merge(ev(spark, [(2, "U", "a", 2, "A2")]), batch_id="b2")
    assert table.compact_deltas() == 1
    assert {r["text"] for r in table.read(snap=s1).collect()} == {"A1"}
    n = table.expire_snapshots(keep_last=1)
    assert n >= 1
    assert state(table) == {"a": "A2"}


def test_composite_key(spark, tmp_path):
    cols = [("src_url", "string"), ("dst_url", "string"), ("warc_ts", "timestamp"), ("w", "long")]
    t = LakeTable.create(
        spark, str(tmp_path / "links"), cols, ["src_url", "dst_url"], "warc_ts", num_buckets=2
    )
    df = spark.createDataFrame(
        [
            (1, "I", "a", "b", ts(1), 10),
            (2, "I", "a", "c", ts(1), 20),
            (3, "U", "a", "b", ts(2), 30),
        ],
        "_event_id long, op string, src_url string, dst_url string, warc_ts timestamp, w long",
    )
    t.merge(df, batch_id="b1")
    got = {(r["src_url"], r["dst_url"]): r["w"] for r in t.read().collect()}
    assert got == {("a", "b"): 30, ("a", "c"): 20}


def test_null_keys_dropped(spark, table):
    df = ev(spark, [(1, "I", "a", 1, "A1")]).unionByName(
        ev(spark, [(2, "I", "a", 1, "ghost")]).withColumn("url", F.lit(None).cast("string"))
    )
    table.merge(df, batch_id="b1")
    assert state(table) == {"a": "A1"}


def test_compact_files_and_tombstones(spark, table):
    table.merge(ev(spark, [(1, "I", "a", 1, "A1"), (2, "I", "b", 1, "B1")]), batch_id="b1")
    table.merge(ev(spark, [(3, "D", "a", 5, "X")]), batch_id="b2")
    # stack overlay files on the buckets, then fold them
    table.merge(ev(spark, [(4, "I", "c", 6, "C1")]), batch_id="b3")
    n0 = len(table.snapshot.files)
    assert table.compact_deltas() > 0
    files = table.snapshot.files
    assert len(files) <= n0
    assert all(f.kind == "base" for f in files)
    assert len(files) == len({f.bucket for f in files})  # one file per bucket
    assert state(table) == {"b": "B1", "c": "C1"}
    # tombstone for 'a' purged once all partitions passed lsn 3
    assert table.read(include_deleted=True, include_system=True).count() == 3
    table.compact_tombstones(older_than_event_id=4)
    assert table.read(include_deleted=True, include_system=True).count() == 2
    assert state(table) == {"b": "B1", "c": "C1"}


def test_mor_cow_mixture_equivalent(spark, tmp_path):
    """Overlays only, compaction after every merge (the read-optimized,
    copy-on-write layout) and compaction after one merge all produce the
    same readable state (LWW reduction is associative/commutative)."""
    batches = [
        [(1, "I", "a", 1, "A1"), (2, "I", "b", 1, "B1")],
        [(3, "U", "a", 5, "A2"), (4, "D", "b", 5, "X")],
        [(5, "U", "a", 2, "OLD"), (6, "I", "c", 1, "C1")],
    ]
    states = []
    for name, compact_after in (("none", ()), ("every", (0, 1, 2)), ("second", (1,))):
        t = LakeTable.create(spark, str(tmp_path / f"t_{name}"), PAGES, "url", "warc_ts", num_buckets=2)
        for i, rows in enumerate(batches):
            t.merge(ev(spark, rows), batch_id=f"b{i}")
            if i in compact_after:
                assert t.compact_deltas() > 0
        if compact_after == (0, 1, 2):
            assert all(f.kind == "base" for f in t.snapshot.files)
        states.append(state(t))
    assert states[0] == states[1] == states[2] == {"a": "A2", "c": "C1"}


def test_compact_deltas_preserves_state(spark, table):
    for i, rows in enumerate([[(1, "I", "a", 1, "A1")], [(2, "U", "a", 5, "A2")], [(3, "D", "a", 7, "X")], [(4, "I", "b", 1, "B1")]]):
        table.merge(ev(spark, rows), batch_id=f"b{i}")
    assert any(f.kind == "delta" for f in table.snapshot.files)
    before = state(table)
    n = table.compact_deltas()
    assert n >= 1
    assert all(f.kind == "base" for f in table.snapshot.files)
    assert state(table) == before == {"b": "B1"}
    # post-compaction merges still work and tombstone semantics survive
    table.merge(ev(spark, [(2, "U", "a", 3, "GHOST")]), batch_id="late")
    assert state(table) == {"b": "B1"}


def test_long_order_column(spark, tmp_path):
    """Non-timestamp order columns must work end-to-end (the NULL-order
    fallback is picked from the column's declared lake type)."""
    t = LakeTable.create(
        spark, str(tmp_path / "seq_t"),
        [("k", "long"), ("seq", "long"), ("v", "string")],
        key_cols="k", order_col="seq", num_buckets=4,
    )
    d = spark.createDataFrame(
        [(1, 10, "old"), (1, 20, "new"), (2, None, "null-seq")],
        "k long, seq long, v string",
    )
    t.merge(d, batch_id="b1")
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "new", 2: "null-seq"}
    # a later batch with a real seq beats the NULL-seq row
    t.merge(spark.createDataFrame([(2, 5, "real")], "k long, seq long, v string"), batch_id="b2")
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "new", 2: "real"}


def test_unsupported_order_type_fails_fast(spark, tmp_path):
    with pytest.raises(ValueError, match="order-column type"):
        LakeTable.create(
            spark, str(tmp_path / "bad_t"),
            [("k", "long"), ("b", "binary"), ("v", "string")],
            key_cols="k", order_col="b", num_buckets=2,
        )


def test_orderless_table_lww_by_event_id(spark, tmp_path):
    """order_col=None (the reference's modifier-less full-refresh shape):
    LWW falls back to the _event_id lineage column."""
    t = LakeTable.create(
        spark, str(tmp_path / "nomod"),
        [("k", "long"), ("v", "string")],
        key_cols="k", order_col=None, num_buckets=4,
    )
    d = spark.createDataFrame(
        [(2, 1, "first"), (1, 1, "second")], "_event_id long, k long, v string"
    )
    t.merge(d, batch_id="b1")
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "first"}
    t.merge(
        spark.createDataFrame([(3, 1, "third")], "_event_id long, k long, v string"),
        batch_id="b2",
    )
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "third"}


def test_batch_retention_bounds_manifest(spark, tmp_path):
    """With batch_retention=K the snapshot manifest stays O(live files + K)
    after 500 commits (Delta txn-retention pattern), and exactly-once
    still holds for every batch inside the K-batch horizon. The offsets
    fold by per-partition max and ``n_batches`` keeps counting every
    commit past the retained ids."""
    import os

    t = LakeTable.create(
        spark, str(tmp_path / "ret"),
        [("k", "long"), ("v", "string"), ("seq", "long")],
        key_cols="k", order_col="seq", num_buckets=2, batch_retention=50,
    )
    # one real merge (files on disk), then 499 metadata-only commits — the
    # growth under test is the manifest document, not the data path
    t.merge(
        spark.createDataFrame([(1, "a", 1)], "k long, v string, seq long"),
        batch_id="b0",
    )
    sizes = []
    for i in range(1, 500):
        snap = t.snapshot
        t._commit(snap, snap.files, f"b{i}", {"operation": "merge"}, lambda: ({0: i}, None))
        if i in (100, 499):
            sizes.append(os.path.getsize(t.meta_dir + f"/snap-{t.snapshot.version:08d}.json"))
    snap = t.snapshot
    assert len(snap.batch_ids) == 50
    assert snap.batch_ids[-1] == "b499" and "b0" not in snap.batch_ids
    assert snap.n_batches == 500 and snap.offsets == {0: 499}
    # manifest size is flat between commit 100 and commit 499
    assert abs(sizes[1] - sizes[0]) < 64, sizes
    # exactly-once inside the horizon
    assert t.has_batch("b499") and t.has_batch("b450")
    m = t.merge(
        spark.createDataFrame([(9, "dup", 9)], "k long, v string, seq long"),
        batch_id="b499",
    )
    assert m["skipped"] is True
    # retention and the transaction state survive schema evolution commits
    t.add_column("extra", "string")
    assert t.snapshot.batch_retention == 50 and len(t.snapshot.batch_ids) == 50
    assert (t.snapshot.offsets, t.snapshot.n_batches) == ({0: 499}, 500)
    # a lower offset never moves a partition back
    snap = t.snapshot
    t._commit(snap, snap.files, "late", {"operation": "merge"}, lambda: ({0: 3, 1: 5}, None))
    assert t.snapshot.offsets == {0: 499, 1: 5}


def test_point_lookup_prunes_buckets(spark, tmp_path, monkeypatch):
    """lookup(keys) opens only the files of the buckets the keys hash
    into (checked by recording every file the driver reader opens) and
    returns exactly the live rows for those keys."""
    t = LakeTable.create(
        spark, str(tmp_path / "pl"),
        [("k", "string"), ("v", "string"), ("seq", "long")],
        key_cols="k", order_col="seq", num_buckets=8,
    )
    rows = [(f"url-{i}", f"v{i}", i) for i in range(400)]
    t.merge(spark.createDataFrame(rows, "k string, v string, seq long"), batch_id="b")
    assert len({f.bucket for f in t.snapshot.files}) == 8

    opened = []
    read_matches = LakeTable._read_matches

    def spy(self, snap, f, value_sets):
        opened.append(f)
        return read_matches(self, snap, f, value_sets)

    monkeypatch.setattr(LakeTable, "_read_matches", spy)
    df = t.lookup(["url-7", "url-123", "url-nope"])
    got = {r["k"]: r["v"] for r in df.collect()}
    assert got == {"url-7": "v7", "url-123": "v123"}

    # file-level pruning: the reader must open at most 2 of the 8 buckets
    touched = {f.bucket for f in opened}
    assert 1 <= len(touched) <= 2 < 8, touched
    assert len(opened) == len(touched)


def test_delta_reduced_merge_matches_plain(spark, tmp_path):
    """delta_reduced=True on a pre-reduced batch (one winner per key) is
    exactly equivalent — winner choice, tombstones, null-key filter."""
    from patuha_etl_dlt_spark.cdc.dedup import lww_agg

    rows = [
        (1, "I", "a", 1, "A1"), (2, "U", "a", 3, "A3"), (3, "U", "a", 2, "A2"),
        (4, "I", "b", 1, "B1"), (5, "D", "b", 2, ""), (6, "I", None, 1, "X"),
        (7, "I", "c", 1, "C1"),
    ]
    t1 = LakeTable.create(
        spark, str(tmp_path / "r1"), PAGES, key_cols="url", order_col="warc_ts", num_buckets=4
    )
    t2 = LakeTable.create(
        spark, str(tmp_path / "r2"), PAGES, key_cols="url", order_col="warc_ts", num_buckets=4
    )
    delta = ev(spark, rows)
    t1.merge(delta, batch_id="b0")
    reduced = lww_agg(delta.filter(F.col("url").isNotNull()), ["url"], ["warc_ts", "_event_id"])
    m = t2.merge(reduced, batch_id="b0", delta_reduced=True)
    assert m["skipped"] is False
    assert state(t1) == state(t2) == {"a": "A3", "c": "C1"}
    # tombstone for 'b' is present in both (blocks resurrection)
    assert t1.read(include_deleted=True, include_system=True).filter("_deleted").count() == 1
    assert t2.read(include_deleted=True, include_system=True).filter("_deleted").count() == 1


def _files_per_bucket(files) -> dict[int, int]:
    per_bucket: dict[int, int] = {}
    for f in files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    return per_bucket


def test_range_fed_merge_writes_one_file_per_bucket(spark, tmp_path):
    """A delta fed from ``spark.range`` is already clustered on its key,
    so Spark plans its LWW aggregate with no exchange of its own. Bucket
    placement must still be explicit: every touched bucket gets exactly
    one file, not one per input split."""
    t = LakeTable.create(
        spark, str(tmp_path / "rg"), [("k", "long"), ("v", "string")],
        key_cols="k", order_col=None, num_buckets=4,
    )
    delta = spark.range(0, 400, 1, 4).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
        F.col("id").alias("_event_id"),
    )
    m = t.merge(delta, batch_id="b0")
    per_bucket = _files_per_bucket(t.snapshot.files)
    assert per_bucket == {b: 1 for b in range(4)}, per_bucket
    assert m["files_written"] == m["buckets_touched"] == 4
    assert t.read().count() == 400


def _text(i: int) -> str:
    """Strings of every UTF-8 byte-length tail (0-3 bytes past a 4-byte
    word), with 1- to 4-byte code points."""
    return "aé日😀"[i % 4] * (i % 5) + f"-{i}"


def _steps(step: float, start: float) -> list[float]:
    return [j * step + start for j in range(1996)]


def _numbered(keys: list) -> list[tuple]:
    return [(k, i) for i, k in enumerate(keys)]


KEY_CASES = [
    ([("k", "string"), ("v", "long")], ["k"], [(f"key-{i}", i) for i in range(2000)]),
    ([("k", "int"), ("v", "long")], ["k"], [(i * 7919 - 5000, i) for i in range(2000)]),
    ([("k", "long"), ("v", "long")], ["k"], [(i * (1 << 33) + i, i) for i in range(2000)]),
    (
        [("k", "date"), ("v", "long")],
        ["k"],
        [(dt.date(2000, 1, 1) + dt.timedelta(days=i), i) for i in range(2000)],
    ),
    (
        [("a", "string"), ("b", "int"), ("v", "long")],
        ["a", "b"],
        [(f"s{i % 37}", i % 53, i) for i in range(2000)],
    ),
    (
        [("k", "string"), ("v", "long")],
        ["k"],
        [("", 0)] + [(_text(i), i) for i in range(1, 2000)],
    ),
    (
        [("k", "binary"), ("v", "long")],
        ["k"],
        [
            (bytes((i * 37 + j) % 256 for j in range(i % 9)) + i.to_bytes(2, "big"), i)
            for i in range(2000)
        ],
    ),
    ([("k", "long"), ("v", "long")], ["k"], [(-(i * (1 << 33)) - i, i) for i in range(2000)]),
    (
        [("k", "timestamp"), ("v", "long")],
        ["k"],
        [
            (dt.datetime(1969, 12, 31, 23) + dt.timedelta(seconds=i * 977, microseconds=i), i)
            for i in range(2000)
        ],
    ),
    (
        [("k", "float"), ("v", "long")],
        ["k"],
        _numbered([-0.0, 0.0, float("nan"), float("inf")] + _steps(0.37, -300)),
    ),
    (
        [("k", "double"), ("v", "long")],
        ["k"],
        _numbered([-0.0, 0.0, float("nan"), float("-inf")] + _steps(1e-3, -1.5)),
    ),
    (
        [("k", "decimal(10,2)"), ("v", "long")],
        ["k"],
        [(Decimal(i * 7919 - 5_000_000).scaleb(-2), i) for i in range(2000)],
    ),
    (
        [("k", "decimal(38,6)"), ("v", "long")],
        ["k"],
        [(Decimal((i - 1000) * 10**29 + i).scaleb(-6), i) for i in range(2000)],
    ),
    (
        [("a", "boolean"), ("b", "string"), ("c", "int"), ("v", "long")],
        ["a", "b", "c"],
        [
            (
                None if i % 5 == 0 else i % 2 == 0,
                None if i % 7 == 0 else f"s{i % 37}",
                None if i % 3 == 0 else i,
                i,
            )
            for i in range(2000)
        ],
    ),
]
KEY_CASE_IDS = [
    "string", "int", "long", "date", "composite", "string_utf8", "binary", "long_negative",
    "timestamp", "float", "double", "decimal_long", "decimal_wide", "composite_nulls",
]


@pytest.mark.parametrize("columns,keys,rows", KEY_CASES, ids=KEY_CASE_IDS)
def test_partition_id_equals_bucket_expr(spark, tmp_path, columns, keys, rows):
    """The write path's premise: after bucket placement, a row's Spark
    partition id IS its bucket (hash partitioning uses the same Murmur3
    hash, seed 42, as ``_bucket_expr``). The driver-side hash lookups use
    equals ``F.hash`` on every row, NULL key components included."""
    from patuha_etl_dlt_spark.lake import murmur3
    from patuha_etl_dlt_spark.lake.table import _key_value

    t = LakeTable.create(
        spark, str(tmp_path / "pid"), columns, key_cols=keys, order_col=None, num_buckets=7
    )
    snap = t.snapshot
    df = spark.createDataFrame(rows, ", ".join(f"{n} {typ}" for n, typ in columns))
    placed = t._place(snap, df).select(
        F.spark_partition_id().alias("p"), t._bucket_expr(snap).alias("b")
    )
    assert placed.filter(F.col("p") != F.col("b")).count() == 0
    assert placed.select("b").distinct().count() == 7

    types = [dict(columns)[k] for k in keys]
    hashed = df.select(*keys, F.hash(*keys), t._bucket_expr(snap)).collect()
    assert len(hashed) == len(rows)
    for r in hashed:
        h = murmur3.spark_hash([_key_value(typ, v) for typ, v in zip(types, r)], types)
        assert (h, h % 7) == tuple(r[-2:]), r


@pytest.mark.parametrize("columns,keys,rows", KEY_CASES, ids=KEY_CASE_IDS)
def test_lookup_matches_semi_join_for_every_key_type(spark, tmp_path, columns, keys, rows):
    """For every key type, ``lookup`` returns what a Spark semi-join of
    ``read()`` with the looked-up keys returns: same bucket, same key
    equality (NaN equals NaN, -0.0 equals 0.0, decimals at scale)."""
    t = LakeTable.create(
        spark, str(tmp_path / "lk"), columns, key_cols=keys, order_col=None, num_buckets=7
    )
    ddl = ", ".join(f"{n} {typ}" for n, typ in columns)
    t.merge(spark.createDataFrame(rows, ddl), batch_id="b0")
    probe = [tuple(r[: len(keys)]) for r in rows[:40:3] + rows[-4:]] + [tuple(rows[0][: len(keys)])]
    kdf = spark.createDataFrame(probe, ", ".join(f"{k} {dict(columns)[k]}" for k in keys))
    want = t.read().join(kdf, keys, "semi").collect()
    got = t.lookup(probe if len(keys) > 1 else [p[0] for p in probe]).collect()
    assert sorted(map(repr, got)) == sorted(map(repr, want))
    assert len(got) > 1


def test_write_rejects_more_than_one_file_per_bucket(spark, tmp_path, monkeypatch):
    """The layout is checked before the commit, for every write kind: a
    write that fragments a bucket — a merge, an overwrite, a bucket
    replacement or a compaction — or a bucket replacement with a row
    outside its buckets, raises, commits nothing and leaves no data dir."""
    t = LakeTable.create(
        spark, str(tmp_path / "inv"), PAGES, key_cols="url", order_col="warc_ts", num_buckets=2
    )
    df = ev(spark, [(i, "I", f"u{i}", 1, f"X{i}") for i in range(40)])
    t.merge(df, batch_id="seed")  # overlays for the compaction to fold
    data_dirs = os.path.join(t.root, "data", "*")

    def rejected(write, error, match):
        v, dirs = t.snapshot.version, sorted(glob.glob(data_dirs))
        with pytest.raises(error, match=match):
            write()
        assert t.snapshot.version == v
        assert sorted(glob.glob(data_dirs)) == dirs

    # a bucket replacement whose rows hash into both buckets, of which it
    # replaces one
    rejected(lambda: t.replace_buckets(df, [0], batch_id="r0"), ValueError, "outside")
    # without placement every input split writes into every bucket
    monkeypatch.setattr(LakeTable, "_place", lambda self, snap, df: df.repartition(4))
    for write in (
        lambda: t.merge(df, batch_id="b0", delta_reduced=True),
        lambda: t.overwrite(df, batch_id="o0"),
        lambda: t.replace_buckets(df, [0, 1], batch_id="r1"),
        lambda: t.compact_deltas(),
    ):
        rejected(write, RuntimeError, "bucket layout violated")
    assert not any(t.has_batch(b) for b in ("r0", "b0", "o0", "r1"))


def test_empty_writes_keep_their_observed_metrics(spark, tmp_path):
    """Metrics observed around a bucketed write survive an empty input
    (adaptive execution replaces an empty shuffle stage, and with it any
    observation made upstream of the shuffle)."""
    from pyspark.sql import Observation

    t = LakeTable.create(
        spark, str(tmp_path / "em"), PAGES, key_cols="url", order_col="warc_ts", num_buckets=4
    )
    empty = ev(spark, [(1, "I", "a", 1, "A1")]).filter("_event_id > 1")
    assert t.overwrite(empty, batch_id="o0")["rows_written"] == 0
    for i, reduced in enumerate((False, True)):
        obs = Observation()
        m = t.merge(
            empty, batch_id=f"b{i}", delta_reduced=reduced,
            observe=(obs, F.count(F.lit(1)).alias("n"), F.max("warc_ts").alias("mx")),
        )
        assert (m["rows_written"], m["files_written"], m["buckets_touched"]) == (0, 0, 0)
        assert obs.get == {"n": 0, "mx": None}
    assert t.read().count() == 0
