"""Property-based check of the engine's load-bearing invariant:

    MERGE is commutative and idempotent over batches, so ANY batch
    partitioning, ANY apply order, and ANY duplicate delivery converge
    to the same final state == the global LWW winner per key.

Hypothesis generates random event sets, random batch splits, and random
orders; the oracle is a 10-line Python LWW fold. (The reference has no
analog — its correctness depends on MySQL upsert arrival order.)"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from patuha_etl_dlt_spark.lake import LakeTable

COLS = [("k", "string"), ("ts", "timestamp"), ("v", "string")]


def event_lists():
    ev = st.tuples(
        st.sampled_from(["a", "b", "c", "d"]),  # key
        st.integers(min_value=0, max_value=8),  # ts offset
        st.sampled_from(["I", "U", "U", "D"]),  # op (weighted)
    )
    return st.lists(ev, min_size=1, max_size=14)


def py_oracle(events):
    best = {}
    for lsn, (k, t, op) in enumerate(events):
        if k not in best or (t, lsn) > best[k][0]:
            best[k] = ((t, lsn), op, f"v{lsn}")
    return {k: v for k, (_, op, v) in best.items() if op != "D"}


def to_df(spark, events, idx):
    rows = [
        (lsn, op, k, dt.datetime(2026, 1, 1) + dt.timedelta(seconds=t), f"v{lsn}")
        for lsn, (k, t, op) in [(i, events[i]) for i in idx]
    ]
    return spark.createDataFrame(rows, "_event_id long, op string, k string, ts timestamp, v string")


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(events=event_lists(), data=st.data())
def test_any_batching_and_order_converges(spark, tmp_path_factory, events, data):
    n = len(events)
    # random partition of event indices into 1-3 batches
    labels = data.draw(st.lists(st.integers(0, 2), min_size=n, max_size=n))
    batches = [[i for i in range(n) if labels[i] == b] for b in range(3)]
    batches = [b for b in batches if b]
    order = data.draw(st.permutations(range(len(batches))))
    # duplicate one batch (at-least-once delivery)
    dup = data.draw(st.integers(0, len(batches) - 1))

    root = tmp_path_factory.mktemp("prop")
    t = LakeTable.create(spark, str(root / "t"), COLS, "k", "ts", num_buckets=2)
    for j in order:
        t.merge(to_df(spark, events, batches[j]), batch_id=f"b{j}")
    t.merge(to_df(spark, events, batches[dup]), batch_id=f"b{dup}")  # no-op
    t.merge(to_df(spark, events, batches[dup]), batch_id="redelivered")

    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == py_oracle(events)


# ---------------------------------------------------------------------------
# Snapshot-diff property: for ANY pair of key-unique snapshots, applying
# diff_snapshots(new, old) to a lake holding `old` yields EXACTLY `new`
# (deletes propagate, unchanged keys emit nothing), and a second diff
# after convergence is empty.
# ---------------------------------------------------------------------------

def snapshots():
    row = st.tuples(
        st.sampled_from(["a", "b", "c", "d", "e"]),  # key
        st.one_of(st.none(), st.integers(0, 3)),     # nullable payload
    )
    return st.lists(row, max_size=6, unique_by=lambda r: r[0])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(old=snapshots(), new=snapshots())
def test_snapshot_diff_converges_to_new(spark, tmp_path_factory, old, new):
    from pyspark.sql import functions as F

    from patuha_etl_dlt_spark.cdc.snapshot_diff import diff_snapshots

    def df(rows):
        return spark.createDataFrame(rows, "k string, v int") if rows else (
            spark.createDataFrame([], "k string, v int")
        )

    t = LakeTable.create(
        spark,
        str(tmp_path_factory.mktemp("sd") / "t"),
        [("k", "string"), ("v", "int")],
        key_cols="k",
        order_col=None,  # LWW by _event_id (fold sequence), like snapshot_diff mode
        num_buckets=4,
    )
    if old:
        t.merge(df(old).withColumn("_event_id", F.lit(1).cast("long")), batch_id="seed")
    delta = diff_snapshots(df(new), t.read(), "k").withColumn(
        "_event_id", F.lit(2).cast("long")
    )
    n_changes = delta.count()
    t.merge(delta, batch_id="diff")
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == dict(new)
    # emitted exactly the changed keys, nothing more
    om, nm = dict(old), dict(new)
    expected = {k for k in om.keys() | nm.keys() if (k in om) != (k in nm) or om.get(k) != nm.get(k)}
    assert n_changes == len(expected)
    # convergence: a second diff is empty
    assert diff_snapshots(df(new), t.read(), "k").count() == 0


# ---------------------------------------------------------------------------
# Point-lookup property: for ANY history of merges (overlays at several
# depths, with or without compaction, tombstones, NULL order values) and
# schema evolution (add, rename of payload or key column, widen),
# lookup(keys) returns exactly read() filtered to the keys: same rows,
# same values, same Spark schema, for missing and duplicated keys and
# with or without the system columns.
# ---------------------------------------------------------------------------

EVOLUTIONS = ("none", "add", "rename_payload", "rename_key", "widen")


def lookup_histories():
    ev = st.tuples(
        st.integers(0, 3),  # key
        st.integers(0, 1),  # second key component (composite tables)
        st.one_of(st.none(), st.integers(0, 2)),  # ts offset; None = NULL order value
        st.sampled_from(["I", "U", "U", "D"]),  # op (weighted)
    )
    step = st.tuples(
        st.lists(ev, min_size=1, max_size=8),  # one merge
        st.booleans(),  # compact_deltas after it
        st.sampled_from(EVOLUTIONS),  # evolution after it
    )
    return st.lists(step, min_size=2, max_size=4)


# every stored key (u0-u3) and one never stored (u4) is looked up in every
# example; the drawn extras repeat some of them
ALL_KEYS = [(k, j) for k in range(5) for j in range(2)]


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    composite=st.booleans(),
    history=lookup_histories(),
    extra=st.lists(st.sampled_from(ALL_KEYS), max_size=4),
    include_system=st.booleans(),
)
def test_lookup_equals_filtered_read(
    spark, tmp_path_factory, composite, history, extra, include_system
):
    from collections import Counter

    names = {"k": "k", "j": "j", "v": "v", "n": "n"}
    cols = [("k", "string"), ("j", "int"), ("ts", "timestamp"), ("v", "string"), ("n", "int")]
    keys = ["k", "j"] if composite else ["k"]
    t = LakeTable.create(
        spark, str(tmp_path_factory.mktemp("lk") / "t"), cols, keys, "ts", num_buckets=4
    )
    lsn = 0
    for i, (events, compact, evolution) in enumerate(history):
        rows = []
        for k, j, tsi, op in events:
            ts = None if tsi is None else dt.datetime(2026, 1, 1) + dt.timedelta(seconds=tsi)
            rows.append((lsn, op, f"u{k}", j, ts, f"v{lsn}", lsn))
            lsn += 1
        ddl = (
            f"_event_id long, op string, {names['k']} string, {names['j']} int, "
            f"ts timestamp, {names['v']} string, {names['n']} int"
        )
        t.merge(spark.createDataFrame(rows, ddl), batch_id=f"b{i}")
        if compact:
            t.compact_deltas()
        if evolution == "add" and "x" not in t.user_columns():
            t.add_column("x", "double")
        elif evolution in ("rename_payload", "rename_key"):
            c = "v" if evolution == "rename_payload" else "k"
            t.rename_column(names[c], names[c] + "_")
            names[c] += "_"
        elif evolution == "widen" and t.schema.field_by_name(names["n"]).type == "int":
            t.widen_column(names["n"], "long")

    kname = names["k"]
    wanted = [(f"u{k}", j) if composite else f"u{k}" for k, j in ALL_KEYS + extra]
    got = t.lookup(wanted, include_system=include_system)
    full = t.read(include_system=include_system)
    key_of = (lambda r: (r[kname], r["j"])) if composite else (lambda r: r[kname])
    want = [r for r in full.collect() if key_of(r) in set(wanted)]
    assert got.schema == full.schema
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want))
