"""LWW dedup: the three physical plans agree; salting is semantics-preserving."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from patuha_etl_dlt_spark.cdc.dedup import lww_agg, lww_salted, lww_window
from patuha_etl_dlt_spark.sources.feedgen import FeedSpec, generate_events

KEYS = ["url"]
ORDER = ["warc_ts", "lsn"]


@pytest.fixture(scope="module")
def events(spark):
    # heavy skew: 1% of urls receive 60% of events
    spec = FeedSpec(n_urls=200, n_events=4000, hot_fraction=0.01, hot_share=0.6, seed=11)
    return generate_events(spark, spec).fillna({"lang": ""}).cache()


def norm(df):
    return sorted(
        (r["url"], r["lsn"]) for r in df.select("url", "lsn").collect()
    )


def test_window_agg_salted_agree(events):
    w = lww_window(events, KEYS, ORDER)
    a = lww_agg(events, KEYS, ORDER)
    s = lww_salted(events, KEYS, ORDER, n_salt=8)
    assert norm(w) == norm(a) == norm(s)
    assert w.count() == events.select("url").distinct().count()


def test_winner_is_max_order(events):
    a = lww_agg(events, KEYS, ORDER)
    joined = (
        events.alias("e")
        .join(a.alias("w"), "url")
        .filter(
            (F.col("e.warc_ts") > F.col("w.warc_ts"))
            | ((F.col("e.warc_ts") == F.col("w.warc_ts")) & (F.col("e.lsn") > F.col("w.lsn")))
        )
    )
    assert joined.count() == 0


def test_salted_handles_null_order_col(spark):
    df = spark.createDataFrame(
        [("a", None, 1, "x"), ("a", None, 2, "y")],
        "url string, warc_ts timestamp, lsn long, v string",
    )
    for fn in (lww_window, lww_agg, lambda d, k, o: lww_salted(d, k, o, 4)):
        out = fn(df, KEYS, ORDER).collect()
        assert len(out) == 1 and out[0]["v"] == "y"  # lsn breaks the tie


def test_lww_plans_agree_property(spark):
    """Property check: all three physical LWW plans (window, agg, salted)
    select the SAME winner coordinate (key, lsn) on random
    event sets — including NULL order values, single-event keys, and
    adversarial ties in the order column (lsn, unique, breaks them)."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from patuha_etl_dlt_spark.cdc.dedup import lww_agg, lww_salted, lww_window

    ev = st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),  # ts offset or NULL
    )

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(ev, min_size=1, max_size=12))
    def check(events):
        rows = [
            (lsn, k, None if t is None else dt.datetime(2026, 1, 1) + dt.timedelta(seconds=t), f"v{lsn}")
            for lsn, (k, t) in enumerate(events)
        ]
        df = spark.createDataFrame(rows, "lsn long, url string, warc_ts timestamp, body string")
        # python oracle: max (ts, lsn) per key, NULL ts smallest
        best = {}
        for lsn, (k, t) in enumerate(events):
            coord = (-1 if t is None else t, lsn)
            if k not in best or coord > best[k]:
                best[k] = coord
        want = {(k, lsn) for k, (_, lsn) in best.items()}
        for plan in (lww_window, lww_agg, lww_salted):
            got = {(r["url"], r["lsn"]) for r in plan(df, ["url"], ["warc_ts", "lsn"]).collect()}
            assert got == want, (plan.__name__, got, want)

    check()
