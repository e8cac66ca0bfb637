"""Multi-table orchestration, config validation, retry, readers, streaming."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from patuha_etl_dlt_spark.cdc.orchestrator import SyncOrchestrator
from patuha_etl_dlt_spark.cdc.retry import RetryPolicy, with_retry
from patuha_etl_dlt_spark.config import TableConfig, load_table_configs

PAGES_COLS = (
    ("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"),
    ("text", "string"), ("lang", "string"),
)
LINKS_COLS = (
    ("src_url", "string"), ("dst_url", "string"), ("warc_ts", "timestamp"), ("w", "long"),
)


def configs():
    return [
        TableConfig("pages", ("url",), "warc_ts", "cdc", 4, PAGES_COLS),
        TableConfig("page_links", ("src_url", "dst_url"), "warc_ts", "cdc", 2, LINKS_COLS),
        TableConfig("pages_snap", ("url",), "warc_ts", "snapshot", 2, PAGES_COLS),
    ]


def ts(i):
    return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=i)


def pages_events(spark, rows):
    return spark.createDataFrame(
        [(l, o, u, ts(t), None, x, "en", 0, None) for (l, o, u, t, x) in rows],
        "lsn long, op string, url string, warc_ts timestamp, html binary, text string, "
        "lang string, partition_id int, schema_json string",
    )


def links_events(spark, rows):
    return spark.createDataFrame(
        [(l, o, s, d, ts(t), w, 0, None) for (l, o, s, d, t, w) in rows],
        "lsn long, op string, src_url string, dst_url string, warc_ts timestamp, w long, "
        "partition_id int, schema_json string",
    )


def test_config_validation_and_load(tmp_path):
    p = tmp_path / "tables.json"
    p.write_text(json.dumps([
        {"table": "pages", "primary_key": "url", "modifier": "warc_ts"},
        {"table": "links", "primary_key": ["a", "b"], "cursor": "warc_ts", "mode": "cdc"},
    ]))
    cfgs = load_table_configs(str(p))
    assert cfgs[0].mode == "cdc" and cfgs[0].merge_key == ("url",)
    assert cfgs[1].merge_key == ("a", "b")

    p.write_text(json.dumps([{"table": "x", "primary_key": "k", "cursor": "c"},
                             {"table": "x", "primary_key": "k", "cursor": "c"}]))
    with pytest.raises(ValueError, match="duplicate"):
        load_table_configs(str(p))
    with pytest.raises(ValueError, match="mode"):
        TableConfig("t", ("k",), "c", mode="bogus")


def test_multi_table_cycle_and_verify(spark, tmp_path):
    orch = SyncOrchestrator(spark, str(tmp_path), configs())
    b1 = {
        "pages": pages_events(spark, [(1, "I", "a", 1, "A1"), (2, "I", "b", 1, "B1")]),
        "page_links": links_events(spark, [(1, "I", "a", "b", 1, 10)]),
        "pages_snap": pages_events(spark, [(1, "I", "s", 1, "S1")]).drop("op"),
    }
    res = {r.table: r for r in orch.run_cycle(b1, "cycle1")}
    assert all(r.status == "perfect" for r in res.values()), res

    b2 = {
        "pages": pages_events(spark, [(3, "U", "a", 5, "A2"), (4, "D", "b", 5, "X")]),
        "page_links": links_events(spark, [(2, "U", "a", "b", 5, 20)]),
    }
    orch.run_cycle(b2, "cycle2")
    got = {r["url"]: r["text"] for r in orch.engine("pages").table.read().collect()}
    assert got == {"a": "A2"}
    links = {(r["src_url"], r["dst_url"]): r["w"] for r in orch.engine("page_links").table.read().collect()}
    assert links == {("a", "b"): 20}

    v = orch.verify_sync("pages", spark.createDataFrame([("a",)], "url string"))
    assert v["status"] == "perfect"

    # re-running a whole cycle is a no-op (exactly-once across tables)
    res2 = {r.table: r for r in orch.run_cycle(b2, "cycle2")}
    assert all(r.status == "skipped" for r in res2.values())


def test_concurrent_cycle_matches_sequential(spark, tmp_path):
    """max_concurrency > 1 (reference BATCH_SIZE pipelining): three tables
    applied from a thread pool produce byte-identical table states to the
    sequential cycle, exactly-once replay holds, and a failing table still
    lands in the retry queue without disturbing the others."""
    def batch1(s):
        return {
            "pages": pages_events(s, [(1, "I", "a", 1, "A1"), (2, "I", "b", 1, "B1")]),
            "page_links": links_events(s, [(1, "I", "a", "b", 1, 10)]),
            "pages_snap": pages_events(s, [(1, "I", "s", 1, "S1")]).drop("op"),
        }

    def batch2(s):
        return {
            "pages": pages_events(s, [(3, "U", "a", 5, "A2"), (4, "D", "b", 5, "X")]),
            "page_links": links_events(s, [(2, "U", "a", "b", 5, 20)]),
            "pages_snap": pages_events(s, [(9, "I", "s2", 9, "S2")]).drop("op"),
        }

    def state(orch):
        return {
            "pages": {(r["url"], r["text"]) for r in orch.engine("pages").table.read().collect()},
            "page_links": {
                (r["src_url"], r["dst_url"], r["w"])
                for r in orch.engine("page_links").table.read().collect()
            },
            "pages_snap": {
                (r["url"], r["text"]) for r in orch.engine("pages_snap").table.read().collect()
            },
        }

    seq = SyncOrchestrator(spark, str(tmp_path / "seq"), configs())
    con = SyncOrchestrator(spark, str(tmp_path / "con"), configs(), max_concurrency=3)
    for orch in (seq, con):
        for cyc, mk in (("c1", batch1), ("c2", batch2)):
            res = orch.run_cycle(mk(spark), cyc)
            assert all(r.status == "perfect" for r in res), res
    assert state(con) == state(seq) != {}

    # replaying a full cycle concurrently is a no-op (exactly-once)
    res = con.run_cycle(batch2(spark), "c2")
    assert all(r.status == "skipped" for r in res)

    # a poisoned table fails alone; healthy tables in the same concurrent
    # cycle commit; the retry queue records only the failure
    con.retry_policy = RetryPolicy(max_attempts=1, base_delay_s=0.01)
    mixed = {
        "pages": pages_events(spark, [(5, "I", "a", 1, "A1")]).drop("warc_ts"),  # bad
        "page_links": links_events(spark, [(3, "U", "a", "b", 9, 30)]),
    }
    res = {r.table: r for r in con.run_cycle(mixed, "c3")}
    assert res["pages"].status == "failed" and res["page_links"].status == "perfect"
    assert con.retry_queue.drain() == [("pages", "c3:pages")]


def test_failed_table_goes_to_retry_queue(spark, tmp_path):
    orch = SyncOrchestrator(
        spark, str(tmp_path), configs(),
        retry_policy=RetryPolicy(max_attempts=2, base_delay_s=0.01),
    )
    bad = pages_events(spark, [(1, "I", "a", 1, "A1")]).drop("warc_ts")  # missing cursor col
    res = orch.run_cycle({"pages": bad}, "c1")
    assert res[0].status == "failed"
    assert orch.retry_queue.drain() == [("pages", "c1:pages")]


def test_with_retry_backoff():
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("transient")
        return "ok"

    assert with_retry(flaky, RetryPolicy(max_attempts=3, base_delay_s=0.01)) == "ok"
    assert len(calls) == 3
    with pytest.raises(RuntimeError):
        with_retry(lambda: (_ for _ in ()).throw(RuntimeError("always")),
                   RetryPolicy(max_attempts=2, base_delay_s=0.01))


def test_readers_permissive(spark, tmp_path):
    from patuha_etl_dlt_spark.sources.readers import cleanup_staging, read_csv, read_jsonl

    jl = tmp_path / "data.jsonl"
    jl.write_text('{"a": 1, "b": "x"}\n{bad json\n{"a": 2, "b": "y"}\n')
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    df = read_jsonl(spark, str(jl), schema)
    assert sorted((r["a"], r["b"]) for r in df.collect()) == [(1, "x"), (2, "y")]

    cv = tmp_path / "data.csv"
    cv.write_text("a,b\n1,x\nnotanumber,y\n2,z\n")
    df = read_csv(spark, str(cv), schema)
    assert sorted((r["a"], r["b"]) for r in df.collect()) == [(1, "x"), (2, "z")]

    staging = tmp_path / "staging"
    staging.mkdir()
    (staging / "f").write_text("x")
    cleanup_staging(str(staging))
    assert not staging.exists()


def test_jdbc_source_config():
    from patuha_etl_dlt_spark.sources.jdbc import JdbcSourceConfig

    cfg = JdbcSourceConfig(
        url="jdbc:mysql://h:3306/db", table="pages", cursor_col="updated_at",
        last_value="2026-01-01 00:00:00", partition_col="id",
        lower_bound="0", upper_bound="1000000", num_partitions=16,
    )
    opts = cfg.reader_options()
    assert "WHERE updated_at > '2026-01-01 00:00:00'" in opts["dbtable"]
    assert opts["numPartitions"] == "16" and opts["fetchsize"] == "10000"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="lower_bound"):
        JdbcSourceConfig(url="u", table="t", partition_col="id").reader_options()


def test_modifierless_config_full_refresh(spark, tmp_path):
    """A table config without modifier/cursor dispatches to full refresh
    (reference pipeline_management.py:2176-2182) — and is accepted."""
    cfg = TableConfig.from_dict({
        "table": "t", "primary_key": "id",
        "columns": [{"name": "id", "type": "long"}, {"name": "v", "type": "string"}],
        "num_buckets": 4,
    })
    assert cfg.mode == "snapshot" and cfg.cursor == ""
    orch = SyncOrchestrator(spark, str(tmp_path), [cfg])
    r1 = orch.run_cycle({"t": spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")}, "c1")
    assert r1[0].status == "perfect"
    r2 = orch.run_cycle({"t": spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")}, "c2")
    assert r2[0].status == "perfect"
    got = {(r["id"], r["v"]) for r in orch.engine("t").table.read().collect()}
    assert got == {(2, "B"), (3, "c")}  # replace semantics, not merge


def test_sql_literal_escaping():
    from patuha_etl_dlt_spark.sources.jdbc import JdbcSourceConfig, sql_literal

    assert sql_literal(42) == "42"
    assert sql_literal(3.5) == "3.5"
    assert sql_literal("2026-01-01") == "'2026-01-01'"
    assert sql_literal("o'brien") == "'o''brien'"
    cfg = JdbcSourceConfig(url="u", table="t", cursor_col="id", last_value=100)
    assert "WHERE id > 100)" in cfg.dbtable()  # numeric cursor NOT quoted

    # MySQL dialect: backslash is an escape char — double it so a trailing
    # '\' in a DB-sourced cursor value cannot swallow the closing quote
    assert sql_literal("a\\", dialect="mysql") == "'a\\\\'"
    assert sql_literal("a\\'b", dialect="mysql") == "'a\\\\''b'"
    assert sql_literal("a\\", dialect="ansi") == "'a\\'"  # ANSI: no escapes
    import pytest as _pytest

    for bad in (float("inf"), float("-inf"), float("nan")):
        with _pytest.raises(ValueError, match="non-finite"):
            sql_literal(bad)


def test_jdbc_mysql_dialect_presets():
    """MySQL URLs get the reference's hard-won dialect behaviors as reader
    options (zero-date NULLing README.MD:487-494, session tz pinning
    pipeline_management.py:700-722), each overridable; identifier quoting
    is opt-in and dialect-correct."""
    from patuha_etl_dlt_spark.sources.jdbc import JdbcSourceConfig, quote_ident

    cfg = JdbcSourceConfig(url="jdbc:mysql://h:3306/db", table="pages")
    opts = cfg.reader_options()
    assert opts["zeroDateTimeBehavior"] == "convertToNull"
    assert opts["connectionTimeZone"] == "UTC"
    assert opts["sessionInitStatement"] == "SET time_zone = '+00:00'"

    # explicit options always win over the presets
    over = JdbcSourceConfig(
        url="jdbc:mysql://h/db", table="t", options={"zeroDateTimeBehavior": "round"}
    ).reader_options()
    assert over["zeroDateTimeBehavior"] == "round"

    # non-MySQL URLs get no MySQL-isms
    derby = JdbcSourceConfig(url="jdbc:derby:memory:x", table="t").reader_options()
    assert "zeroDateTimeBehavior" not in derby and "sessionInitStatement" not in derby

    # identifier quoting: backticks for mysql, double quotes for ansi
    q = JdbcSourceConfig(
        url="jdbc:mysql://h/db", table="db.pages", cursor_col="updated at",
        last_value=5, quote_identifiers=True,
    )
    assert q.dbtable() == "(SELECT * FROM `db`.`pages` WHERE `updated at` > 5) incr_src"
    assert quote_ident('we"ird', "ansi") == '"we""ird"'


def test_status_and_health_endpoint(spark, tmp_path):
    """R8: queryable status (last-commit age, offsets, throughput) plus the
    HTTP serving surface (reference monitoring.py:16-152)."""
    import json as _json
    import urllib.request

    from patuha_etl_dlt_spark.cdc.monitoring import HealthServer

    orch = SyncOrchestrator(spark, str(tmp_path), configs()[:2])
    assert orch.status()["status"] == "idle"

    orch.run_cycle(
        {
            "pages": pages_events(spark, [(1, "I", "a", 1, "A1"), (2, "I", "b", 2, "B1")]),
            "page_links": links_events(spark, [(1, "I", "a", "b", 1, 10)]),
        },
        "cyc1",
    )
    st = orch.status()
    assert st["status"] == "healthy" and st["retry_queue_depth"] == 0
    pages = st["tables"]["pages"]
    assert pages["n_batches"] == 1 and pages["last_batch_id"] == "cyc1:pages"
    assert pages["last_commit_age_s"] >= 0 and pages["offsets"] == {0: 2}
    assert pages["recent_events_applied"] == 2

    hs = HealthServer(orch.status, port=0).start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{hs.port}/") as r:
            doc = _json.loads(r.read())
        assert doc["status"] == "healthy" and "pages" in doc["tables"]
        import pytest as _pytest
        with _pytest.raises(urllib.error.HTTPError):
            urllib.request.urlopen(f"http://127.0.0.1:{hs.port}/nope")
    finally:
        hs.stop()
