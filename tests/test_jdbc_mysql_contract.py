"""MySQL dialect contract: golden-string assertions on the generated JDBC
reader configuration.

This sandbox has no MySQL server or Connector/J jar, so the mysql dialect
surface (the behaviors the reference spends real code fighting —
``/root/reference/source/database.py:122-190``: zero dates, session
timezone pinning, backslash escapes, backtick quoting) cannot be executed
end-to-end here; the Derby e2e tests cover the *mechanism* (pushdown,
partitioned pulls) while this file pins the exact *strings* a MySQL
deployment would receive, so a regression in quoting/escaping/presets is
caught without a server. No Spark session needed — the config layer is
pure."""

from __future__ import annotations

import pytest

from patuha_etl_dlt_spark.sources.jdbc import (
    MYSQL_DEFAULT_OPTIONS,
    JdbcSourceConfig,
    infer_dialect,
    quote_ident,
    sql_literal,
)

URL = "jdbc:mysql://db.example:3306/app"


def test_dialect_inference():
    assert infer_dialect(URL) == "mysql"
    assert infer_dialect("jdbc:mariadb://h/db") == "mysql"
    assert infer_dialect("jdbc:derby:memory:x") == "ansi"
    assert infer_dialect("jdbc:postgresql://h/db") == "ansi"


def test_mysql_reader_options_golden_str_cursor():
    cfg = JdbcSourceConfig(
        url=URL,
        table="app.users",
        cursor_col="modified_at",
        last_value="2026-01-01 00:00:00",
        quote_identifiers=True,
        user="etl",
        password="s3cret",
        fetch_size=5000,
    )
    opts = cfg.reader_options()
    assert opts == {
        # dialect presets (reference README.MD:487-494 zero-date handling;
        # pipeline_management.py:700-722 session tz pinning)
        "zeroDateTimeBehavior": "convertToNull",
        "connectionTimeZone": "UTC",
        "sessionInitStatement": "SET time_zone = '+00:00'",
        "url": URL,
        "dbtable": (
            "(SELECT * FROM `app`.`users` "
            "WHERE `modified_at` > '2026-01-01 00:00:00') incr_src"
        ),
        "fetchsize": "5000",
        "user": "etl",
        "password": "s3cret",
    }


def test_mysql_partitioned_pull_golden():
    cfg = JdbcSourceConfig(
        url=URL,
        table="events",
        cursor_col="seq",
        last_value=12345,
        partition_col="seq",
        lower_bound="12346",
        upper_bound="99999",
        num_partitions=16,
    )
    opts = cfg.reader_options()
    # int cursor renders unquoted; identifiers unquoted unless asked
    assert opts["dbtable"] == "(SELECT * FROM events WHERE seq > 12345) incr_src"
    assert opts["partitionColumn"] == "seq"
    assert opts["lowerBound"] == "12346"
    assert opts["upperBound"] == "99999"
    assert opts["numPartitions"] == "16"


def test_mysql_literal_escaping_traps():
    # backslash doubling: MySQL treats \ as an escape by default, so a
    # DB-sourced cursor value ending in \ must not swallow the quote
    assert sql_literal("a\\b", "mysql") == "'a\\\\b'"
    assert sql_literal("tail\\", "mysql") == "'tail\\\\'"
    # quote doubling composes with it
    assert sql_literal("o'\\brien", "mysql") == "'o''\\\\brien'"
    # ansi leaves backslashes alone
    assert sql_literal("a\\b", "ansi") == "'a\\b'"
    assert sql_literal(42, "mysql") == "42"
    assert sql_literal(42.5, "mysql") == "42.5"
    assert sql_literal(True, "mysql") == "TRUE"
    with pytest.raises(ValueError, match="non-finite"):
        sql_literal(float("nan"), "mysql")


def test_decimal_literal_is_plain_numeric():
    """A DECIMAL cursor renders unquoted, in plain notation, exactly."""
    from decimal import Decimal

    assert sql_literal(Decimal("10.50"), "mysql") == "10.50"
    assert sql_literal(Decimal("1E+2"), "ansi") == "100"
    assert sql_literal(Decimal("-0.000001"), "ansi") == "-0.000001"
    with pytest.raises(ValueError, match="non-finite"):
        sql_literal(Decimal("NaN"), "ansi")


def test_mysql_identifier_quoting():
    assert quote_ident("users", "mysql") == "`users`"
    assert quote_ident("app.users", "mysql") == "`app`.`users`"
    # embedded quote char doubled — no identifier breakout
    assert quote_ident("we`ird", "mysql") == "`we``ird`"
    assert quote_ident("app.users", "ansi") == '"app"."users"'


def test_user_options_override_dialect_presets():
    cfg = JdbcSourceConfig(
        url=URL, table="t", options={"zeroDateTimeBehavior": "round", "isolationLevel": "READ_COMMITTED"}
    )
    opts = cfg.reader_options()
    assert opts["zeroDateTimeBehavior"] == "round"  # user wins over preset
    assert opts["isolationLevel"] == "READ_COMMITTED"
    assert opts["connectionTimeZone"] == "UTC"  # untouched presets remain


def test_ansi_url_gets_no_mysql_presets():
    cfg = JdbcSourceConfig(url="jdbc:postgresql://h/db", table="t")
    opts = cfg.reader_options()
    for k in MYSQL_DEFAULT_OPTIONS:
        assert k not in opts
    assert opts["dbtable"] == "t"


def test_explicit_dialect_overrides_url_inference():
    # a proxy/odbc-ish URL fronting MySQL still gets the mysql surface
    cfg = JdbcSourceConfig(
        url="jdbc:awsproxy://h/db", table="t", dialect="mysql",
        cursor_col="m", last_value="x\\", quote_identifiers=True,
    )
    opts = cfg.reader_options()
    assert opts["zeroDateTimeBehavior"] == "convertToNull"
    assert opts["dbtable"] == "(SELECT * FROM `t` WHERE `m` > 'x\\\\') incr_src"
