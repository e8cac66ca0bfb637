"""JDBC source: cursor-windowed incremental reads from a SQL database.

The reference's actual source is MySQL via SQLAlchemy + dlt's
``sql_database`` with an incremental cursor hint
(``/root/reference/source/pipeline_management.py:652``, ``:818``,
``:947-950`` — emits ``WHERE modifier > :last ORDER BY modifier``). The
Spark-native equivalent is the JDBC reader with (a) the cursor predicate
pushed into the remote query and (b) range partitioning over the cursor
column so N executors each pull a slice — replacing the reference's
single-connection serial extract (``config.toml:9-15`` pins dlt to one
worker; Spark's whole point is the opposite).

MySQL dialect surface (the behaviors the reference spends real code
fighting) is first-class:

- zero dates ``0000-00-00`` (reference ``README.MD:487-494``,
  ``data_processing.py:76-82``) → ``zeroDateTimeBehavior=convertToNull``
  so Connector/J NULLs them at the wire instead of throwing;
- connection-level timezone normalization (reference
  ``pipeline_management.py:700-722`` forces a session tz) →
  ``connectionTimeZone=UTC`` + a ``sessionInitStatement`` pinning
  ``time_zone``;
- backslash string escapes (on by default in MySQL, absent in ANSI) in
  cursor literals;
- backtick identifier quoting.

These are applied automatically when the URL is ``jdbc:mysql:`` /
``jdbc:mariadb:`` and individually overridable via ``options``.

This sandbox has no MySQL, so the module builds and validates the reader
configuration (unit-tested) and only touches the network when ``.load()``
is called; the mechanism is verified end-to-end against embedded Derby
(``tests/test_jdbc_derby.py``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

# Reader options pre-set for MySQL/MariaDB URLs (each overridable via
# JdbcSourceConfig.options). Unknown reader options are forwarded by Spark
# to the JDBC driver as connection properties.
MYSQL_DEFAULT_OPTIONS: dict[str, str] = {
    # '0000-00-00' rows surface as NULL instead of SQLException
    "zeroDateTimeBehavior": "convertToNull",
    # interpret DATETIME columns in a fixed zone regardless of server config
    "connectionTimeZone": "UTC",
    # and pin the session so NOW()/cursor comparisons agree with it
    "sessionInitStatement": "SET time_zone = '+00:00'",
}

_IDENT_QUOTE = {"mysql": "`", "ansi": '"'}


def infer_dialect(url: str) -> str:
    return "mysql" if url.startswith(("jdbc:mysql:", "jdbc:mariadb:")) else "ansi"


def sql_literal(v, dialect: str = "ansi") -> str:
    """Render a Python value as a safe SQL literal: numerics unquoted
    (Decimals in plain notation; non-finite floats and decimals are
    rejected — ``repr`` of inf/nan is invalid SQL), strings single-quoted with embedded quotes doubled. Under the
    ``mysql`` dialect backslashes are doubled too: MySQL treats ``\\`` as
    an escape by default, so a trailing backslash in a DB-sourced cursor
    value would otherwise swallow the closing quote (malformed SQL /
    literal breakout)."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        if not math.isfinite(v):
            raise ValueError(f"non-finite float has no SQL literal: {v!r}")
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, Decimal):
        if not v.is_finite():
            raise ValueError(f"non-finite decimal has no SQL literal: {v!r}")
        return format(v, "f")
    s = str(v)
    if dialect == "mysql":
        s = s.replace("\\", "\\\\")
    s = s.replace("'", "''")
    return f"'{s}'"


def quote_ident(name: str, dialect: str = "ansi") -> str:
    """Quote an identifier for the dialect (doubling embedded quote
    chars). Composite paths (``db.table``) quote each segment."""
    q = _IDENT_QUOTE.get(dialect, '"')
    return ".".join(q + part.replace(q, q + q) + q for part in name.split("."))


@dataclass(frozen=True)
class JdbcSourceConfig:
    url: str  # jdbc:mysql://host:3306/db
    table: str
    cursor_col: str | None = None  # reference 'modifier'
    last_value: object | None = None  # committed cursor (str | int | float | Decimal)
    partition_col: str | None = None  # numeric/date col for parallel pull
    lower_bound: str | None = None
    upper_bound: str | None = None
    num_partitions: int = 8
    fetch_size: int = 10_000  # reference chunk size (workflow.md:249-268)
    user: str | None = None
    password: str | None = None
    driver: str | None = None  # JDBC driver class, when not auto-loadable
    # 'mysql' | 'ansi'; None = inferred from the URL scheme
    dialect: str | None = None
    # quote table/cursor identifiers with the dialect's quote char (off by
    # default: Derby & friends fold unquoted identifiers to upper-case, so
    # quoting must match how the tables were created)
    quote_identifiers: bool = False
    # extra/override reader options, applied LAST (user always wins over
    # dialect presets) — e.g. {"zeroDateTimeBehavior": "round"}
    options: dict = field(default_factory=dict)

    def effective_dialect(self) -> str:
        return self.dialect or infer_dialect(self.url)

    def _ident(self, name: str) -> str:
        return quote_ident(name, self.effective_dialect()) if self.quote_identifiers else name

    def dbtable(self) -> str:
        """Pushed-down incremental extract: the remote DB scans its own
        cursor index, exactly like the reference's dlt-generated query.
        (Alias must not start with '_': Derby and other strict dialects
        reject such unquoted identifiers.)"""
        if self.cursor_col and self.last_value is not None:
            lit = sql_literal(self.last_value, self.effective_dialect())
            return (
                f"(SELECT * FROM {self._ident(self.table)} "
                f"WHERE {self._ident(self.cursor_col)} > {lit}) incr_src"
            )
        return self._ident(self.table)

    def reader_options(self) -> dict[str, str]:
        opts: dict[str, str] = {}
        if self.effective_dialect() == "mysql":
            opts.update(MYSQL_DEFAULT_OPTIONS)
        opts.update(
            url=self.url,
            dbtable=self.dbtable(),
            fetchsize=str(self.fetch_size),
        )
        if self.partition_col:
            if self.lower_bound is None or self.upper_bound is None:
                raise ValueError("partition_col requires lower_bound and upper_bound")
            opts.update(
                partitionColumn=self.partition_col,
                lowerBound=str(self.lower_bound),
                upperBound=str(self.upper_bound),
                numPartitions=str(self.num_partitions),
            )
        if self.user:
            opts["user"] = self.user
        if self.password:
            opts["password"] = self.password
        if self.driver:
            opts["driver"] = self.driver
        opts.update({k: str(v) for k, v in self.options.items()})
        return opts


def read_jdbc(spark: SparkSession, cfg: JdbcSourceConfig) -> DataFrame:
    """Build the JDBC scan. Raises a clear error if no JDBC driver jar is
    on the classpath (none ships in this sandbox)."""
    return spark.read.format("jdbc").options(**cfg.reader_options()).load()


def probe_partition_bounds(spark: SparkSession, cfg: JdbcSourceConfig):
    """MIN/MAX of ``cfg.partition_col`` over the CURRENT extract window
    (i.e. inside the pushed cursor predicate) — one tiny remote aggregate
    the source DB answers from its index. The pull loop uses this to set
    range-partition bounds per cycle: a growing table has no static
    lower/upper bound, and bounds from a stale window would pile every
    new row into the first/last partition (Spark range-partitions clamp,
    they don't drop). Returns (lo, hi) or ``None`` for an empty window."""
    import dataclasses

    sub = cfg.dbtable()
    pc = cfg._ident(cfg.partition_col)
    probe = dataclasses.replace(
        cfg, partition_col=None, lower_bound=None, upper_bound=None
    )
    opts = probe.reader_options()
    opts["dbtable"] = f"(SELECT MIN({pc}) AS pb_lo, MAX({pc}) AS pb_hi FROM {sub}) pb"
    row = spark.read.format("jdbc").options(**opts).load().first()
    if row is None or row[0] is None:
        return None
    return row[0], row[1]
