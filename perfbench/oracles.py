"""Independent oracles: DuckDB over the staged inputs, and plain JDBC.

Nothing here calls the package: the LWW state of a page feed is computed
by DuckDB SQL straight from the staged Parquet files, the pull tables are
read from Derby over JDBC, and exact-duplicate groups come from DuckDB's
own string functions.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd


def duck(work: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET threads = 2")
    return con


def load_feed(con, feed_dir: str) -> None:
    """Materialize the narrow columns of every staged event once."""
    con.execute(
        f"""CREATE OR REPLACE TABLE ev AS
        SELECT url, lsn, op, CAST(epoch(warc_ts) AS BIGINT) AS ts, lang,
               octet_length(html) AS hl
        FROM read_parquet('{feed_dir}/*/*.parquet')"""
    )


_LWW = """
    SELECT c.check_id, e.url, e.ts, e.lang, e.hl, e.op
    FROM checks c JOIN ev e ON e.url = c.url AND e.lsn <= c.max_lsn
    QUALIFY row_number() OVER (
        PARTITION BY c.check_id, e.url ORDER BY e.ts DESC, e.lsn DESC) = 1
"""


def lww_lookups(con, checks: list[tuple[int, list[str], int]]) -> dict[int, set]:
    """Expected rows per lookup: ``checks`` = [(check_id, urls, max_lsn)].
    A key's winner is its event with the greatest (warc_ts, lsn) at or
    below ``max_lsn``; a winning delete leaves no row."""
    if not checks:
        return {}
    rows = [(cid, u, m) for cid, urls, m in checks for u in urls]
    con.register("checks_df", pd.DataFrame(rows, columns=["check_id", "url", "max_lsn"]))
    con.execute("CREATE OR REPLACE TABLE checks AS SELECT * FROM checks_df")
    out: dict[int, set] = {cid: set() for cid, _, _ in checks}
    for cid, url, ts, lang, hl, op in con.execute(_LWW).fetchall():
        if op != "D":
            out[cid].add((url, int(ts), lang, int(hl)))
    return out


def lww_lang_counts(con, max_lsns: list[int]) -> dict[int, dict]:
    """Live rows per ``lang`` after every event at or below each bound."""
    out = {}
    for m in sorted(set(max_lsns)):
        rows = con.execute(
            f"""SELECT lang, count(*) FROM (
                SELECT op, lang, row_number() OVER (
                    PARTITION BY url ORDER BY ts DESC, lsn DESC) AS rn
                FROM ev WHERE lsn <= {int(m)}) WHERE rn = 1 AND op <> 'D'
                GROUP BY lang"""
        ).fetchall()
        out[m] = {lang: int(n) for lang, n in rows}
    return out


def lww_final(con, max_lsn: int) -> set:
    rows = con.execute(
        f"""SELECT url, ts, lang, hl FROM (
            SELECT *, row_number() OVER (
                PARTITION BY url ORDER BY ts DESC, lsn DESC) AS rn
            FROM ev WHERE lsn <= {int(max_lsn)}) WHERE rn = 1 AND op <> 'D'"""
    ).fetchall()
    return {(u, int(t), lang, int(h)) for u, t, lang, h in rows}


def exact_dup_groups(con, corpus_dir: str) -> set:
    """(canonical id, member count) of every group of ≥2 documents whose
    whitespace-collapsed, lower-cased, trimmed text is identical."""
    rows = con.execute(
        f"""SELECT min(doc_id), count(*) FROM (
            SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
            FROM read_parquet('{corpus_dir}/*.parquet'))
            GROUP BY norm HAVING count(*) > 1"""
    ).fetchall()
    return {(int(a), int(b)) for a, b in rows}


def fingerprints(dfs: dict) -> dict:
    """{name: (row count, sum of per-row xxhash64 over all columns)}: an
    order-free digest of each DataFrame's rows, computed by plain Spark SQL
    in one job over all of them."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    parts = [
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
        ).withColumn("name", F.lit(name))
        for name, df in dfs.items()
    ]
    rows = reduce(DataFrame.unionByName, parts).collect()
    return {r["name"]: (int(r["n"]), int(r["h"] or 0)) for r in rows}


class Derby:
    """Plain JDBC access to the embedded Derby database through the
    driver JVM: statements, bulk imports and small queries."""

    DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

    def __init__(self, spark, path: str):
        self.url = f"jdbc:derby:{path}"
        jvm = spark._jvm
        jvm.java.lang.Class.forName(self.DRIVER)
        self.conn = jvm.java.sql.DriverManager.getConnection(self.url + ";create=true")
        self.stmt = self.conn.createStatement()

    def execute(self, sql: str) -> int:
        return self.stmt.executeUpdate(sql)

    def query(self, sql: str, ncols: int) -> list[tuple]:
        rs = self.stmt.executeQuery(sql)
        out = []
        try:
            while rs.next():
                out.append(tuple(rs.getObject(i + 1) for i in range(ncols)))
        finally:
            rs.close()
        return out

    def close(self) -> None:
        self.stmt.close()
        self.conn.close()
