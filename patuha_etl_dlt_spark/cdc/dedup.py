"""Last-writer-wins deduplication per key — three interchangeable plans.

Reference analog: dlt's PK merge replaces target rows on key match in
arrival order (``/root/reference/source/pipeline_management.py:851``,
``workflow.md:50-72``) — nondeterministic when one batch holds several
updates to a key. We make it deterministic: the winner per key is the
event with the greatest ``(order_col, lsn)``; ``lsn`` is unique, so the
order is total (SURVEY.md §2.5).

Three physical plans, same semantics:

- ``lww_window``   — ``row_number() OVER (PARTITION BY key ORDER BY ... DESC)``.
  The textbook plan; requires a full sort of each key partition and has
  no map-side combine, so a hot key serializes into one task.
- ``lww_agg``      — ``groupBy(key).agg(max_by(payload, order))``. Partial
  aggregation collapses duplicates map-side: a key with 10^6 events ships
  ~1 row per input partition through the shuffle. **The engine's plan.**
- ``lww_salted``   — explicit two-phase reduction for window-shaped plans:
  phase 1 reduces within (key, salt), phase 2 across salts. Defeats skew
  where a window is otherwise required (e.g. when you must keep the
  full winning row without restructuring). North-rule requirement.

Skew rationale follows "Rock you like a hurricane: taming skew in large
scale analytics" (EuroSys 2018 — PAPERS.md): repartition the hot key's
work, aggregate partially, recombine; AQE's skew-join handling covers the
join-side analog (session default on).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _order_cols_desc(order_cols: list[str]):
    return [F.col(c).desc_nulls_last() for c in order_cols]


def lww_window(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """One row per key: greatest (order_cols) wins. Window/row_number plan."""
    w = Window.partitionBy(*key_cols).orderBy(*_order_cols_desc(order_cols))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_agg(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """One row per key via max_by aggregation (map-side partial agg →
    skew-resistant). Column order of the result matches ``df``."""
    payload = [c for c in df.columns if c not in key_cols]
    order = F.struct(*[F.col(c) for c in order_cols])
    out = (
        df.groupBy(*key_cols)
        .agg(F.max_by(F.struct(*payload), order).alias("_w"))
        .select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload])
    )
    return out.select(*df.columns)


def lww_salted(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    n_salt: int = 16,
    salt_on: str | None = None,
) -> DataFrame:
    """Two-phase windowed LWW with salting for hot keys.

    Phase 1 partitions by (key, salt) — a hot key's events spread over
    ``n_salt`` tasks, each reducing its shard to one candidate. Phase 2
    reduces the ≤``n_salt`` candidates per key. The salt derives from a
    per-event column (default: the last order col, i.e. the LSN) so it is
    deterministic; it must partition *within* a key only — the final
    reduction regroups by the bare key (SURVEY.md §7 "hard parts").
    """
    salt_src = salt_on or order_cols[-1]
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salt)))
    w1 = Window.partitionBy(*key_cols, "_salt").orderBy(*_order_cols_desc(order_cols))
    phase1 = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_salt")
    )
    return lww_window(phase1, key_cols, order_cols)
