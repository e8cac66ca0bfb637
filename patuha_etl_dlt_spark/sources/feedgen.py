"""Deterministic change-event feed generator (seeded; no external data).

Synthesizes the binlog/WAL-style feed of Common-Crawl-style page events
per FIXTURES.md §2: Zipf-ish hot keys (exercises salting/skew), I/U/D mix,
duplicate delivery (exercises exactly-once), out-of-order delivery within
partitions (exercises LWW), seeded edge-case values (exercises the
sanitizers — reference behaviors data_processing.py:50-98), and optional
schema-evolution stages.

The generator is pure numpy/pandas on the driver for test scales; the
benchmark path (``generate_events_distributed``) generates partitions via
``spark.range`` + native column functions so 10^7+ events never sit in
driver memory.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from patuha_etl_dlt_spark.cdc.envelope import (
    HTML,
    LSN,
    OP,
    PARTITION,
    SCHEMA,
    TEXT,
    base_descriptor,
    event_struct,
)

EPOCH = dt.datetime(2026, 1, 1)


@dataclass
class FeedSpec:
    n_urls: int = 1_000
    n_events: int = 10_000
    n_partitions: int = 4
    hot_fraction: float = 0.01  # fraction of urls that are hot
    hot_share: float = 0.5  # share of events landing on hot urls
    p_insert: float = 0.2
    p_update: float = 0.7
    p_delete: float = 0.1
    dup_rate: float = 0.02  # re-delivered (replayed) events
    shuffle: bool = True  # out-of-order delivery
    edge_cases: bool = True
    seed: int = 42


def _urls(spec: FeedSpec) -> np.ndarray:
    return np.array([f"https://site{i % 97}.example/page/{i}" for i in range(spec.n_urls)])


def _html_for(url: str, rev: int) -> bytes:
    # revision-dependent, deterministic page body; entities + script block
    # exercise the extractor
    return (
        f"<html><head><title>{url} r{rev}</title><script>var x=1;</script></head>"
        f"<body><h1>Page {url}</h1><p>rev&nbsp;{rev} &amp; content {rev * 7919 % 1000}</p>"
        f"<!-- comment --></body></html>"
    ).encode()


def generate_pandas(spec: FeedSpec) -> pd.DataFrame:
    rng = np.random.RandomState(spec.seed)
    urls = _urls(spec)
    n_hot = max(1, int(spec.n_urls * spec.hot_fraction))
    hot_idx = rng.choice(spec.n_urls, n_hot, replace=False)

    is_hot = rng.rand(spec.n_events) < spec.hot_share
    idx = np.where(
        is_hot,
        hot_idx[rng.randint(0, n_hot, spec.n_events)],
        rng.randint(0, spec.n_urls, spec.n_events),
    )
    p = np.array([spec.p_insert, spec.p_update, spec.p_delete], dtype=float)
    ops = rng.choice(np.array(["I", "U", "D"]), spec.n_events, p=p / p.sum())
    lsn = np.arange(spec.n_events, dtype=np.int64)
    # event time mostly monotone in lsn with jitter → out-of-order pressure
    ts_off = lsn + rng.randint(-5, 6, spec.n_events)
    part = rng.randint(0, spec.n_partitions, spec.n_events).astype(np.int32)
    desc = base_descriptor()

    rows = []
    for i in range(spec.n_events):
        u = urls[idx[i]]
        op = ops[i]
        rev = int(lsn[i])
        html = None if op == "D" else _html_for(u, rev)
        lang = None if op == "D" else ["en", "de", "fr", "id"][idx[i] % 4]
        rows.append(
            (
                int(lsn[i]),
                op,
                u,
                EPOCH + dt.timedelta(seconds=int(ts_off[i])),
                html,
                None,  # text: engine recomputes from html (north rule)
                lang,
                int(part[i]),
                desc,
            )
        )

    if spec.edge_cases and rows:
        # seeded sanitizer edge cases (reference data_processing.py:50-98)
        u = urls[0]
        base = spec.n_events
        rows.append((base, "U", u, EPOCH, _html_for(u, base), None, "   ", 0, desc))  # ws lang
        rows.append((base + 1, "U", urls[1 % spec.n_urls], EPOCH, _html_for(u, base + 1), None, "e\x00n", 0, desc))  # NUL
        rows.append((base + 2, "U", urls[2 % spec.n_urls], None, _html_for(u, base + 2), None, "en", 0, desc))  # null ts

    pdf = pd.DataFrame(rows, columns=event_struct().fieldNames())

    if spec.dup_rate > 0 and len(pdf) > 10:
        k = int(len(pdf) * spec.dup_rate)
        dup = pdf.iloc[rng.randint(0, len(pdf), k)]
        pdf = pd.concat([pdf, dup], ignore_index=True)
    if spec.shuffle:
        pdf = pdf.sample(frac=1.0, random_state=spec.seed).reset_index(drop=True)
    return pdf


def generate_events(spark: SparkSession, spec: FeedSpec | None = None) -> DataFrame:
    spec = spec or FeedSpec()
    pdf = generate_pandas(spec)
    return spark.createDataFrame(pdf, schema=event_struct())


def generate_events_distributed(
    spark: SparkSession,
    n_events: int,
    n_urls: int,
    n_partitions: int = 32,
    hot_fraction: float = 0.01,
    hot_share: float = 0.5,
    p_delete: float = 0.1,
    seed: int = 42,
    parallelism: int | None = None,
    body_paragraphs: int = 8,
) -> DataFrame:
    """Distributed, driver-memory-free event generation via ``spark.range``
    + native column functions (the bench path — 10^7+ events never touch
    the driver). Deterministic: every value is a pure function of
    (lsn, seed). HTML bodies are synthesized inline so the extraction UDF
    has real work."""
    from pyspark.sql import functions as F

    n_hot = max(1, int(n_urls * hot_fraction))
    df = spark.range(0, n_events, 1, parallelism or spark.sparkContext.defaultParallelism)
    lsn = F.col("id")
    h = lambda salt: F.abs(F.xxhash64(lsn, F.lit(seed + salt)))  # noqa: E731
    is_hot = (h(1) % 1000) < int(hot_share * 1000)
    url_idx = F.when(is_hot, h(2) % n_hot).otherwise(n_hot + h(3) % max(1, n_urls - n_hot))
    url = F.concat(
        F.lit("https://site"), (url_idx % 97).cast("string"), F.lit(".example/page/"),
        url_idx.cast("string"),
    )
    opsel = h(4) % 100
    op = (
        F.when(opsel < 20, "I").when(opsel < 100 - int(p_delete * 100), "U").otherwise("D")
    )
    warc_ts = F.timestamp_seconds(F.lit(int(EPOCH.timestamp())) + lsn + (h(5) % 11) - 5)
    # body_paragraphs controls page size (~170 B each ⇒ default ~1.5 KB,
    # the low end of real web pages) so extraction/shuffle cost per event
    # is realistic rather than latency-bound
    paras = [
        F.concat(
            F.lit(f'<p class="c{j}">rev&nbsp;'), lsn.cast("string"),
            F.lit(" &amp; content "), ((lsn * 7919 + j * 104729) % 100000).cast("string"),
            F.lit(" <b>bold</b> <a href='/x"), ((h(6) + j) % 997).cast("string"),
            F.lit("'>link text here</a> tail of paragraph "), F.lit(str(j)), F.lit("</p>"),
        )
        for j in range(body_paragraphs)
    ]
    html_str = F.concat(
        F.lit("<html><head><title>"), url, F.lit(" r"), lsn.cast("string"),
        F.lit("</title><script>var x=1;</script><style>p{margin:0}</style></head><body><h1>Page "),
        url, F.lit("</h1>"), *paras, F.lit("<!-- c --></body></html>"),
    )
    return df.select(
        lsn.alias(LSN),
        op.alias(OP),
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.when(op != "D", F.encode(html_str, "UTF-8")).alias(HTML),
        F.lit(None).cast("string").alias(TEXT),
        F.when(op != "D", F.element_at(F.array(F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("id")), (url_idx % 4 + 1).cast("int"))).alias("lang"),
        (lsn % n_partitions).cast("int").alias(PARTITION),
        F.lit(base_descriptor()).alias(SCHEMA),
    )


def split_batches(pdf: pd.DataFrame, n_batches: int, seed: int = 7) -> list[pd.DataFrame]:
    """Split a feed into delivery batches with **log semantics**: within each
    feed partition, LSNs are delivered in increasing order across batches
    (the Kafka/binlog contract the per-partition offset checkpoint relies
    on); *within* a batch rows arrive in arbitrary order, and event time
    (warc_ts) is arbitrarily out of order everywhere — that is what LWW
    dedup absorbs."""
    chunks: list[list[pd.DataFrame]] = [[] for _ in range(n_batches)]
    for _, grp in pdf.groupby(PARTITION, sort=False):
        g = grp.sort_values(LSN, kind="mergesort")
        size = (len(g) + n_batches - 1) // n_batches
        for i in range(n_batches):
            part = g.iloc[i * size : (i + 1) * size]
            if len(part):
                chunks[i].append(part)
    out = []
    for i, parts in enumerate(chunks):
        if parts:
            b = pd.concat(parts, ignore_index=True).sample(frac=1.0, random_state=seed + i)
            out.append(b.reset_index(drop=True))
        else:
            out.append(pdf.iloc[0:0].copy())
    return out
