"""The traced run: per-layer metrics for one workload.

A traced run first runs the workload's window untraced (the reference for
the tracing overhead), then puts spans around the package's public calls,
where their callers look them up, and runs a second window. Spark's event
log is on for the whole run; every span sets the driver thread's job group,
so shuffle bytes, spill, task skew and slot waits of each stage can be
charged to the span that launched it (``arith.attribute_stages``).

Text extraction, sanitizing and the LWW reduction fuse into the merge's
lazy plan, so no span can separate them; their busy time comes from
isolated replays of their public functions on one input batch into the
``noop`` sink. The dedup and similarity operators, which no CDC workload
calls, are replayed on a seeded synthetic corpus and checked against
DuckDB. On ``tail_heavy`` the same batch is replayed into fresh tables at
``local[4]`` and ``local[1]`` for the 1-to-4-core speed-up.
"""

from __future__ import annotations

import os
import random
import time

import arith
import harness
import oracles
from tracing import Tracer, read_event_log


# (metric, unit, better): every metric a traced run reports, on every
# workload; a layer the workload does not exercise reports 0.
PER_LAYER = [
    ("functions.html.extract_s", "s", "lower"),
    ("functions.html.rows_per_s", "rows/s", "higher"),
    ("functions.sanitize.s", "s", "lower"),
    ("cdc.dedup.lww_s", "s", "lower"),
    ("cdc.dedup.winners_per_event", "ratio", "higher"),
    ("cdc.dedup.shuffle_bytes", "bytes", "lower"),
    ("cdc.engine.apply_batch.self_s", "s", "lower"),
    ("cdc.engine.spark_jobs_per_batch", "count", "lower"),
    ("cdc.engine.speedup_1_to_4", "ratio", "higher"),
    ("lake.table.merge_s", "s", "lower"),
    ("lake.table.merge.bytes_written", "bytes", "lower"),
    ("lake.table.merge.files_written", "count", "lower"),
    ("lake.table.merge.spill_bytes", "bytes", "lower"),
    ("lake.table.merge.task_skew", "ratio", "lower"),
    ("lake.table.compact_s", "s", "lower"),
    ("lake.table.compact.files_read", "count", "lower"),
    ("lake.table.lookup_s", "s", "lower"),
    ("lake.table.lookup.files_scanned", "count", "lower"),
    ("lake.table.overlay_files", "count", "lower"),
    ("lake.table.read_s", "s", "lower"),
    ("lake.table.live_files", "count", "lower"),
    ("lake.metadata.write_snapshot_s", "s", "lower"),
    ("lake.metadata.manifest_bytes", "bytes", "lower"),
    ("cdc.checkpoint.commit_s", "s", "lower"),
    ("cdc.checkpoint.state_bytes", "bytes", "lower"),
    ("cdc.evolution.evolve_s", "s", "lower"),
    ("sources.jdbc.scan_s", "s", "lower"),
    ("sources.jdbc.rows", "count", "lower"),
    ("cdc.snapshot_diff.diff_s", "s", "lower"),
    ("cdc.orchestrator.table_s", "s", "lower"),
    ("cdc.orchestrator.failed_tables", "count", "lower"),
    ("cdc.orchestrator.retries", "count", "lower"),
    ("spark.scheduler_delay_s", "s", "lower"),
    ("operators.dedup.exact_s", "s", "lower"),
    ("operators.dedup.minhash_lsh_s", "s", "lower"),
    ("operators.dedup.lsh_candidates_per_pair", "ratio", "lower"),
    ("operators.similarity.lsh_topk_s", "s", "lower"),
    ("functions.text.quality_s", "s", "lower"),
    ("tracing.overhead_ratio", "ratio", "higher"),
]


# ------------------------------------------------------------------ spans


def _files(table) -> set:
    return {f.path for f in table.snapshot.files}


def install(tracer: Tracer) -> None:
    """Span every public call the per-layer metrics need, at the place its
    caller looks it up (class attributes, or module attributes read at
    call time)."""
    from patuha_etl_dlt_spark.cdc import evolution, snapshot_diff
    from patuha_etl_dlt_spark.cdc.checkpoint import CheckpointStore
    from patuha_etl_dlt_spark.cdc.engine import CdcEngine
    from patuha_etl_dlt_spark.cdc.orchestrator import SyncOrchestrator
    from patuha_etl_dlt_spark.lake import metadata
    from patuha_etl_dlt_spark.lake.table import LakeTable
    from patuha_etl_dlt_spark.sources import jdbc

    def files_before(args, kwargs):
        return _files(args[0])

    def merge_after(rec, before, args, kwargs, out):
        rec["attrs"]["files_written"] = len(_files(args[0]) - before)
        rec["attrs"]["bytes_written"] = int((out or {}).get("bytes_written", 0))

    def compact_after(rec, before, args, kwargs, out):
        rec["attrs"]["files_read"] = len(before - _files(args[0]))

    def snapshot_after(rec, ctx, args, kwargs, out):
        meta_dir, snap = args[0], args[1]
        rec["attrs"]["bytes"] = os.path.getsize(
            os.path.join(meta_dir, f"snap-{snap.version:08d}.json")
        )

    def checkpoint_after(rec, ctx, args, kwargs, out):
        rec["attrs"]["bytes"] = os.path.getsize(args[0].state_path)

    def pull_after(rec, ctx, args, kwargs, out):
        rec["attrs"]["failed"] = sum(r.status == "failed" for r in out)
        rec["attrs"]["rows"] = sum(
            int(r.metrics.get("rows_pulled", r.metrics.get("changes", 0))) for r in out
        )

    tracer.wrap(CdcEngine, "apply_batch", "cdc.engine.apply_batch")
    tracer.wrap(SyncOrchestrator, "pull_cycle", "cdc.orchestrator.pull_cycle", after=pull_after)
    tracer.wrap(LakeTable, "merge", "lake.table.merge", files_before, merge_after)
    tracer.wrap(LakeTable, "compact_deltas", "lake.table.compact", files_before, compact_after)
    tracer.wrap(LakeTable, "lookup", "lake.table.lookup")
    tracer.wrap(LakeTable, "read", "lake.table.read")
    tracer.wrap(CheckpointStore, "commit", "cdc.checkpoint.commit", after=checkpoint_after)
    tracer.wrap(metadata, "write_snapshot", "lake.metadata.write_snapshot", after=snapshot_after)
    tracer.wrap(evolution, "evolve_table", "cdc.evolution.evolve")
    tracer.wrap(evolution, "evolve_from_source", "cdc.evolution.evolve")
    tracer.wrap(jdbc, "read_jdbc", "sources.jdbc.read_jdbc")
    tracer.wrap(snapshot_diff, "diff_snapshots", "cdc.snapshot_diff.diff")


# ---------------------------------------------------------------- replays


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def replay_functions(w, tracer: Tracer) -> dict:
    """Extraction, sanitize and LWW, each alone on the workload's replay
    batch, into the ``noop`` sink."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from patuha_etl_dlt_spark.cdc.dedup import lww_agg
    from patuha_etl_dlt_spark.functions.html import extract_text
    from patuha_etl_dlt_spark.functions.sanitize import sanitize_columns

    df, keys, order = w.replay_batch()
    df = df.cache()
    events = df.count()
    out = {}
    if "html" in df.columns:
        pages = df.filter(F.col("html").isNotNull())
        n_pages = pages.count()
        with tracer.span("functions.html.extract") as rec:
            _noop(pages.select(extract_text("html")))
        out["functions.html.rows_per_s"] = n_pages / (rec["end"] - rec["start"])
    with tracer.span("functions.sanitize"):
        _noop(sanitize_columns(df, exclude=tuple(keys)))
    obs = Observation()
    with tracer.span("cdc.dedup.lww"):
        _noop(lww_agg(df, keys, order).observe(obs, F.count(F.lit(1)).alias("n")))
    out["cdc.dedup.winners_per_event"] = obs.get["n"] / events
    df.unpersist()
    return out


CORPUS_DIM = 16


def synthetic_corpus(path: str, seed: int, n_docs: int = 2000, dim: int = CORPUS_DIM):
    """Seeded documents with planted exact duplicates (case and whitespace
    variants) and near duplicates (two words swapped out), plus embeddings
    whose planted neighbours sit close to their source."""
    import numpy as np
    import pandas as pd

    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(3000)] + ["the", "and", "of", "to", "in", "is"] * 50
    texts, vecs = [], []
    for i in range(n_docs):
        r = rng.random()
        if i and r < 0.1:
            j = rng.randrange(i)
            t = texts[j].upper() if rng.random() < 0.5 else texts[j].replace(" ", "  \t", 3)
            v = vecs[j] + nrng.normal(0, 0.01, dim)
        elif i and r < 0.2:
            j = rng.randrange(i)
            words = texts[j].split()
            for _ in range(2):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            t, v = " ".join(words), vecs[j] + nrng.normal(0, 0.05, dim)
        else:
            t = " ".join(rng.choice(vocab) for _ in range(rng.randint(60, 120)))
            v = nrng.normal(0, 1, dim)
        texts.append(t)
        vecs.append(v)
    pdf = pd.DataFrame(
        {
            "doc_id": range(n_docs),
            "text": texts,
            "embedding": [list(map(float, v)) for v in vecs],
        }
    )
    os.makedirs(path, exist_ok=True)
    pdf.to_parquet(os.path.join(path, "part-0.parquet"), index=False)


def replay_operators(w, tracer: Tracer) -> dict:
    """Quality features, exact dedup (checked against DuckDB), MinHash-LSH
    pairs and LSH cosine top-k over the synthetic corpus."""
    from pyspark.sql import functions as F

    from patuha_etl_dlt_spark.functions.text import quality_features
    from patuha_etl_dlt_spark.operators.dedup import exact_duplicate_groups, minhash_lsh_pairs
    from patuha_etl_dlt_spark.operators.similarity import lsh_cosine_topk

    path = os.path.join(w.work, "corpus")
    synthetic_corpus(path, w.seed)
    docs = w.spark.read.parquet(path).cache()
    docs.count()
    with tracer.span("functions.text.quality"):
        _noop(docs.select(*[c.alias(k) for k, c in quality_features(F.col("text")).items()]))
    with tracer.span("operators.dedup.exact"):
        groups = exact_duplicate_groups(docs, "doc_id", "text").filter("n_docs > 1").collect()
    con = oracles.duck(w.work)
    try:
        want = oracles.exact_dup_groups(con, path)
    finally:
        con.close()
    w.tally.ok(
        {(int(r["canonical_id"]), int(r["n_docs"])) for r in groups} == want,
        "exact duplicate groups differ from DuckDB",
    )
    candidates = minhash_lsh_pairs(docs, "doc_id", "text", verify_threshold=None).count()
    with tracer.span("operators.dedup.minhash_lsh"):
        pairs = minhash_lsh_pairs(docs, "doc_id", "text").count()
    queries = docs.filter(F.col("doc_id") % 60 == 0).withColumnRenamed("doc_id", "vec_id")
    with tracer.span("operators.similarity.lsh_topk"):
        lsh_cosine_topk(
            docs.withColumnRenamed("doc_id", "vec_id"), queries, k=5, dim=CORPUS_DIM
        ).collect()
    docs.unpersist()
    return {"operators.dedup.lsh_candidates_per_pair": candidates / max(1, pairs)}


def speedup_1_to_4(w) -> float:
    """Replay the same staged batch into fresh tables at 4 cores, then at
    1 core (a new session in the same JVM); time(1) / time(4)."""

    def replay():
        t0 = time.perf_counter()
        w.replay_fresh(w.spark, os.path.join(w.work, f"replay-{w.spark.sparkContext.defaultParallelism}"))
        return time.perf_counter() - t0

    t4 = replay()
    w.spark.stop()
    w.spark = harness.start_spark(w.work, cores=1)
    t1 = replay()
    return t1 / t4


# ----------------------------------------------------------------- metrics


def _median(values) -> float:
    vals = list(values)
    return arith.median(vals) if vals else 0.0


def layer_metrics(tracer: Tracer, groups: dict, extra: dict) -> dict:
    spans = tracer.spans
    kids = arith.children_of(spans)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def dur(name):
        return _median(s["end"] - s["start"] for s in named(name))

    def stats(span_list) -> dict:
        """Event-log stage statistics of these spans and all below them."""
        out = {"jobs": 0, "shuffle_bytes": 0, "spill_bytes": 0, "slot_wait_s": 0.0, "stage_run_s": []}
        for sp in span_list:
            for sid in arith.descendants(sp["id"], kids):
                g = groups.get(Tracer.group_of(sid))
                if g:
                    for k in ("jobs", "shuffle_bytes", "spill_bytes", "slot_wait_s"):
                        out[k] += g[k]
                    out["stage_run_s"] += g["stage_run_s"]
        return out

    commits = named("cdc.engine.apply_batch") or named("cdc.orchestrator.pull_cycle")
    merges = named("lake.table.merge")
    compacts = named("lake.table.compact")
    pulls = named("cdc.orchestrator.pull_cycle")
    n = max(1, len(commits))
    m = {
        "functions.html.extract_s": dur("functions.html.extract"),
        "functions.sanitize.s": dur("functions.sanitize"),
        "cdc.dedup.lww_s": dur("cdc.dedup.lww"),
        "cdc.dedup.shuffle_bytes": stats(named("cdc.dedup.lww"))["shuffle_bytes"],
        "cdc.engine.apply_batch.self_s": _median(
            arith.self_time(s, kids.get(s["id"], [])) for s in commits
        ),
        "cdc.engine.spark_jobs_per_batch": stats(commits)["jobs"] / n,
        "lake.table.merge_s": dur("lake.table.merge"),
        "lake.table.merge.bytes_written": _median(s["attrs"]["bytes_written"] for s in merges),
        "lake.table.merge.files_written": _median(s["attrs"]["files_written"] for s in merges),
        "lake.table.merge.spill_bytes": stats(merges)["spill_bytes"] / max(1, len(merges)),
        "lake.table.merge.task_skew": arith.task_skew(stats(merges)["stage_run_s"]),
        "lake.table.compact_s": dur("lake.table.compact"),
        "lake.table.compact.files_read": _median(s["attrs"]["files_read"] for s in compacts),
        "lake.table.lookup_s": dur("bench.lookup"),
        "lake.table.read_s": dur("bench.scan"),
        "lake.metadata.write_snapshot_s": dur("lake.metadata.write_snapshot"),
        "lake.metadata.manifest_bytes": _median(
            s["attrs"]["bytes"] for s in named("lake.metadata.write_snapshot")
        ),
        "cdc.checkpoint.commit_s": dur("cdc.checkpoint.commit"),
        "cdc.checkpoint.state_bytes": _median(
            s["attrs"]["bytes"] for s in named("cdc.checkpoint.commit")
        ),
        "cdc.evolution.evolve_s": dur("cdc.evolution.evolve"),
        "sources.jdbc.scan_s": dur("sources.jdbc.read_jdbc"),
        "sources.jdbc.rows": sum(s["attrs"]["rows"] for s in pulls),
        "cdc.snapshot_diff.diff_s": dur("cdc.snapshot_diff.diff"),
        "cdc.orchestrator.table_s": dur("cdc.orchestrator.pull_cycle"),
        "cdc.orchestrator.failed_tables": sum(s["attrs"]["failed"] for s in pulls),
        "spark.scheduler_delay_s": stats(commits)["slot_wait_s"] / n,
        "operators.dedup.exact_s": dur("operators.dedup.exact"),
        "operators.dedup.minhash_lsh_s": dur("operators.dedup.minhash_lsh"),
        "operators.similarity.lsh_topk_s": dur("operators.similarity.lsh_topk"),
        "functions.text.quality_s": dur("functions.text.quality"),
    }
    m.update(extra)
    return {name: {"value": float(m.get(name, 0.0)), "unit": unit} for name, unit, _ in PER_LAYER}


def traced(w, seconds: float, event_dir: str, spans_out: str) -> tuple[dict, dict]:
    """Untraced window, traced window, oracle checks, replays; then stop
    the session so the event log is complete, and fold everything into
    the per-layer metrics."""
    w.window(seconds)
    eps_plain = w.events / sum(w.commit_s)
    w.reset_samples()
    tracer = Tracer(w.spark.sparkContext)
    install(tracer)
    w.tracer = tracer
    try:
        w.window(seconds)
        eps_traced = w.events / sum(w.commit_s)
        w.verify()
        extra = {"tracing.overhead_ratio": eps_traced / eps_plain}
        extra.update(replay_functions(w, tracer))
        extra.update(replay_operators(w, tracer))
        extra.update(w.layer_counts())
    finally:
        tracer.restore()
        w.tracer = None
    if hasattr(w, "replay_fresh"):
        extra["cdc.engine.speedup_1_to_4"] = speedup_1_to_4(w)
    w.spark.stop()
    groups = arith.attribute_stages(read_event_log(event_dir))
    tracer.dump(spans_out)
    metrics = layer_metrics(tracer, groups, extra)
    detail = {
        "spans": len(tracer.spans),
        "span_names": sorted({s["name"] for s in tracer.spans}),
        "eps_untraced": eps_plain,
        "eps_traced": eps_traced,
    }
    return metrics, detail
