"""Structured Streaming wrappers: file-source event tail → CDC apply.

The reference's polling loop (``db_pipeline.py:75-94``: ``while True:
sync; sleep(INTERVAL)``) and its watchdog staging-file watcher
(``pipeline_management.py:1669-1707``) are both subsumed by Spark's
streaming file source + trigger. Exactly-once composition: Spark's
streaming checkpoint gives at-least-once foreachBatch invocation; the
engine's batch-id idempotence (epoch id) turns that into exactly-once —
the standard ``foreachBatch`` + idempotent-sink pattern.

The windowed rollup shows watermark + tumbling-window aggregation (the
streaming analog of per-batch metrics; C6 in SURVEY.md §2.10 — absent in
the reference, first-class here).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from patuha_etl_dlt_spark.cdc.engine import CdcEngine
from patuha_etl_dlt_spark.cdc.envelope import OP


def _foreach_batch(
    spark: SparkSession,
    feed_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    trigger_once: bool,
    app_id: str | None,
    prefix: str,
    apply,
) -> StreamingQuery:
    """Tail ``feed_dir`` and hand each micro-batch to ``apply(df,
    batch_id=...)`` with batch id ``{prefix}-{app_id}-epoch-{epoch}``;
    ``app_id`` defaults to a hash of the checkpoint location."""
    if app_id is None:
        app_id = hashlib.sha1(checkpoint_dir.encode()).hexdigest()[:12]

    def each(batch_df: DataFrame, epoch_id: int) -> None:
        apply(batch_df, batch_id=f"{prefix}-{app_id}-epoch-{epoch_id}")

    w = (
        spark.readStream.schema(schema).parquet(feed_dir)
        .writeStream.foreachBatch(each)
        .option("checkpointLocation", checkpoint_dir)
    )
    w = w.trigger(availableNow=True) if trigger_once else w.trigger(processingTime="10 seconds")
    return w.start()


def stream_events_into(
    engine: CdcEngine,
    spark: SparkSession,
    feed_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    trigger_once: bool = True,
    app_id: str | None = None,
) -> StreamingQuery:
    """Tail a directory of event files and apply each micro-batch through
    the engine. Batch id = (stream app id, epoch id) — the Delta txnAppId
    pattern — so a replayed epoch (after a streaming-checkpoint rollback)
    is a no-op, while two different streams feeding one table can never
    collide on bare epoch numbers. ``app_id`` defaults to a hash of the
    checkpoint location; pass a NEW explicit ``app_id`` if you delete and
    recreate the streaming checkpoint (epochs restart at 0 and would
    otherwise be skipped as already-applied)."""
    return _foreach_batch(
        spark, feed_dir, schema, checkpoint_dir, trigger_once, app_id, "stream",
        engine.apply_batch,
    )


def stream_rollup_into(
    rollup,
    spark: SparkSession,
    feed_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    trigger_once: bool = True,
    app_id: str | None = None,
) -> StreamingQuery:
    """Maintain an ``IncrementalRollup`` from a streaming file tail:
    each micro-batch's partial aggregates are folded exactly-once (same
    txnAppId-style batch ids as ``stream_events_into``). The streaming
    analog of a continuously-maintained materialized view."""
    return _foreach_batch(
        spark, feed_dir, schema, checkpoint_dir, trigger_once, app_id, "rollup",
        rollup.apply_batch,
    )


def hourly_rollup_stream(
    spark: SparkSession,
    feed_dir: str,
    schema: T.StructType,
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
    window: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window rollup over the event stream (late data
    beyond the watermark is dropped deterministically)."""
    src = spark.readStream.schema(schema).parquet(feed_dir)
    return (
        src.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(OP))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("window_start"), OP, "n")
    )
