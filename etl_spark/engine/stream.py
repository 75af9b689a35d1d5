"""Structured Streaming binlog tail -> foreachBatch apply.

One streaming query replaces the reference's consumer threads + 30 s
poll loop + per-file batch jobs (/root/reference/src/pipeline/core/
kafka_multi_consumer.py:100-139, client_clickhouse.py:177-206): the
file source's own listing + offset log in the checkpoint is the
incremental scan the reference hand-rolled with a bucket listing and
`loaded_files` set-diff. In production the source line swaps to
`format("kafka")`; everything downstream is unchanged.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

from pyspark.sql import DataFrame, functions as F

from etl_spark.cdc_schema import TRANSCRIPTS, SchemaOp, SourceSpec
from etl_spark.config import EngineConfig
from etl_spark.engine.apply import apply_batch
# unused: the perfbench tracer wraps this name (see its no-op docstring)
from etl_spark.engine.apply import drain_pending  # noqa: F401
from etl_spark.engine.indexes import refresh_derived, validate_disjoint_derived_state
from etl_spark.lake.table import spark_type


def binlog_from_kafka(df: DataFrame, spec: SourceSpec = TRANSCRIPTS) -> DataFrame:
    """Adapt a Kafka-shaped frame — the exact `format("kafka")` output
    schema (key/value binary, topic, partition, offset, timestamp,
    timestampType; reference consumer:
    /root/reference/src/pipeline/core/kafka_multi_consumer.py:39-46) —
    onto the engine's binlog frame. The message value is a JSON
    envelope {lsn, op, <key cols>, schema_version, payload:{...}}; the
    nested payload object is kept as its raw JSON text (version-routed
    decode happens downstream in parse_batch, exactly as for the file
    source). One `json_tuple` parse per row, all JVM expressions.

    Production swap: `spark.readStream.format("kafka")...load()` then
    `binlog_from_kafka(stream, spec)`; everything downstream of the
    source line is unchanged.
    """
    v = F.col("value").cast("string")
    fields = ["lsn", "op", *spec.key, "schema_version", "payload"]
    parsed = df.select(
        F.col("timestamp").alias("op_ts"),
        F.json_tuple(v, *fields).alias(*[f"_j{i}" for i in range(len(fields))]),
    )
    types = dict(spec.base_fields)
    cols = [
        F.col("_j0").cast("long").alias("lsn"),
        F.col("_j1").alias("op"),
    ]
    for i, k in enumerate(spec.key):
        cols.append(F.col(f"_j{2 + i}").cast(spark_type(types[k])).alias(k))
    cols += [
        F.col("op_ts"),
        F.col(f"_j{2 + len(spec.key)}").cast("int").alias("schema_version"),
        F.col(f"_j{3 + len(spec.key)}").alias("payload"),
    ]
    return parsed.select(*cols)


def await_bounded(spark: SparkSession, q) -> None:
    """Wait for a bounded (availableNow) query to stop, then for Spark's
    listener bus to hand every event the query posted to its
    listeners. The query posts its last progress event before it
    terminates, but a `StreamingQueryListener` receives it
    asynchronously (about 0.1 s later on a 4-core host): without the
    wait, a caller that reads its listener right after the replay
    misses the last batch, and the listener sees it during the next
    replay instead. A listener still busy after 10 s does not fail the
    replay."""
    q.awaitTermination()
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Py4JJavaError:
        pass


def run_replay(
    spark: SparkSession,
    segments_dir: str,
    cfg: EngineConfig,
    ops: list[SchemaOp],
    available_now: bool = True,
    processing_time: str = "1 second",
    spec: SourceSpec = TRANSCRIPTS,
) -> None:
    """Tail the binlog segment directory and apply every micro-batch.
    `available_now=True` = bounded replay (drain all segments, then
    stop); False = continuous tail. Resumable: offsets live in the
    checkpoint, applied state in the lake manifest ledger.

    With `index_refresh_every_batches` > 1, a bounded replay refreshes
    the spec'd indexes and MVs once more after the last batch, so the
    batches after the last cadence point are not left out. The
    continuous tail returns the running query; a caller who stops it
    owns that final refresh (`engine.indexes.refresh_derived(spark,
    cfg)`)."""
    # refuse colliding index roots / MV dirs / table root before any work
    validate_disjoint_derived_state([cfg])
    stream = (
        spark.readStream.schema(spec.binlog_schema())
        .option("maxFilesPerTrigger", cfg.max_files_per_trigger)
        .parquet(segments_dir)
    )
    if cfg.use_watermark_dedup:
        # cross-batch duplicate suppression within the watermark horizon;
        # anything later than the horizon is still caught by the MERGE
        # LSN guard (idempotent upsert), so correctness never depends on
        # the watermark — only state size does.
        stream = stream.withWatermark("op_ts", cfg.watermark)
        stream = stream.dropDuplicatesWithinWatermark(list(spec.key) + ["lsn"])

    writer = stream.writeStream.foreachBatch(
        lambda df, bid: apply_batch(spark, cfg, ops, df, bid, spec=spec)
    ).option("checkpointLocation", cfg.checkpoint_dir)
    if available_now:
        await_bounded(spark, writer.trigger(availableNow=True).start())
        if cfg.index_refresh_every_batches > 1:
            refresh_derived(spark, cfg)
    else:
        # continuous tail: caller owns the query (and the final
        # derived-state refresh after q.stop())
        q = writer.trigger(processingTime=processing_time).start()
        return q
