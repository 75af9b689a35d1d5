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

from pyspark.sql import SparkSession

from pyspark.sql import DataFrame, functions as F

from etl_spark.cdc_schema import TRANSCRIPTS, SchemaOp, SourceSpec
from etl_spark.config import EngineConfig
from etl_spark.engine.apply import apply_batch, drain_pending, reconcile_lineage
from etl_spark.engine.indexes import validate_disjoint_derived_state
from etl_spark.lake.table import spark_type


def binlog_from_kafka(df: DataFrame, spec: SourceSpec = TRANSCRIPTS) -> DataFrame:
    """Adapt a Kafka-shaped frame — the exact `format("kafka")` output
    schema (key/value binary, topic, partition, offset, timestamp,
    timestampType; reference consumer:
    /root/reference/src/pipeline/core/kafka_multi_consumer.py:39-46) —
    onto the engine's binlog frame. The message value is a JSON
    envelope {lsn, op, <key cols>, schema_version, payload:{...}}; the
    nested payload object is kept as its raw JSON text (version-routed
    decode happens downstream in parse_events, exactly as for the file
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
    checkpoint, applied state in the lake manifest ledger."""
    # refuse colliding index roots / MV dirs / table root before any work
    validate_disjoint_derived_state([cfg])
    # heal the async-lineage crash window (epoch committed, lineage
    # write lost) before the engine starts skipping committed batches
    reconcile_lineage(spark, cfg, ops, spec=spec)
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
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        drain_pending(cfg.table_root)  # join the last batch's lineage
    else:
        # continuous tail: caller owns the query; stop with
        # q.stop() then drain_pending(cfg.table_root)
        q = writer.trigger(processingTime=processing_time).start()
        return q


def streaming_window_metrics(
    stream: DataFrame,
    window: str = "1 day",
    watermark: str = "10 minutes",
    by_op: bool = True,
) -> DataFrame:
    """Tumbling-window operational metrics over the binlog stream:
    change-event counts (and per-op splits) per `window` of commit
    time, with a watermark so the state store finalizes and evicts
    windows once `op_ts` passes window_end + watermark. Append output
    mode: a window row is emitted exactly once, when it finalizes —
    the shape a metrics sink (dashboard table, alerting topic) wants.

    This is the §2.8 'windows' cell as a real streaming aggregation
    (the reference precomputes daily grains upstream of its pipeline,
    /root/reference/src/pipeline/README.md "Metrics Events" — there is
    no windowing operator at all in its engine). State is O(open
    windows x ops): the watermark bounds it regardless of stream
    length, and a late event below the watermark is DROPPED from the
    aggregation by design — metrics tolerate bounded loss; the exact
    path for late data is the lineage ledger, which counts every
    applied LSN exactly once however late it arrives. (Drop timing
    follows Spark's two-watermark semantics, SPARK-40925: the late
    filter uses the PREVIOUS batch's watermark, eviction the current
    one — so a late row landing in the same batch as its window's
    eviction still merges, and only strictly later arrivals drop;
    tests/test_window_metrics.py pins both cases.)
    """
    keys = [F.window(F.col("op_ts"), window).alias("w")]
    if by_op:
        keys.append(F.col("op"))
    agg = (
        stream.withWatermark("op_ts", watermark)
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n_events"),
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
        )
    )
    cols = [
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
    ]
    if by_op:
        cols.append(F.col("op"))
    return agg.select(*cols, "n_events", "min_lsn", "max_lsn")
