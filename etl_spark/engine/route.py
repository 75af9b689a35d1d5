"""Multi-entity routing: one shared changelog -> N lake tables.

The reference fans 18 Kafka topics into ~16 ClickHouse tables with one
hand-written consumer + handler per topic
(/root/reference/src/pipeline/core/client_clickhouse.py:39-58,
spark.py topic handlers). Here the engine is a single parameterized
pipeline, so N entities are N `SourceSpec`s applied to one streaming
query: each micro-batch is split on the route column and applied to
each entity's table through the identical `apply_batch` path (ledger
key is per-entity, so a crash replay is idempotent per table).

Scale note: the split is a column filter per entity over one shared
scan (the batch is persisted once); each entity's merge then shuffles
only its own rows. A hot entity dominating the log behaves exactly
like a hot key family — its merge is the one that fans out, the
others stay small.

LSN-density contract: `lineage.check_invariants` gap detection assumes
a dense LSN sequence. With ONE shared changelog carrying a single
global LSN sequence, each entity's ledger sees a sparse subset, so the
gap check must run on the UNION of all routes' manifests
(`check_invariants(spark, [route.manifest_dir, ...])` — the union
restores density), never per-entity. Per-entity check_invariants is
valid only when each entity carries its own dense LSN space (the
per-topic-WAL deployment shape).
"""

from __future__ import annotations

import concurrent.futures

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from etl_spark.cdc_schema import SchemaOp, SourceSpec
from etl_spark.config import EngineConfig
from etl_spark.engine.apply import apply_batch
from etl_spark.engine.indexes import refresh_derived, validate_disjoint_derived_state
from etl_spark.engine.stream import await_bounded
from etl_spark.lake.table import spark_type

Route = tuple[EngineConfig, list[SchemaOp], SourceSpec]

ENTITY_COL = "entity"


def routed_binlog_schema(
    routes: dict[str, Route], entity_col: str = ENTITY_COL
) -> T.StructType:
    """Physical schema of the shared log: envelope + route column +
    the union of every entity's key columns (nullable — an event
    carries only its own entity's keys). Colliding key names must
    agree on type."""
    fields = [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField(entity_col, T.StringType(), False),
    ]
    seen: dict[str, str] = {}
    for _, (_, _, spec) in sorted(routes.items()):
        types = dict(spec.base_fields)
        for k in spec.key:
            if k in seen:
                if seen[k] != types[k]:
                    raise ValueError(
                        f"key column {k!r} has conflicting types across routes: "
                        f"{seen[k]} vs {types[k]}"
                    )
                continue
            seen[k] = types[k]
            fields.append(T.StructField(k, spark_type(types[k]), True))
    fields += [
        T.StructField("op_ts", T.TimestampType(), False),
        T.StructField("schema_version", T.IntegerType(), False),
        T.StructField("payload", T.StringType(), True),
    ]
    return T.StructType(fields)


def apply_batch_routed(
    spark: SparkSession,
    routes: dict[str, Route],
    batch_df: DataFrame,
    batch_id: int,
    entity_col: str = ENTITY_COL,
    unrouted: str = "error",
    max_concurrency: int = 4,
) -> None:
    """Split one micro-batch by route column and apply each slice to
    its entity's table. File footer stats don't apply to a filtered
    slice of shared files, so per-entity batch stats come from ONE
    combined aggregation over the persisted batch (grouped by the
    route column) instead of N slim aggregation jobs — one stats job
    per batch regardless of entity count (the reference fans out to
    ~18 topics; N jobs/batch was the round-2 cost).

    The per-entity applies run CONCURRENTLY from driver threads (up
    to `max_concurrency`): the targets are disjoint tables, so the
    applies share no table state, and Spark's scheduler interleaves
    their jobs — entity A's driver-side planning/commit windows
    overlap entity B's executor work instead of serializing N
    per-apply fixed costs per batch (measured: 4
    sequential 1M-event applies left a ~10 s serial fraction per
    batch at 4 cores — scaling efficiency 0.776; concurrent applies
    recover it). Any apply failure fails the whole epoch loud (the
    others are joined first; ledger idempotency makes the replay
    safe). `max_concurrency=1` restores strictly sequential applies.

    Partitioning: footer stats don't apply to slices, so apply_batch's
    n_src_files heuristic can't see the source width — left alone,
    EVERY entity slice would pay a raw-payload repartition (N raw
    shuffles per batch). Instead the SHARED batch is widened ONCE
    (round-robin, only when the source delivered fewer partitions than
    shuffle width) before the persist, and each apply gets
    input_partitioned=True: the per-entity resolve aggregation's own
    exchange then moves parsed, partial-agg-collapsed rows — strictly
    smaller than raw JSON payloads."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if batch_df.rdd.getNumPartitions() < width:
        batch_df = batch_df.repartition(width)
    batch_df = batch_df.persist()
    try:
        stat_rows = (
            batch_df.groupBy(entity_col)
            .agg(
                F.min("lsn").alias("min_lsn"),
                F.max("lsn").alias("max_lsn"),
                F.count("*").alias("events_in"),
                F.min("schema_version").alias("vmin"),
                F.max("schema_version").alias("vmax"),
                F.count("schema_version").alias("vset"),
            )
            .collect()
        )
        by_entity = {
            r[entity_col]: {
                "min_lsn": int(r["min_lsn"]),
                "max_lsn": int(r["max_lsn"]),
                "events_in": int(r["events_in"]),
                # min/max ignore NULLs (an all-NULL schema_version
                # slice yields None here) and vnull counts them;
                # apply_batch diverts such events to the DLQ
                # (quarantine configured) or fails loud — never a
                # TypeError before the screen runs
                "vmin": None if r["vmin"] is None else int(r["vmin"]),
                "vmax": None if r["vmax"] is None else int(r["vmax"]),
                "vnull": int(r["events_in"]) - int(r["vset"]),
            }
            for r in stat_rows
        }
        # Unknown entities are DATA LOSS if silently skipped (a new
        # producer topic, or a route-name typo): the loop below only
        # visits configured routes. Fail loud by default; "ignore" is
        # the explicit allowlist mode for sources that share the log
        # with consumers this job does not own.
        unknown = sorted(set(by_entity) - set(routes))
        if unknown and unrouted == "error":
            raise ValueError(
                f"batch {batch_id} carries unrouted entities {unknown} "
                f"(configured: {sorted(routes)}); pass unrouted='ignore' "
                f"to allowlist-skip them"
            )
        empty = {"min_lsn": 0, "max_lsn": 0, "events_in": 0,
                 "vmin": None, "vmax": None, "vnull": 0}

        def _apply_one(name: str) -> None:
            cfg, ops, spec = routes[name]
            keep = ["lsn", "op", *spec.key, "op_ts", "schema_version", "payload"]
            sub = batch_df.filter(F.col(entity_col) == F.lit(name)).select(*keep)
            apply_batch(
                spark,
                cfg,
                ops,
                sub,
                batch_id,
                source_id=f"cdc-{name}",
                spec=spec,
                footer_stats=False,
                stats_override=by_entity.get(name, empty),
                input_partitioned=True,
            )

        names = sorted(routes)
        if max_concurrency <= 1 or len(names) == 1:
            for name in names:
                _apply_one(name)
        else:
            with concurrent.futures.ThreadPoolExecutor(
                max_workers=min(max_concurrency, len(names)),
                thread_name_prefix=f"route-b{batch_id}",
            ) as pool:
                futs = {pool.submit(_apply_one, n): n for n in names}
                errs = []
                for fut in concurrent.futures.as_completed(futs):
                    try:
                        fut.result()
                    except BaseException as e:  # join ALL before raising
                        errs.append((futs[fut], e))
                if errs:
                    errs.sort(key=lambda x: x[0])
                    name, first = errs[0]
                    raise RuntimeError(
                        f"batch {batch_id}: apply failed for route(s) "
                        f"{[n for n, _ in errs]}; first error ({name}) follows"
                    ) from first
    finally:
        batch_df.unpersist()


def run_replay_routed(
    spark: SparkSession,
    segments_dir: str,
    routes: dict[str, Route],
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    entity_col: str = ENTITY_COL,
    unrouted: str = "error",
    max_concurrency: int = 4,
) -> None:
    """Bounded replay of a shared multi-entity log into every route's
    table: one streaming query, one checkpoint, N ledgered targets.
    Per-entity applies within a batch run concurrently (disjoint
    tables — see apply_batch_routed; `max_concurrency=1` for strictly
    sequential).

    Watermark dedup: if ANY route's config enables
    `use_watermark_dedup`, the SHARED stream dedups on
    (entity, lsn) — LSNs are unique within an entity's log — before
    the split, under one watermark (mixed watermark strings across
    flagged routes are a config error).

    Like `run_replay`, each route whose `index_refresh_every_batches`
    is > 1 refreshes its indexes and MVs once more after the stream
    ends."""
    # concurrent per-entity applies refresh derived state (indexes/
    # MVs) from driver threads — shared dirs across routes would be
    # silent corruption, so refuse them before any work starts
    validate_disjoint_derived_state(cfg for cfg, _, _ in routes.values())
    stream = (
        spark.readStream.schema(routed_binlog_schema(routes, entity_col))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(segments_dir)
    )
    marks = {cfg.watermark for cfg, _, _ in routes.values() if cfg.use_watermark_dedup}
    if len(marks) > 1:
        raise ValueError(
            f"use_watermark_dedup routes disagree on the watermark: {sorted(marks)}"
        )
    if marks:
        stream = stream.withWatermark("op_ts", next(iter(marks)))
        stream = stream.dropDuplicatesWithinWatermark([entity_col, "lsn"])
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: apply_batch_routed(
                spark, routes, df, bid, entity_col,
                unrouted=unrouted, max_concurrency=max_concurrency,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(spark, q)
    for cfg, _, _ in routes.values():
        if cfg.index_refresh_every_batches > 1:
            refresh_derived(spark, cfg)
