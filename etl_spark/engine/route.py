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
scan (the batch is persisted once, in the source's partitioning);
each entity's merge then shuffles only its own rows, once, in its
resolve aggregation's exchange. A hot entity dominating the log
behaves exactly like a hot key family — its merge is the one that
fans out, the others stay small.

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

from etl_spark.cdc_schema import SchemaOp, SourceSpec, binlog_envelope
from etl_spark.config import EngineConfig
from etl_spark.engine.apply import _EMPTY_STATS, _stats_from_agg, apply_batch
from etl_spark.engine.indexes import refresh_derived, validate_disjoint_derived_state
from etl_spark.engine.stream import await_bounded

# driver threads applying one batch's routes concurrently
ROUTE_POOL_WIDTH = 4

Route = tuple[EngineConfig, list[SchemaOp], SourceSpec]

ENTITY_COL = "entity"


def routed_binlog_schema(
    routes: dict[str, Route], entity_col: str = ENTITY_COL
) -> T.StructType:
    """Physical schema of the shared log: the `SourceSpec` binlog
    envelope around the route column and the union of every entity's
    key columns (nullable — an event carries only its own entity's
    keys). Colliding key names must agree on type."""
    keys: dict[str, T.StructField] = {}
    for _, (_, _, spec) in sorted(routes.items()):
        for f in spec.binlog_schema():
            if f.name not in spec.key:
                continue
            seen = keys.setdefault(f.name, T.StructField(f.name, f.dataType, True))
            if seen.dataType != f.dataType:
                raise ValueError(
                    f"key column {f.name!r} has conflicting types across routes: "
                    f"{seen.dataType.simpleString()} vs {f.dataType.simpleString()}"
                )
    route = T.StructField(entity_col, T.StringType(), False)
    return binlog_envelope([route, *keys.values()])


def apply_batch_routed(
    spark: SparkSession,
    routes: dict[str, Route],
    batch_df: DataFrame,
    batch_id: int,
    entity_col: str = ENTITY_COL,
    unrouted: str = "error",
) -> None:
    """Split one micro-batch by route column and apply each slice to
    its entity's table. File footer stats don't apply to a filtered
    slice of shared files, so per-entity batch stats come from
    `apply._stats_from_agg` grouped by the route column — the same
    aggregation a non-streaming `apply_batch` runs, as ONE job over
    the persisted batch rather than N (the reference fans out to ~18
    topics; N jobs/batch was the round-2 cost). Each slice's stats
    reach `apply_batch` as `stats_override`.

    The per-entity applies run CONCURRENTLY from driver threads (up
    to `ROUTE_POOL_WIDTH`; a single route applies inline): the
    targets are disjoint tables, so the applies share no table
    state, and Spark's scheduler interleaves their jobs — entity A's
    driver-side planning/commit windows overlap entity B's executor
    work instead of serializing N per-apply fixed costs per batch
    (measured: 4 sequential 1M-event applies left a ~10 s serial
    fraction per batch at 4 cores — scaling efficiency 0.776;
    concurrent applies recover it). Any apply failure fails the
    whole epoch loud (the others are joined first; ledger idempotency
    makes the replay safe).

    Each slice keeps the source's partitioning: its resolve
    aggregation's own exchange is its only shuffle, and it moves
    parsed, partially aggregated rows rather than raw payloads."""
    batch_df = batch_df.persist()
    try:
        by_entity = _stats_from_agg(batch_df, by=entity_col)
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
                stats_override=by_entity.get(name, _EMPTY_STATS),
            )

        names = sorted(routes)
        if len(names) == 1:
            _apply_one(names[0])
        else:
            with concurrent.futures.ThreadPoolExecutor(
                max_workers=min(ROUTE_POOL_WIDTH, len(names)),
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
) -> None:
    """Bounded replay of a shared multi-entity log into every route's
    table: one streaming query, one checkpoint, N ledgered targets.
    Per-entity applies within a batch run concurrently (disjoint
    tables — see apply_batch_routed).

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
                spark, routes, df, bid, entity_col, unrouted=unrouted
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
