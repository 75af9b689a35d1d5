"""Per-micro-batch apply: parse-by-version -> normalize -> dedup ->
max-LSN resolve -> schema-evolve -> MERGE -> lineage.

This single function replaces the reference's whole apply loop —
list bucket / registry diff / per-file SparkSession / select-alias-cast
/ append + per-row-update (/root/reference/src/pipeline/core/
client_clickhouse.py:154-206 and spark.py:28-189) — as the
foreachBatch body of one Structured Streaming query.

Exactly-once: Spark may re-run a batch_id after a crash; idempotence
comes from (a) the lake manifest's committed-batch ledger (a replayed
batch_id is a no-op commit), (b) the MERGE LSN-monotonicity guard, and
(c) lineage written per batch_id with atomic overwrite (SURVEY.md
§7.2). Lineage is written in-batch, right after the MERGE, and the
epoch commits only once this function returns. A crash between the
two commits leaves an uncommitted epoch; Spark replays it, and the
replay finds the ledger entry without a lineage file, so it recomputes
and rewrites the lineage — the MERGE itself stays a no-op.

Per-batch fixed-cost budget (the non-scaling `c` term that caps
scaling efficiency): ONE MERGE write action runs the whole parse ->
normalize -> resolve pipeline over a single scan of the batch, plus
one small aggregation over the persisted resolved set (lineage
rollup, <= num_buckets result rows, written driver-side). Adaptive
execution submits each shuffle-map stage as a job of its own, so the
traced `replay_bulk` benchmark run (perfbench/) counts 6 Spark jobs
per MoR batch: 4 under the MERGE, ending with the staging write, and
2 for the lineage rollup. Parse and normalize run in the source's
partitioning, so the resolve aggregation's own exchange is the
batch's one shuffle. (A per-version Union parse counted 10 there:
every schema version in the batch added its own raw-exchange job.)
Batch stats have two producers: the parquet footers of the files the
checkpoint offset log lists for the batch (driver-side, no job), and
otherwise `_stats_from_agg` (one slim aggregation job).
"""

from __future__ import annotations

import os
import time
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, functions as F, types as T

from etl_spark.cdc_schema import (
    BASE_VERSION,
    TRANSCRIPTS,
    SchemaOp,
    SourceSpec,
    fields_at_version,
    payload_fields,
)
from etl_spark.config import EngineConfig
from etl_spark.engine import lineage
from etl_spark.engine.indexes import refresh_derived
from etl_spark.engine.normalize import normalize_text
from etl_spark.engine.quarantine import max_known_version, quarantine_split
from etl_spark.engine.resolve import resolve_max_lsn, resolve_patch_fold
from etl_spark.lake.merge import merge_into
from etl_spark.lake.table import LakeTable, Manifest, spark_type


def drain_pending(table_root: str) -> None:
    """No-op: lineage is written inside `apply_batch`, so nothing is
    ever in flight. The name survives only because the benchmark
    tracer (perfbench/layers.py) wraps `engine.apply.drain_pending` and
    `engine.stream.drain_pending` for its `lineage.drain_wait_s`
    metric; it goes away with that wrap in the next benchmark change."""


def parse_batch(
    batch_df: DataFrame,
    ops: list[SchemaOp],
    target_version: int,
    versions: list[int],
    spec: SourceSpec = TRANSCRIPTS,
    with_set_flags: bool = False,
) -> DataFrame:
    """The parse and normalize steps of `apply_batch`: decode the JSON
    payload by each event's schema_version and project every event onto
    the `target_version` schema, mapping payload fields to target
    columns by stable field ID (rename-safe) and casting widened types
    (epoch-sec long -> timestamp; ISO string -> timestamp), then
    normalize the text column (Arrow pandas UDF, one ArrowEvalPython
    over the batch; D rows keep null). A spec with
    `normalize_field_id = None` skips normalization.

    One pass over the batch, whatever the number of versions: a filter
    keeps the events of `versions`, a first projection decodes each row
    once under its own version's struct (`_p<v>` is
    `CASE WHEN schema_version = v THEN from_json(payload, struct_v)`;
    CASE is lazy per row, so other versions' structs are never
    parsed), and a second projection routes every target column by
    schema_version. The plan keeps one scan, so an upstream exchange
    and a downstream UDF stage run once per batch, not once per
    version.

    `with_set_flags=True` (the partial-image/patch path) additionally
    emits one boolean `_set_<col>` per target payload column: for full
    images (op I/U/D) every flag is true; for op 'P' a flag is true
    iff the payload's `_changed` mask names that column — in the
    WRITER-version field name, so a patch written before a rename
    still targets the right column (the mask is matched against the
    version's field name, the value mapped by stable field ID).
    A column that does not exist at the writer's version is unset for
    patches (a patch cannot assign a field its schema didn't have)."""
    target = [
        f
        for f in fields_at_version(ops, target_version, spec.base_fields)
        if f.name not in spec.key
    ]
    target_by_id = {f.id: f for f in target}
    ver = F.col("schema_version")
    is_full = F.col("op") != F.lit("P")

    decoded = []
    # per target field ID: [(version, routed value, patch-mask test)]
    routes: dict[int, list[tuple[int, Column, Column]]] = {f.id: [] for f in target}
    for v in versions:
        pf = payload_fields(ops, v, spec)
        struct_fields = [T.StructField(f.name, spark_type(f.type), True) for f in pf]
        if with_set_flags:
            # the patch mask rides inside the payload JSON (Debezium
            # envelope style): the list of writer-version field names
            # the patch assigns
            struct_fields.append(
                T.StructField("_changed", T.ArrayType(T.StringType()), True)
            )
        p = f"_p{v}"
        decoded.append(
            F.when(ver == v, F.from_json(F.col("payload"), T.StructType(struct_fields))).alias(p)
        )
        changed = F.coalesce(F.col(f"{p}._changed"), F.array().cast("array<string>"))
        for src in pf:
            tf = target_by_id.get(src.id)
            if tf is None:
                continue
            c = F.col(f"{p}.{src.name}")
            if tf.type == "timestamp" and src.type == "string":
                c = F.to_timestamp(c)
            elif src.type != tf.type:
                c = c.cast(spark_type(tf.type))
            routes[tf.id].append((v, c, F.array_contains(changed, F.lit(src.name))))

    cols = [F.col(k) for k in spec.key] + [F.col("lsn"), F.col("op"), F.col("op_ts")]
    for tf in target:
        branches = routes[tf.id]
        if not branches:
            cols.append(F.lit(None).cast(spark_type(tf.type)).alias(tf.name))
            if with_set_flags:
                cols.append(is_full.alias(f"_set_{tf.name}"))
            continue
        value = mask = None
        for v, c, m in branches:
            value = F.when(ver == v, c) if value is None else value.when(ver == v, c)
            mask = F.when(ver == v, m) if mask is None else mask.when(ver == v, m)
        cols.append(value.alias(tf.name))
        if with_set_flags:
            # a version without this field leaves the mask test NULL:
            # unset for patches, as if the field were never named
            cols.append((is_full | mask.otherwise(F.lit(False))).alias(f"_set_{tf.name}"))

    parsed = (
        batch_df.filter(ver.isin(*versions))
        .select(*[F.col(k) for k in spec.key], "lsn", "op", "op_ts", "schema_version", *decoded)
        .select(*cols)
    )
    text_col = next(
        (tf.name for tf in target if tf.id == spec.normalize_field_id), None
    )
    if text_col is None:
        return parsed
    return parsed.withColumn(text_col, normalize_text(F.col(text_col)))


def evolve_due_ops(
    table: LakeTable, ops: list[SchemaOp], max_lsn: int, m: Manifest
) -> Manifest:
    """Apply schema ops that take effect at or before `max_lsn` and are
    not yet in snapshot `m`'s schema. Idempotent across batch replays:
    the table's schema_id tracks how many ops are applied (schema_id 0
    = base). Returns the post-evolve snapshot: the one the last op
    committed, or `m` when no op was due."""
    applied = m.schema.schema_id  # == number of ops applied
    due = [o for o in sorted(ops, key=lambda o: o.version) if o.lsn <= max_lsn]
    for op in due[applied:]:
        if op.kind == "add_column":
            m = table._add_column(op.col, op.new_type)
        elif op.kind == "rename_column":
            m = table._rename_column(op.col, op.new_name)
        elif op.kind == "widen_type":
            m = table._widen_type(op.col, op.new_type)
        else:
            raise ValueError(op.kind)
    return m


def _batch_files_from_checkpoint(checkpoint_dir: str, batch_id: int) -> list[str]:
    """The streaming file source's offset log records exactly the
    files added in each micro-batch (`<ckpt>/sources/0/<batch_id>`,
    one JSON entry per file). Every `compactInterval`-th batch is
    written as `<batch_id>.compact` instead, containing ALL entries so
    far tagged with their batchId — filter to this batch's. Reading it
    is a driver-side O(#files) metadata lookup. Returns [] when
    unavailable (non-streaming frame or a non-file source)."""
    import json

    path = os.path.join(checkpoint_dir, "sources", "0", str(batch_id))
    compacted = False
    if not os.path.exists(path):
        path = path + ".compact"
        compacted = True
        if not os.path.exists(path):
            return []
    out = []
    try:
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    if "path" not in entry:
                        continue
                    if compacted and entry.get("batchId") != batch_id:
                        continue
                    out.append(entry["path"])
    except Exception:
        return []
    return out


# batch stats of an empty batch; `vnull` counts NULL schema_versions
_EMPTY_STATS = {"min_lsn": 0, "max_lsn": 0, "events_in": 0, "vmin": None, "vmax": None, "vnull": 0}


def _stats_from_footers(files: list[str]) -> dict | None:
    """Batch stats (min/max lsn, row count, schema_version range and
    NULL count) from the parquet footers of the files the checkpoint
    offset log lists for a micro-batch — driver-side metadata reads,
    O(#files), no Spark job. A streaming file-source micro-batch is a
    set of whole files, so their row-group statistics describe the
    batch exactly. Returns None (caller aggregates) when there are no
    files or a footer lacks the statistics."""
    if not files:
        return None
    import pyarrow.parquet as pq

    tot = 0
    vnull = 0
    mn = mx = vmn = vmx = None
    for uri in files:
        path = unquote(urlparse(uri).path) if "://" in uri or uri.startswith("file:") else uri
        try:
            md = pq.ParquetFile(path).metadata
        except Exception:
            return None
        tot += md.num_rows
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if "lsn" not in names or "schema_version" not in names:
            return None
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            s_lsn = row_group.column(names["lsn"]).statistics
            s_ver = row_group.column(names["schema_version"]).statistics
            if (
                s_lsn is None
                or s_ver is None
                or not s_lsn.has_min_max
                or not s_ver.has_min_max
                or not s_ver.has_null_count
            ):
                return None
            vnull += s_ver.null_count
            mn = s_lsn.min if mn is None else min(mn, s_lsn.min)
            mx = s_lsn.max if mx is None else max(mx, s_lsn.max)
            vmn = s_ver.min if vmn is None else min(vmn, s_ver.min)
            vmx = s_ver.max if vmx is None else max(vmx, s_ver.max)
    if tot == 0:
        return dict(_EMPTY_STATS)
    return {
        "min_lsn": int(mn),
        "max_lsn": int(mx),
        "events_in": int(tot),
        "vmin": int(vmn),
        "vmax": int(vmx),
        "vnull": int(vnull),
    }


def _stats_from_agg(batch_df: DataFrame, by: str | None = None) -> dict:
    """Batch stats from the rows themselves: one slim aggregation
    action (min/max/count only — no distinct expansion, no
    collect_set; those ride the resolve aggregation as per-key
    counts). With `by`, one grouped action returns {group value:
    stats} — the routed path's per-entity stats, one job for N
    entities. min/max ignore NULLs (an all-NULL schema_version batch
    yields None) and `vnull` counts them."""
    aggs = [
        F.min("lsn").alias("min_lsn"),
        F.max("lsn").alias("max_lsn"),
        F.count("*").alias("events_in"),
        F.min("schema_version").alias("vmin"),
        F.max("schema_version").alias("vmax"),
        F.count("schema_version").alias("vset"),
    ]

    def one(row) -> dict:
        if row["events_in"] == 0:
            return dict(_EMPTY_STATS)
        return {
            "min_lsn": int(row["min_lsn"]),
            "max_lsn": int(row["max_lsn"]),
            "events_in": int(row["events_in"]),
            "vmin": None if row["vmin"] is None else int(row["vmin"]),
            "vmax": None if row["vmax"] is None else int(row["vmax"]),
            "vnull": int(row["events_in"]) - int(row["vset"]),
        }

    if by is None:
        return one(batch_df.agg(*aggs).collect()[0])
    return {r[by]: one(r) for r in batch_df.groupBy(by).agg(*aggs).collect()}


def _prior_covered_ranges(
    committed: dict[str, dict], source_id: str, batch_id: int
) -> list[tuple[int, int]]:
    """Merged [min_lsn, max_lsn] intervals covered by this source's
    batches committed BEFORE `batch_id` (streaming batch ids are
    monotone). An event seen in batch `batch_id` whose LSN falls in a
    prior interval is an at-least-once re-delivery; an LSN outside all
    of them is a new log entry even when the file source delivers
    batches out of LSN order — the basis for the exact cross-batch
    distinct count. Contiguous coverage merges to one span, so the
    list stays O(out-of-order fringes), not O(batches)."""
    prefix = f"{source_id}:"
    spans: list[tuple[int, int]] = []
    for k, st in committed.items():
        if not k.startswith(prefix) or not st:
            continue
        try:
            bid = int(k[len(prefix):])
        except ValueError:
            continue
        if bid < batch_id and "min_lsn" in st and "max_lsn" in st:
            spans.append((int(st["min_lsn"]), int(st["max_lsn"])))
    spans.sort()
    merged: list[tuple[int, int]] = []
    for lo, hi in spans:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    return merged


def apply_batch(
    spark,
    cfg: EngineConfig,
    ops: list[SchemaOp],
    batch_df: DataFrame,
    batch_id: int,
    source_id: str = "cdc",
    spec: SourceSpec = TRANSCRIPTS,
    stats_override: dict | None = None,
) -> None:
    table = LakeTable(spark, cfg.table_root, branch=cfg.branch)
    batch_key = f"{source_id}:{batch_id}"

    # the batch's one ledger snapshot: the replay check, the covered
    # ranges and the due schema ops are all decided from it
    m = table.manifest()
    covered = _prior_covered_ranges(m.committed_batches, source_id, batch_id)
    if batch_key in m.committed_batches:
        # replayed epoch after crash. The MERGE is already committed; if
        # the crash hit the window before the lineage write, fall
        # through to recompute it (merge_into below no-ops via ledger).
        if lineage.has_batch_manifest(cfg.manifest_dir, batch_id):
            return

    # batch stats: the footers of the files the checkpoint offset log
    # lists for this batch_id (no Spark job), else one slim aggregation
    # over the rows — a frame the offset log does not describe (a
    # direct call, a routed slice), or a stream transformed upstream
    # (watermark dedup drops rows the footers would still count)
    stats_src = stats_override
    if stats_src is None and not cfg.use_watermark_dedup:
        stats_src = _stats_from_footers(
            _batch_files_from_checkpoint(cfg.checkpoint_dir, batch_id)
        )
    stats_src = stats_src or _stats_from_agg(batch_df)
    if stats_src["events_in"] == 0:
        return
    max_lsn = stats_src["max_lsn"]
    if cfg.patch_ops and covered and stats_src["min_lsn"] <= covered[-1][1]:
        # Full-image replay is order-insensitive (the MERGE max-LSN
        # guard rejects stale rows), but a PATCH's base full image may
        # live in a not-yet-applied earlier batch — folding it late
        # would be silently lossy. The file source delivers segments
        # in order (including after kill/resume), so this only fires
        # on a genuinely reordered source; fail loud instead.
        # (A cross-segment RE-delivery also dips below coverage and
        # would be harmless — the fold plus LSN guard reject stale
        # rows — but it is indistinguishable from a reorder at the
        # batch level. Sources that re-deliver across segments should
        # enable use_watermark_dedup, which drops re-delivered
        # (key, lsn) pairs before this check sees them.)
        raise ValueError(
            f"patch_ops requires in-LSN-order batch delivery: batch "
            f"{batch_id} spans [{stats_src['min_lsn']}, {max_lsn}] but "
            f"prior batches already covered up to {covered[-1][1]}; "
            f"for cross-segment re-delivery enable use_watermark_dedup"
        )

    # 1. schema evolution due at this LSN horizon (metadata-only
    #    commits); `m` becomes the post-evolve snapshot
    m = evolve_due_ops(table, ops, max_lsn, m)
    target_version = BASE_VERSION + m.schema.schema_id

    # schema versions possibly present: version is monotone in LSN, so
    # the footer min/max of schema_version bounds the decode set,
    # clamped to the versions the schema-op track can decode (a poison
    # schema_version = 2^31-1 must not inflate the decode list)
    vmin, vmax = stats_src["vmin"], stats_src["vmax"]
    lo = BASE_VERSION if vmin is None else max(vmin, BASE_VERSION)
    hi = BASE_VERSION - 1 if vmax is None else min(vmax, max_known_version(ops))

    # 1.5 dead-letter quarantine (config-gated, default off): divert
    #     malformed-payload / unknown-version events to the DLQ before
    #     they can become all-NULL upserts. Idempotent on epoch replay
    #     (overwrite per batch_id) — see engine/quarantine.py. Without
    #     it, a NULL or undecodable schema_version fails the batch: the
    #     parse filter would otherwise drop those events silently.
    n_quarantined = 0
    if cfg.quarantine_dir:
        batch_df, n_quarantined = quarantine_split(
            batch_df, cfg.quarantine_dir, ops, batch_id, spec=spec
        )
        if n_quarantined >= stats_src["events_in"] or lo > hi:
            # whole batch was poison: nothing to apply, but the batch
            # still covered an LSN span — without a ledger row the
            # invariant checker would report a phantom 'LSN gap' and
            # the quarantined count would vanish from the audit
            # accounting. Write the zero-applied manifest (driver-side
            # one-row parquet, idempotent overwrite) alongside the DLQ.
            lineage.write_poison_batch_manifest(
                cfg.manifest_dir,
                batch_id,
                {**stats_src, "events_quarantined": n_quarantined},
                m.version,
            )
            return
    elif stats_src["vnull"] or (vmin, vmax) != (lo, hi):
        why = (
            f"{stats_src['vnull']} of {stats_src['events_in']} events have "
            f"NULL schema_version"
            if stats_src["vnull"]
            else f"schema_version range [{vmin}, {vmax}] exceeds the "
            f"decodable versions [{BASE_VERSION}, {max_known_version(ops)}]"
        )
        raise ValueError(
            f"batch {batch_id}: {why} (poison source) and no quarantine_dir "
            f"is configured — refusing to guess; set "
            f"EngineConfig.quarantine_dir to divert such events to the "
            f"dead-letter queue"
        )
    versions = list(range(lo, hi + 1))

    # 2-3. parse by version -> current schema, then normalize text, in
    #    the source's own partitioning (one task per file split): parse,
    #    normalize and the resolve's partial aggregation share one map
    #    stage, and the resolve's hash exchange — of partially
    #    aggregated rows, not raw payloads — is the batch's only
    #    shuffle before the MERGE
    parsed = parse_batch(
        batch_df,
        ops,
        target_version,
        versions,
        spec=spec,
        with_set_flags=cfg.patch_ops,
    )

    # 4. max-LSN resolution per key (out-of-order within the batch).
    #    Exact-duplicate re-emits (same key AND lsn) carry identical
    #    payloads by construction, so max_by collapses them too — no
    #    separate dropDuplicates shuffle needed. with_counts piggybacks
    #    the exact raw/distinct event tallies for lineage on the same
    #    aggregation (no separate count_distinct job).
    if cfg.patch_ops:
        # partial-image fold: per key, the latest full image plus any
        # later patches' carried columns — one hash aggregation, same
        # shuffle shape and lineage counts as the full-image path
        # (engine/resolve.py resolve_patch_fold). CoW coalesces unset
        # columns from the target in the MERGE; MoR appends masked
        # patch deltas folded at read/compaction.
        resolved = resolve_patch_fold(
            parsed.drop("op_ts"),
            list(spec.key),
            with_counts=True,
            covered_lsn_ranges=covered,
        )
    else:
        resolved = resolve_max_lsn(
            parsed.drop("op_ts"),
            list(spec.key),
            with_counts=True,
            covered_lsn_ranges=covered,
        )
    # One materialization serves the merge (bucket discovery + join +
    # CoW write) and the lineage rollup; without it the whole parse/
    # normalize/shuffle pipeline re-runs per consumer.
    resolved = resolved.persist()

    stats = {
        "min_lsn": stats_src["min_lsn"],
        "max_lsn": max_lsn,
        "events_in": stats_src["events_in"],
        "events_quarantined": n_quarantined,
    }

    # 5. MERGE into the lake (bucket-pruned CoW / O(batch) MoR append;
    #    atomic ledgered commit) — the batch's one full-pipeline job —
    # 6. then the per-partition lineage manifest (idempotent per
    #    batch_id), a small rollup over the persisted resolved set
    try:
        version = merge_into(table, resolved, batch_key=batch_key, batch_stats=stats)
        try:
            lineage.write_batch_manifest(
                spark, cfg.manifest_dir, m, resolved, batch_id, stats, version
            )
        except Exception:
            # one retry for a transient failure; a second failure
            # fails this epoch, and Spark replays it (the MERGE no-ops
            # via the ledger and the lineage is recomputed)
            time.sleep(1.0)
            lineage.write_batch_manifest(
                spark, cfg.manifest_dir, m, resolved, batch_id, stats, version
            )
    finally:
        resolved.unpersist()

    # 7. merge-on-read maintenance: compaction commits a table
    # version, so it must serialize with the merges (which it does here
    # by construction).
    if cfg.compact_max_files_per_bucket:
        table.compact(cfg.compact_max_files_per_bucket)

    # 8. stream-maintained persisted indexes and MVs (engine/
    # indexes.py): fold this batch's change feed into each spec'd
    # dedup/near-dup/ANN index and MV. Serialized with the merges for
    # the same reason as compaction — index refreshes commit versions
    # (on the INDEX tables) — and safely AFTER this batch's merge, so
    # the fold window always ends at a committed version. Crash
    # composition: a crash here leaves the index cursor behind and the
    # next refresh covers both versions; a replayed batch's MERGE
    # no-ops via the ledger, so the refresh sees no new version and
    # no-ops via its cursor. With a cadence > 1, a bounded replay
    # folds the tail batches once at the end of the stream
    # (run_replay / run_replay_routed).
    if (batch_id + 1) % max(1, cfg.index_refresh_every_batches) == 0:
        refresh_derived(spark, cfg, table)
