"""merge_into — set-oriented MERGE for LakeTable (copy-on-write).

Replaces the reference's hand-rolled upsert, which collected the
target's keys to the driver, split the batch with isin()/~isin()
filters, appended the inserts, and ran a per-row ALTER TABLE UPDATE
loop (/root/reference/src/pipeline/core/spark.py:125-177 — O(rows)
driver round-trips). Here the same semantics are one distributed plan:

  1. compute each source row's hash bucket; collect the *bucket ids*
     only (bounded by num_buckets, never by rows),
  2. scan ONLY those buckets of the target (file-level pruning),
  3. FULL OUTER join target and source on the key — Catalyst/AQE pick
     broadcast vs sort-merge and split skewed partitions,
  4. per-row winner by LSN: source applies iff src.lsn > tgt.lsn
     (idempotent under batch replay); op='D' writes a tombstone row
     (kept so later-arriving stale I/U with lower LSN stay dead),
  5. rewrite the touched buckets; atomic manifest swap publishes.

Source contract: exactly one row per key (run engine.resolve first),
columns = current logical schema + `op` ('I'|'U'|'D') + `lsn`; rows
that re-emit the same (key, lsn) MUST be byte-identical (at-least-once
re-delivery of the same event). Under that contract `max_by` ties are
deterministic with no explicit dropDuplicates pass; the lineage ledger
records per-batch `events_in` vs `events_distinct` so a source that
violates it is visible in the audit trail (events_in > events_distinct
with differing payloads would show as cross-run checksum drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from etl_spark.lake.table import BUCKET_COL, SYS_DELETED, SYS_LSN, SYS_PATCHED, LakeTable

OP_COL = "op"
LSN_COL = "lsn"


def merge_into(
    table: LakeTable,
    source: DataFrame,
    batch_key: str | None = None,
    batch_stats: dict | None = None,
) -> int:
    """Apply a resolved change set to `table`. Returns new version
    (or current version unchanged if `batch_key` already committed).

    The manifest is read once; the ledger check, target scan, staging
    and commit all use that snapshot. A CoW merge that loses the commit
    race to another merge raises `CommitConflict`, and the stream
    replays the batch against the fresh snapshot.

    Dispatches on the table's write mode: copy-on-write joins and
    rewrites the touched buckets (below); merge-on-read appends the
    change set as delta files — O(batch) write cost — with the LSN
    contest deferred to scan/compaction (`LakeTable._resolve_versions`).
    """
    m = table.manifest()
    if batch_key is not None and batch_key in m.committed_batches:
        return m.version

    key = m.key
    payload_cols = [f.name for f in m.schema.fields if f.name not in key]

    # Partial-image sources (resolve_patch_fold) carry one boolean
    # `_set_<col>` per payload column; an unset column keeps the
    # TARGET row's value (per-column coalesce), so a patch-only key
    # updates exactly the columns its patches carried. Full-image
    # sources have no flags and behave as before.
    set_flags = {
        c: f"_set_{c}" for c in payload_cols if f"_set_{c}" in source.columns
    }

    if m.write_mode == "mor":
        is_del = F.col(OP_COL) == F.lit("D")
        cols = [F.col(k) for k in key] + [
            F.when(is_del, F.lit(None)).otherwise(F.col(c)).alias(c)
            for c in payload_cols
        ]
        props_update = None
        if set_flags:
            # partial-image deltas: a patch-only change set (op='P')
            # lands as a delta row whose `_patched` mask names exactly
            # the columns it assigns; full images (I/U/D) carry a NULL
            # mask. The read path's patch fold (`_resolve_versions`,
            # armed by the `patch_deltas` manifest prop) folds them
            # over the latest full image per key at scan/compaction —
            # O(batch) write cost for partial-update streams.
            is_patch = F.col(OP_COL) == F.lit("P")
            ids = {f.name: f.id for f in m.schema.fields}
            mask = F.array_compact(
                F.array(
                    *[
                        F.when(F.col(sf), F.lit(ids[c]))
                        for c, sf in set_flags.items()
                    ]
                )
            )
            cols.append(
                F.when(is_patch, mask)
                .otherwise(F.lit(None).cast("array<int>"))
                .alias(SYS_PATCHED)
            )
            props_update = {"patch_deltas": True}
        cols += [F.col(LSN_COL).alias(SYS_LSN), is_del.alias(SYS_DELETED)]
        delta = source.select(*cols).withColumn(BUCKET_COL, m.bucket_expr())
        if not set_flags:
            # full-image batch: every staged file is known patch-free
            return table.append_files(
                m,
                delta,
                batch_key=batch_key,
                batch_stats=batch_stats,
                props_update=props_update,
                patch_buckets=set(),
            )
        # per-file patch bit for patch-capable batches: one tiny agg
        # (<= num_buckets rows back) flags exactly the buckets that
        # received an op='P' row, so the MoR read path folds only
        # those buckets (patch-free buckets keep the cheap max_by
        # scan). The agg is a SECOND consumer of the delta plan, so
        # persist it across both unless the caller already cached the
        # source (same double-run guard as the CoW branch below).
        cached = source.storageLevel.useMemory or source.storageLevel.useDisk
        if not cached:
            delta = delta.persist()
        try:
            patch_buckets = {
                r[0]
                for r in delta.filter(F.col(SYS_PATCHED).isNotNull())
                .select(BUCKET_COL)
                .distinct()
                .collect()
            }
            return table.append_files(
                m,
                delta,
                batch_key=batch_key,
                batch_stats=batch_stats,
                props_update=props_update,
                patch_buckets=patch_buckets,
            )
        finally:
            if not cached:
                delta.unpersist()

    # Persist the source across the two CoW consumers (bucket-discovery
    # action, then the key join): without it the caller's whole upstream
    # pipeline re-runs per consumer. When the caller already persisted
    # `source` (the engine path, engine/apply.py), skip the persist here:
    # the withColumn plan scans the existing cache, and caching the
    # derived plan too would store the batch TWICE per micro-batch.
    already_cached = source.storageLevel.useMemory or source.storageLevel.useDisk
    src = source.withColumn(BUCKET_COL, m.bucket_expr())
    if not already_cached:
        src = src.persist()
    try:
        # Bounded driver transfer: one (bucket, count) row per touched
        # bucket (<= num_buckets, never O(rows)). The counts feed the
        # write-skew guard: a Zipf-hot conversation concentrates most
        # of the batch into one hash bucket, and the staging write must
        # know to split that bucket across tasks (lake/table.py
        # `_stage_dataframe`). Same single job as the previous
        # distinct() — the aggregation collapses map-side.
        bucket_counts = {
            r[0]: r[1]
            for r in src.groupBy(BUCKET_COL).count().collect()
        }
        touched = sorted(bucket_counts)
        if not touched:
            return m.version

        tgt = table._scan(m, m.files_for(touched))

        s = src.select(
            *[F.col(k).alias(f"_s_{k}") for k in key],
            *[F.col(c).alias(f"_s_{c}") for c in payload_cols],
            *[F.col(sf).alias(f"_s{sf}") for sf in set_flags.values()],
            F.col(OP_COL).alias("_s_op"),
            F.col(LSN_COL).alias("_s_lsn"),
        )
        cond = None
        for k in key:
            c = tgt[k].eqNullSafe(s[f"_s_{k}"])
            cond = c if cond is None else (cond & c)
        j = tgt.join(s, cond, "full_outer")

        take_src = F.col("_s_lsn").isNotNull() & (
            F.col(SYS_LSN).isNull() | (F.col("_s_lsn") > F.col(SYS_LSN))
        )
        if set_flags:
            # A patch-only change set (op='P', no full image in the
            # batch) cannot apply onto a DEAD key: its base image was
            # deleted, and coalescing the unset columns from a
            # tombstone would fabricate a mostly-NULL live row. The
            # key stays dead; only a full image (higher-LSN I/U)
            # resurrects it. The tombstone's LSN is intentionally NOT advanced: dropping
            # the patch must not fence off the full image that follows.
            tgt_dead = F.coalesce(F.col(SYS_DELETED), F.lit(False))
            take_src = take_src & ~((F.col("_s_op") == F.lit("P")) & tgt_dead)
        is_del = F.col("_s_op") == F.lit("D")

        out_cols = []
        for k in key:
            out_cols.append(F.coalesce(s[f"_s_{k}"], tgt[k]).alias(k))
        for c in payload_cols:
            if c in set_flags:
                # unset column: the source row wins the LSN contest but
                # this column keeps the target's value (patch coalesce)
                src_val = F.when(s[f"_s{set_flags[c]}"], s[f"_s_{c}"]).otherwise(tgt[c])
            else:
                src_val = s[f"_s_{c}"]
            out_cols.append(
                F.when(take_src & ~is_del, src_val)
                .when(take_src & is_del, F.lit(None))
                .otherwise(tgt[c])
                .alias(c)
            )
        out_cols.append(
            F.when(take_src, s["_s_lsn"]).otherwise(tgt[SYS_LSN]).alias(SYS_LSN)
        )
        out_cols.append(
            F.when(take_src, is_del)
            .otherwise(F.coalesce(tgt[SYS_DELETED], F.lit(False)))
            .alias(SYS_DELETED)
        )
        merged = j.select(*out_cols).withColumn(BUCKET_COL, m.bucket_expr())

        return table.overwrite_buckets(
            m,
            merged,
            touched,
            batch_key=batch_key,
            batch_stats=batch_stats,
            bucket_counts=bucket_counts,
            patch_buckets=set(),  # CoW rewrite emits full images only
        )
    finally:
        if not already_cached:
            src.unpersist()
