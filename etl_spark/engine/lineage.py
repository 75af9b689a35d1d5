"""Per-batch, per-partition lineage manifest (FIXTURES.md §5).

Replaces the reference's `loaded_files` registry (a filename set,
/root/reference/src/pipeline/sql/create_tables.sql:362-368) with a
real audit ledger: for every micro-batch and hash bucket, the LSN
range applied, row count, and an order-insensitive content checksum
(sum of crc32 over canonicalized rows) — enough to verify that a
resumed replay covered the log exactly once with no gaps, and stable
across parallelism levels (local[8] vs local[32]).

Write path is hot-loop-aware: the per-bucket rollup is ONE Spark
aggregation (collect of <= num_buckets rows), and the parquet file is
written driver-side with pyarrow (`_write_ledger`, the one writer of
the `LEDGER_COLUMNS` schema) via tmp+atomic-rename — no Spark
write job, no commit-protocol temp dirs/_SUCCESS/fsync chatter per
micro-batch. A crash-replayed epoch rewrites the identical rows
(os.replace is an atomic overwrite).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from etl_spark.lake.table import BUCKET_COL, LakeTable

# resolve-internal count columns excluded from the content checksum
INTERNAL_COLS = {BUCKET_COL, "_nev", "_nlsn", "_nnew"}

# The ledger schema, defined once: (column, Spark type). Every batch
# file and the empty-ledger frame of `read_manifest` derive from it.
# The first eight columns are per bucket; the rest repeat per batch.
LEDGER_COLUMNS = (
    ("partition_id", "int"),
    ("min_lsn", "long"),
    ("max_lsn", "long"),
    ("row_count", "long"),
    ("checksum", "long"),
    ("events_in", "long"),
    ("events_distinct", "long"),
    ("events_new", "long"),
    ("batch_id", "long"),
    ("batch_min_lsn", "long"),
    ("batch_max_lsn", "long"),
    ("batch_events_in", "long"),
    ("batch_events_quarantined", "long"),
    ("table_version", "long"),
    ("committed_at_us", "long"),
)


def _content_cols(cols: list[str]) -> list[str]:
    """Columns that participate in the lineage checksum: the resolved
    change-set content, minus internal counters and the patch path's
    `_set_<col>` flags (merge-internal routing, not row content)."""
    return [
        c for c in cols if c not in INTERNAL_COLS and not c.startswith("_set_")
    ]


def _canonical_checksum_col(cols: list[str]):
    # order-insensitive: per-row crc32 of a canonical JSON encoding,
    # summed. JSON (with ignoreNullFields=false) rather than concat_ws:
    # concat_ws SKIPS null arguments and does not escape the separator,
    # so ('x', NULL) and (NULL, 'x') — or a value containing the
    # separator byte — would collide, defeating the checksum's purpose
    # of catching content divergence between replays.
    return F.sum(
        F.crc32(
            F.to_json(
                F.struct(*[F.col(c) for c in cols]),
                {"ignoreNullFields": "false"},
            )
        )
    )


def _batch_file(manifest_dir: str, batch_id: int) -> str:
    return os.path.join(manifest_dir, f"batch-{batch_id:010d}.parquet")


def has_batch_manifest(manifest_dir: str, batch_id: int) -> bool:
    return os.path.exists(_batch_file(manifest_dir, batch_id))


def _write_ledger(
    manifest_dir: str,
    batch_id: int,
    stats: dict,
    table_version: int,
    buckets: list[dict],
) -> None:
    """Write one batch's ledger file: one row per dict in `buckets`
    (its per-bucket columns; a missing one is NULL) plus the
    batch-level columns, in the `LEDGER_COLUMNS` schema. tmp +
    os.replace makes it atomic, and a crash-replayed epoch overwrites
    it with identical rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    batch = {
        "batch_id": batch_id,
        "batch_min_lsn": stats["min_lsn"],
        "batch_max_lsn": stats["max_lsn"],
        "batch_events_in": stats["events_in"],
        "batch_events_quarantined": stats.get("events_quarantined", 0),
        "table_version": table_version,
        "committed_at_us": int(time.time() * 1e6),
    }
    rows = [{**b, **batch} for b in buckets]
    arrow_type = {"int": pa.int32(), "long": pa.int64()}
    tbl = pa.table(
        {c: pa.array([r.get(c) for r in rows], arrow_type[t]) for c, t in LEDGER_COLUMNS}
    )
    os.makedirs(manifest_dir, exist_ok=True)
    out = _batch_file(manifest_dir, batch_id)
    tmp = out + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, out)


def write_batch_manifest(
    spark: SparkSession,
    manifest_dir: str,
    table: LakeTable,
    resolved: DataFrame,
    batch_id: int,
    stats: dict,
    table_version: int,
) -> None:
    """One aggregation job -> <= num_buckets rows -> driver-side atomic
    parquet write. `resolved` may carry the optional `_nev`/`_nlsn`
    per-key counts from `resolve_max_lsn(..., with_counts=True)`; when
    present they yield exact per-bucket raw/distinct event counts with
    zero extra jobs (the round-1 design paid a separate full-batch
    count_distinct action for these)."""
    m = table.manifest()
    content_cols = _content_cols(resolved.columns)
    aggs = [
        F.min("lsn").alias("min_lsn"),
        F.max("lsn").alias("max_lsn"),
        F.count("*").alias("row_count"),
        _canonical_checksum_col(content_cols).alias("checksum"),
    ]
    has_counts = "_nev" in resolved.columns
    has_new = "_nnew" in resolved.columns
    if has_counts:
        aggs += [
            F.sum("_nev").alias("events_in"),
            F.sum("_nlsn").alias("events_distinct"),
        ]
    if has_new:
        # distinct LSNs above the prior covered horizon — counts each
        # log event exactly once across batches even under cross-batch
        # re-delivery (see resolve_max_lsn new_lsn_floor)
        aggs.append(F.sum("_nnew").alias("events_new"))
    rows = (
        resolved.withColumn(BUCKET_COL, table.bucket_expr(m))
        .groupBy(F.col(BUCKET_COL).alias("partition_id"))
        .agg(*aggs)
        .collect()
    )

    _write_ledger(
        manifest_dir, batch_id, stats, table_version, [r.asDict() for r in rows]
    )


def write_poison_batch_manifest(
    manifest_dir: str, batch_id: int, stats: dict, table_version: int
) -> None:
    """Manifest for a batch whose EVERY event went to the dead-letter
    queue: the merge never ran, but the batch still covered an LSN
    span — without this row the ledger has a hole there and
    check_invariants reports a phantom 'LSN gap — lost data' on a
    healthy replay, and the quarantined count vanishes from the audit
    accounting. One driver-side row (partition_id = -1, zero applied
    events, the batch's LSN bounds and quarantine count); idempotent
    overwrite like the normal rollup."""
    _write_ledger(
        manifest_dir,
        batch_id,
        stats,
        table_version,
        [
            {
                "partition_id": -1,
                "min_lsn": stats["min_lsn"],
                "max_lsn": stats["max_lsn"],
                "row_count": 0,
                "checksum": 0,
                "events_in": 0,
                "events_distinct": 0,
                "events_new": 0,
            }
        ],
    )


def read_manifest(
    spark: SparkSession, manifest_dir: str | list[str]
) -> DataFrame:
    """Read one manifest dir, or the UNION of several (the routed
    mode's invariant surface: N per-entity ledgers over one shared
    global LSN sequence are individually sparse but dense together)."""
    dirs = [manifest_dir] if isinstance(manifest_dir, str) else list(manifest_dir)
    paths = [
        os.path.join(d, f)
        for d in dirs
        if os.path.isdir(d)
        for f in sorted(os.listdir(d))
        if f.startswith("batch-") and f.endswith(".parquet")
    ]
    if not paths:
        # nothing committed yet (or dir not created): the natural
        # empty ledger, not a FileNotFoundError / schema-inference
        # crash from the audit job
        return spark.createDataFrame(
            [], ", ".join(f"{c} {t}" for c, t in LEDGER_COLUMNS)
        )
    return spark.read.parquet(*paths)


def check_invariants(
    spark: SparkSession, manifest_dir: str | list[str]
) -> dict:
    """Assert the lineage invariants (FIXTURES.md §5): per-batch LSN
    ranges cover the log with NO GAPS (fatal — lost data), while
    cross-batch range OVERLAP is tolerated and reported (at-least-once
    sources legitimately re-deliver an event into a later segment; the
    MERGE LSN guard keeps state exact, so overlap is an audit fact,
    not corruption). Gap detection assumes LSN-dense logs (the WAL
    assigns consecutive LSNs), matching the binlog contract. Batches
    need not arrive in LSN order (the file source may reorder ties).
    Returns summary stats; raises on gap.

    `events_distinct_total` prefers the `events_new` column (distinct
    LSNs above each batch's prior covered horizon — EXACT across
    batches even under cross-segment re-delivery); it falls back to
    summing per-batch `events_distinct` (which double-counts an event
    re-delivered into a later batch) only for manifests written before
    the column existed."""
    df = read_manifest(spark, manifest_dir)
    has_new = "events_new" in df.columns
    has_q = "batch_events_quarantined" in df.columns
    # Two-level aggregation: batch_* columns are constant per bucket
    # row WITHIN one manifest FILE, but in a routed-union read the same
    # batch_id appears in several routes' files, each slice with its
    # OWN batch totals — first() there would pick one arbitrary slice
    # and the accounting would silently undercount. Collapse per
    # (batch, file) first, then combine slices.
    slice_agg = [
        F.first("batch_min_lsn").alias("lo"),
        F.first("batch_max_lsn").alias("hi"),
        F.sum("row_count").alias("keys_resolved"),
        F.sum("events_distinct").alias("events_distinct"),
    ]
    if has_new:
        slice_agg.append(F.sum("events_new").alias("events_new"))
    if has_q:
        slice_agg.append(F.first("batch_events_quarantined").alias("quarantined"))
    per_slice = df.withColumn("_src", F.input_file_name()).groupBy(
        "batch_id", "_src"
    ).agg(*slice_agg)
    agg = [
        F.min("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.sum("keys_resolved").alias("keys_resolved"),
        F.sum("events_distinct").alias("events_distinct"),
    ]
    if has_new:
        agg.append(F.sum("events_new").alias("events_new"))
    if has_q:
        agg.append(F.sum("quarantined").alias("quarantined"))
    per_batch = per_slice.groupBy("batch_id").agg(*agg).orderBy("lo", "batch_id").collect()
    prev_hi = None
    overlapped = []
    total_distinct = 0
    use_new = has_new and all(r["events_new"] is not None for r in per_batch)
    for r in per_batch:
        if prev_hi is not None and r["lo"] > prev_hi + 1:
            raise AssertionError(
                f"batch {r['batch_id']}: LSN gap — range starts at {r['lo']} "
                f"but the log is only covered through {prev_hi}"
            )
        if prev_hi is not None and r["lo"] <= prev_hi:
            overlapped.append(int(r["batch_id"]))
        prev_hi = r["hi"] if prev_hi is None else max(prev_hi, r["hi"])
        total_distinct += (r["events_new"] if use_new else r["events_distinct"]) or 0
    out = {
        "batches": len(per_batch),
        "events_distinct_total": int(total_distinct),
        "max_lsn": int(prev_hi) if per_batch else None,
        "overlapping_batches": overlapped,
    }
    if has_q:
        # poison events diverted to the dead-letter dir: with a dense
        # log, events_distinct_total + events_quarantined_total
        # accounts for every emitted LSN exactly once
        out["events_quarantined_total"] = sum(
            int(r["quarantined"] or 0) for r in per_batch
        )
    return out


def batch_metrics(spark: SparkSession, manifest_dir: str | list[str]) -> DataFrame:
    """Per-batch operational metrics derived from the lineage ledger —
    the observability surface an operator watches during a 10^10-event
    replay, with zero instrumentation on the hot path (everything here
    is already in the manifests the engine writes anyway).

    One row per batch: event counts (raw / distinct / new-this-batch /
    quarantined), LSN range, resolved keys, touched buckets, the
    commit-to-commit gap to the previous batch (`gap_us` — includes
    read+parse+merge+rollup, i.e. end-to-end batch latency at steady
    state), and `events_per_sec` over that gap. Aggregation is
    O(batches x buckets) manifest rows — independent of table size."""
    df = read_manifest(spark, manifest_dir)
    # columns added over the format's life; older manifests lack them
    opt = lambda c: (  # noqa: E731
        F.sum(c) if c in df.columns else F.sum(F.lit(None).cast("long"))
    )
    # per (batch, manifest file) first — see check_invariants: in a
    # routed-union read, batch_* columns are per-SLICE totals, so the
    # batch totals are sums over slices, LSN bounds are min/max over
    # slices, and the commit time is the LAST slice's commit
    per_slice = df.withColumn("_src", F.input_file_name()).groupBy(
        "batch_id", "_src"
    ).agg(
        F.first("batch_min_lsn").alias("s_min_lsn"),
        F.first("batch_max_lsn").alias("s_max_lsn"),
        F.first("batch_events_in").alias("s_events_in"),
        F.sum("events_distinct").alias("s_events_distinct"),
        opt("events_new").alias("s_events_new"),
        (
            F.first("batch_events_quarantined")
            if "batch_events_quarantined" in df.columns
            else F.max(F.lit(0)).cast("long")
        ).alias("s_events_quarantined"),
        F.sum("row_count").alias("s_keys_resolved"),
        F.count("*").alias("s_buckets_touched"),
        F.first("table_version").alias("s_table_version"),
        F.first("committed_at_us").alias("s_committed_at_us"),
    )
    per_batch = per_slice.groupBy("batch_id").agg(
        F.min("s_min_lsn").alias("min_lsn"),
        F.max("s_max_lsn").alias("max_lsn"),
        F.sum("s_events_in").alias("events_in"),
        F.sum("s_events_distinct").alias("events_distinct"),
        F.sum("s_events_new").alias("events_new"),
        F.sum("s_events_quarantined").alias("events_quarantined"),
        F.sum("s_keys_resolved").alias("keys_resolved"),
        F.sum("s_buckets_touched").alias("buckets_touched"),
        F.max("s_table_version").alias("table_version"),
        F.max("s_committed_at_us").alias("committed_at_us"),
    )
    w = Window.orderBy("committed_at_us")
    gap = F.col("committed_at_us") - F.lag("committed_at_us").over(w)
    return (
        per_batch.withColumn("gap_us", gap)
        .withColumn(
            "events_per_sec",
            F.round(F.col("events_in") / (F.col("gap_us") / 1e6), 1),
        )
        .orderBy("committed_at_us")
    )
