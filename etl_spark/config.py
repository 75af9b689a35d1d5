"""Engine configuration (replaces the reference's SparkArgs dataclass,
/root/reference/src/pipeline/core/spark.py:15-26)."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class EngineConfig:
    table_root: str
    manifest_dir: str  # lineage manifest table (parquet)
    checkpoint_dir: str
    num_buckets: int = 32
    # Optional cross-batch duplicate suppression via
    # dropDuplicatesWithinWatermark state. OFF by default: correctness
    # never depends on it — in-batch duplicates collapse in the
    # max-LSN resolve, and cross-batch re-delivery is annihilated by
    # the committed-batch ledger plus the MERGE LSN-monotonicity
    # guard. At 10^10 events, (key, lsn) dedup state is also a state-
    # size liability; it costs one extra stateful shuffle per batch.
    # Turn on only when the source can re-emit events across segment
    # boundaries AND downstream must not see them even transiently.
    watermark: str = "10 minutes"
    use_watermark_dedup: bool = False
    # files per micro-batch for the streaming file source
    max_files_per_trigger: int = 4
    # "mor" (merge-on-read, O(batch) write cost per micro-batch) or
    # "cow" (copy-on-write, read-optimized; O(touched buckets) rewrite)
    write_mode: str = "mor"
    # merge-on-read file-count bound: after each batch's lineage
    # write, compact buckets whose live file count exceeds this
    # (serialized with the merges — compaction commits table
    # versions; 0 = never, run as external maintenance)
    compact_max_files_per_bucket: int = 0
    # dead-letter directory for poison events (malformed payload /
    # unknown schema_version). None = off (zero cost); see
    # engine/quarantine.py for the exactly-once + accounting contract.
    quarantine_dir: str | None = None
    # commit onto a named branch (write-audit-publish): micro-batches
    # land on _meta/branches/<branch> while main readers see the
    # pre-fork table; an auditor validates the branch state and
    # LakeTable.publish_branch fast-forwards main (metadata-only).
    # None = commit straight to main (the default path).
    branch: str | None = None
    # partial-image change events: the binlog may carry op='P' patches
    # whose payload holds only the changed columns plus a `_changed`
    # name mask (Debezium partial row image / MySQL binlog_row_image=
    # MINIMAL). The apply path folds patches over the latest full
    # image per key (engine/resolve.py resolve_patch_fold); the CoW
    # MERGE coalesces unset columns from the target row, while MoR
    # appends masked patch deltas folded at read/compaction
    # (lake/table.py _resolve_versions patch fold) — O(batch) write
    # cost for partial-update streams.
    patch_ops: bool = False
    # stream-maintained persisted indexes (engine/indexes.IndexSpec):
    # after a micro-batch's MERGE commits, each spec'd dedup/near-dup/
    # ANN index folds that batch's change feed into itself —
    # O(batch + touched index buckets), main-thread, crash-safe via
    # the indexes' own cursors + ledgers. Empty = off (zero cost).
    # The index tables are created by the caller before the stream
    # starts; the source needs a single long key column (the
    # documents/embeddings shape).
    index_specs: tuple = ()
    # stream-maintained materialized aggregates (engine/indexes.MVSpec
    # -> lake/mv.py): same placement, cadence, and crash contract as
    # index_specs — each spec'd GROUP-BY aggregate folds the batch's
    # signed deltas after the MERGE commits. Empty = off.
    mv_specs: tuple = ()
    # refresh cadence: fold the feed every K batches (amortizes the
    # per-index/-MV fixed cost when micro-batches are small); a
    # bounded replay folds the tail batches once at the end
    index_refresh_every_batches: int = 1
