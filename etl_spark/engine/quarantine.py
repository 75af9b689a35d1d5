"""Dead-letter quarantine for poison change events.

A production binlog tail meets events the engine must not apply:
payloads that are not valid JSON (truncated frames, encoding bugs) and
events stamped with a schema_version the consumer does not know
(producer deployed ahead of the pipeline). The reference pipeline has
no handling for either — a malformed payload silently becomes an
all-NULL row and an unknown version is parsed with whatever schema the
consumer has (/root/reference/src/pipeline/core/spark.py:28-189 maps
fields positionally with no validity check). Silently upserting
corrupt rows into a 10^10-row table is the worst possible failure
mode, so the engine diverts such events to a dead-letter parquet
directory instead, keyed by batch so the write is exactly-once.

Design (config-gated via ``EngineConfig.quarantine_dir``; OFF by
default — zero cost, bitwise-identical behavior):

- **Detection is pure JVM**: ``try_parse_json`` (null for invalid
  JSON) and a version-range check. No Python touches the hot path.
- **Exactly-once**: the DLQ for batch N is written with
  ``mode("overwrite")`` under ``<dir>/batch_id=N`` — a crash-replayed
  epoch rewrites the identical files. The applied table never sees
  the event, so the MERGE ledger needs no extension.
- **Exact accounting, no extra jobs**: the quarantined row count is
  read back from the written parquet footers driver-side (the same
  footer-stats discipline the batch stats use), and lands in the
  lineage manifest as ``batch_events_quarantined`` so an auditor can
  reconcile ``batch_events_in == sum(bucket events_in) + quarantined``
  per batch and LSN-coverage gaps against the DLQ.
- **Scale**: the DLQ branch is a second scan of the raw micro-batch
  with a cheap pushed-down predicate and no shuffle (bad events write
  out partition-parallel); the good-path filter fuses into the parse
  scan. Cost is O(batch), independent of table size.

Delete events (op = "D") legitimately carry no payload and are never
quarantined for a null payload.

At-least-once corner: if a source re-delivers an LSN and only ONE copy
is corrupt, the engine applies the valid copy and quarantines the
corrupt one (each copy is judged on its own bytes). With
``use_watermark_dedup`` the (key, LSN) dedup runs UPSTREAM of the
screen, so whichever copy survives dedup is the one judged — a corrupt
survivor sends the LSN to the DLQ even though a valid twin existed.
The binlog contract (duplicates are byte-identical re-emits) makes the
two behaviors coincide; sources that can corrupt one copy of a
re-delivery should leave watermark dedup off and let the ledger + LSN
guard absorb duplicates after screening.

Routed mode: the DLQ directory is per-table state, like manifest_dir —
give each entity's EngineConfig its own quarantine_dir (two routes
sharing one directory would overwrite each other's batch_id=N dirs).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, functions as F

from etl_spark.cdc_schema import BASE_VERSION, SchemaOp, SourceSpec, TRANSCRIPTS
from etl_spark.util import footer_row_count


def max_known_version(ops: list[SchemaOp]) -> int:
    """Highest schema version this consumer can decode."""
    return max((op.version for op in ops), default=BASE_VERSION)


def quarantine_reason(ops: list[SchemaOp]) -> Column:
    """NULL for applicable events; else a reason string.

    ``try_parse_json`` validates the payload JVM-side (null result =
    invalid JSON); version validity is a range check against the
    consumer's known schema set.
    """
    ver = F.col("schema_version")
    version_bad = (
        ver.isNull() | (ver < F.lit(BASE_VERSION)) | (ver > F.lit(max_known_version(ops)))
    )
    # op must be a known code: a NULL or unknown op would otherwise
    # slip through every downstream `op == 'D'` / `op != 'P'` test
    # (none of which is null-safe) and be applied as an upsert — for
    # a NULL-payload NULL-op event that is exactly the all-NULL row
    # the DLQ exists to prevent.
    op_bad = F.col("op").isNull() | ~F.col("op").isin("I", "U", "D", "P")
    # null-safe: op NULL must not make needs_payload NULL (which would
    # let a NULL-payload event pass the payload screen entirely)
    needs_payload = ~F.col("op").eqNullSafe(F.lit("D"))
    payload_bad = needs_payload & (
        F.col("payload").isNull() | F.try_parse_json(F.col("payload")).isNull()
    )
    return (
        F.when(op_bad, F.lit("unknown_op"))
        .when(version_bad, F.lit("unknown_schema_version"))
        .when(payload_bad, F.lit("malformed_payload"))
        .otherwise(F.lit(None).cast("string"))
    )


def quarantine_split(
    batch_df: DataFrame,
    quarantine_dir: str,
    ops: list[SchemaOp],
    batch_id: int,
    spec: SourceSpec = TRANSCRIPTS,
) -> tuple[DataFrame, int]:
    """Divert poison events from the micro-batch to the dead-letter
    directory; return (applicable events, n quarantined).

    The DLQ write is idempotent per batch (overwrite of
    ``batch_id=N``), carries the full raw envelope plus ``q_reason``,
    and its row count is recovered from the written footers (no count
    job). When the count is zero the empty directory is the marker
    that the batch was screened.
    """
    reason = quarantine_reason(ops)
    out = os.path.join(quarantine_dir, f"batch_id={batch_id}")
    (
        batch_df.withColumn("q_reason", reason)
        .filter(F.col("q_reason").isNotNull())
        .write.mode("overwrite")
        .parquet(out)
    )
    n_bad = footer_row_count(out)
    good = batch_df.filter(reason.isNull())
    return good, n_bad


def read_quarantine(spark, quarantine_dir: str) -> DataFrame:
    """The dead-letter table: raw envelopes + q_reason + batch_id
    (recovered from the directory layout for audit joins)."""
    return (
        spark.read.option("basePath", quarantine_dir)
        .parquet(os.path.join(quarantine_dir, "batch_id=*"))
    )
