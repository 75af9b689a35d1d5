"""Incremental change-feed export: lake → downstream consumers.

The engine's last hop: downstream systems (feature stores, search
indexes, other lakes) consume the table's changes without rescanning
state. This job tails the version history through `read_changes` and
appends each new commit window to a downstream parquet directory,
exactly-once via a version cursor — the multi-hop counterpart of the
ingest side's checkpoint + ledger. (The reference pipeline ends at its
warehouse table and has no downstream emission; this is the
Delta-CDF-consumer / Kafka-sink shape a production CDC deployment
needs.)

Exactly-once protocol (same two-phase shape as the ingest commit):

1. read the cursor (last exported table version; 0 = never exported),
2. write changes for versions (cursor, current] to
   ``<out_dir>/from=<cursor+1>`` with ``mode("overwrite")``,
3. atomically advance the cursor (tmp + os.replace).

A crash between 2 and 3 leaves the cursor unchanged; the next run
re-exports from the SAME version — and because the directory is named
by the range START only, the rerun overwrites the orphaned directory
even when the range end has advanced in the meantime (a range-named
directory would leave overlapping dirs and duplicate rows). Distinct
``from=`` dirs never overlap because the cursor only advances after a
successful write.

Export windows may span schema evolution: each window is written in
the table's CURRENT logical schema at export time and carries a
`_schema.json` sidecar pinning that schema's FIELD IDs. `read_exported`
aligns every window onto the newest window's schema BY FIELD ID — the
same mapping the table's own read path uses — so a rename between
export runs surfaces one logical column (not two half-null ones) and
a widen casts old windows up (a plain mergeSchema read would refuse to
merge long with timestamp and make the whole history unreadable).

Scale: each export moves O(changed rows in the window) — the
`read_changes` plan is bucket-restricted per commit — and the cursor
is one tiny JSON file. Runs off the ingest path on any cadence.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from etl_spark.lake.changes import read_changes
from etl_spark.lake.table import LakeTable
from etl_spark.util import footer_row_count, read_cursor, write_cursor


def export_changes(
    table: LakeTable,
    out_dir: str,
    cursor_path: str | None = None,
    include_pre_images: bool = False,
) -> dict:
    """Export all not-yet-exported commits to `out_dir`; advance the
    cursor only after the write succeeds. Returns
    {"from_version", "to_version", "rows_exported"} (a no-op export
    when the cursor is already current reports rows_exported=0)."""
    cursor_path = cursor_path or os.path.join(out_dir, "_cursor.json")
    frm = read_cursor(cursor_path, "exported_version")
    cur = table.current_version()
    if cur <= frm:
        return {"from_version": frm, "to_version": cur, "rows_exported": 0}
    try:
        changes = read_changes(
            table, frm, cur, include_pre_images=include_pre_images
        )
    except FileNotFoundError as e:
        # retention outpaced this consumer: expire_snapshots reclaimed
        # manifests the cursor still needs (same hazard as Iceberg
        # snapshot expiry vs changelog consumers). Size keep_last to
        # exceed the export cadence; recovery is a downstream resync.
        raise RuntimeError(
            f"export cursor is at version {frm} but snapshot history "
            f"has been expired past it; full-resync downstream from "
            f"the current snapshot and reset the cursor "
            f"({cursor_path})"
        ) from e
    dest = os.path.join(out_dir, f"from={frm + 1}")
    changes.write.mode("overwrite").parquet(dest)
    # schema sidecar: the window's logical fields WITH stable ids, so
    # read_exported can align windows across renames/widens (crash
    # safety: written before the cursor advances, overwritten with the
    # window on a rerun)
    with open(os.path.join(dest, "_schema.json"), "w") as fh:
        json.dump(
            {"fields": [f.to_json() for f in table.manifest(cur).schema.fields]},
            fh,
        )
    # exact count from the written footers (no extra job)
    rows = footer_row_count(dest)
    write_cursor(cursor_path, "exported_version", cur)
    return {"from_version": frm, "to_version": cur, "rows_exported": rows}


#: change-feed metadata columns appended to every window
CHANGE_COLS = ["_change_type", "_commit_version", "_change_lsn"]


def read_exported(spark, out_dir: str) -> DataFrame:
    """Downstream view of the exported feed: every window aligned onto
    the NEWEST window's schema by field ID (rename-safe, widen-casting,
    initial-default-or-NULL for columns that did not yet exist)
    and unioned."""
    from pyspark.sql import functions as F

    from etl_spark.lake.table import Field, absent_column_expr, spark_type

    dirs = sorted(
        (d for d in os.listdir(out_dir) if d.startswith("from=")),
        key=lambda d: int(d.split("=", 1)[1]),
    )
    if not dirs:
        raise FileNotFoundError(f"no export windows under {out_dir}")

    def fields_of(d: str) -> list[Field]:
        with open(os.path.join(out_dir, d, "_schema.json")) as fh:
            return [Field.from_json(x) for x in json.load(fh)["fields"]]

    target = fields_of(dirs[-1])
    out: DataFrame | None = None
    for d in dirs:
        by_id = {f.id: f for f in fields_of(d)}
        df = spark.read.parquet(os.path.join(out_dir, d))
        cols = []
        for tf in target:
            w = by_id.get(tf.id)
            if w is None:  # column added after this window was
                # exported: initial default (or NULL), same as reads
                cols.append(absent_column_expr(tf))
            else:
                c = F.col(w.name)
                if w.type != tf.type:  # widened since this window
                    c = c.cast(spark_type(tf.type))
                cols.append(c.alias(tf.name))
        cols += [F.col(c) for c in CHANGE_COLS if c in df.columns]
        df = df.select(*cols)
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out
