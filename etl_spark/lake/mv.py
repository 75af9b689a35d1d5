"""Incrementally-maintained materialized aggregate over a lake table.

The persistent form of the signed-delta algebra the change feed
enables (lake/changes.py `signed_deltas`, proven hash-exact by the
`cdc_incremental_agg` oracle): a derived GROUP-BY table that is
refreshed from each commit window's deltas instead of rescanning the
base — the downstream half of a CDC deployment (dashboards, feature
aggregates) at 10^10-row scale, where "recompute the aggregate" is a
full-table job but "apply this window's deltas" is O(changed rows).

State layout under `mv_dir`:

    _cursor.json        last refreshed base-table version (atomic)
    state-v<V>.parquet  the aggregate as of base version V

Refresh protocol (same two-phase shape as export/ingest):

1. first refresh: full GROUP BY of the current snapshot → state file,
   then cursor.
2. later refreshes: read the (cursor, current] change feed WITH
   pre-images, fold ``sum(_sign)`` into the row count and
   ``sum(_sign * metric)`` into each sum, merge with the previous
   state, write ``state-v<current>``, THEN advance the cursor, then
   garbage-collect superseded state files. A crash anywhere leaves
   either the old cursor + a harmless orphan state file (the rerun
   overwrites it) or the new cursor + a stale old state file (swept on
   the next refresh) — never a torn aggregate.

Groups whose count folds to zero are dropped (the group no longer
exists in the base). Metrics must be ADDITIVE (counts, integer sums);
averages derive downstream as sum/count. Maintenance commits emit no
feed rows (inherited from read_changes semantics).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from etl_spark.lake.changes import read_changes, signed_deltas
from etl_spark.lake.table import LakeTable
from etl_spark.util import read_cursor, write_cursor


def _state_path(mv_dir: str, version: int) -> str:
    return os.path.join(mv_dir, f"state-v{version:010d}.parquet")


def _aggregate(df: DataFrame, dims: list[str], sums: dict[str, str]) -> DataFrame:
    aggs = [F.count("*").cast("long").alias("n_rows")] + [
        F.sum(F.expr(e)).cast("long").alias(name) for name, e in sums.items()
    ]
    return df.groupBy(*dims).agg(*aggs)


def refresh(
    table: LakeTable,
    mv_dir: str,
    dims: list[str],
    sums: dict[str, str] | None = None,
) -> dict:
    """Bring the materialized aggregate up to the table's current
    version. `sums` maps output column -> additive long SQL expression
    over the base columns (e.g. {"sum_cents": "CAST(round(value*100)
    AS LONG)"}). Returns {"from_version", "to_version", "mode"}."""
    sums = sums or {}
    os.makedirs(mv_dir, exist_ok=True)
    cursor_path = os.path.join(mv_dir, "_cursor.json")
    frm = read_cursor(cursor_path, "refreshed_version")
    cur = table.current_version()
    if cur <= frm and frm != 0:
        return {"from_version": frm, "to_version": cur, "mode": "noop"}

    if frm == 0:
        state = _aggregate(table.read(version=cur), dims, sums)
        mode = "full"
    else:
        prev = table.spark.read.parquet(_state_path(mv_dir, frm))
        d = signed_deltas(
            read_changes(table, frm, cur, include_pre_images=True),
            validate=False,
        )
        deltas = d.groupBy(*dims).agg(
            F.sum("_sign").cast("long").alias("n_rows"),
            *[
                F.sum(F.col("_sign") * F.expr(e)).cast("long").alias(name)
                for name, e in sums.items()
            ],
        )
        state = (
            prev.unionByName(deltas)
            .groupBy(*dims)
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                *[F.sum(c).cast("long").alias(c) for c in sums],
            )
            .filter(F.col("n_rows") > 0)
        )
        mode = "incremental"

    state.write.mode("overwrite").parquet(_state_path(mv_dir, cur))
    write_cursor(cursor_path, "refreshed_version", cur)
    for name in os.listdir(mv_dir):  # sweep superseded state files
        if name.startswith("state-v") and name != f"state-v{cur:010d}.parquet":
            import shutil

            shutil.rmtree(os.path.join(mv_dir, name), ignore_errors=True)
    return {"from_version": frm, "to_version": cur, "mode": mode}


def read_mv(spark, mv_dir: str) -> DataFrame:
    """The maintained aggregate as of its cursor version."""
    version = read_cursor(os.path.join(mv_dir, "_cursor.json"), "refreshed_version")
    return spark.read.parquet(_state_path(mv_dir, version))
