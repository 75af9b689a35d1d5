"""Shared refresh driver for the persisted-index family
(lake/dedup_index.py, lake/neardup_index.py, lake/ann_index.py).

All three indexes maintain "derived rows keyed by a pure function of
one source column" and share the exact same subtle invariants:

- cursor read -> noop short-circuit;
- first refresh = full resync: derive fresh rows from the source's
  CURRENT version, anti-join the stored rows to find stale ones (a
  first refresh that crashed before its cursor write left some),
  upsert + delete in one ledgered MERGE;
- incremental = DOUBLE signed collapse over the change feed: first
  per (id, value) so only window-net added/removed values are ever
  run through the (possibly expensive) derivation, then per index
  key so a change whose old and new value derive the same key nets
  0 and touches nothing;
- merge LSN = the window-end source version (feed `_change_lsn`s are
  unusable: a pre-image carries the OLD row's LSN, which can tie with
  an index row a previous refresh wrote and lose the newer-guard
  contest);
- crash safety: the MERGE is ledgered under a window-derived
  batch_key, so a refresh that dies between commit and cursor write
  re-runs as a no-op merge and then advances the cursor.

These lived as three near-identical copies; a fix to any one of them
had to be applied in three places in lockstep (the drift class the
round-4 review passes kept finding), so the scaffold is single-sourced
here and each index supplies only its derivation (`row_fn`), key list,
and cursor location.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from etl_spark.lake.changes import read_changes, signed_deltas
from etl_spark.lake.merge import merge_into
from etl_spark.lake.table import LakeTable
from etl_spark.util import read_cursor, write_cursor


def refresh_derived_index(
    src: LakeTable,
    index: LakeTable,
    *,
    id_col: str,
    value_col: str,
    row_fn: Callable[[DataFrame], DataFrame],
    index_key: list[str],
    prefix: str,
    cursor_path: str,
    persist: bool = False,
) -> dict:
    """Bring `index` up to `src`'s current version. `row_fn` maps a
    frame with columns (id: long, val: <value_col type>) to the
    derived index rows (exactly the `index_key` columns, unique per
    input row set). `persist=True` caches the frames a branch consumes
    twice — use it when `row_fn` is expensive (signature pipelines,
    centroid scoring); the caches are spent once the eager MERGE
    returns and are released before the cursor advances.

    Returns {"from_version", "to_version", "mode"} with mode in
    noop | full | incremental.
    """
    frm = read_cursor(cursor_path, "refreshed_version")
    cur = src.current_version()
    if cur <= frm and frm != 0:
        return {"from_version": frm, "to_version": cur, "mode": "noop"}

    to_release = []
    if frm == 0:
        base = src.read(version=cur).select(
            F.col(id_col).cast("long").alias("id"),
            F.col(value_col).alias("val"),
        )
        # persisted (when row_fn is expensive): referenced by BOTH the
        # stale anti-join and the src union — unpersisted the whole
        # corpus would be re-derived twice per resync
        fresh = row_fn(base)
        if persist:
            fresh = fresh.persist()
            to_release.append(fresh)
        stale = (
            index.read()
            .select(*index_key)
            .join(fresh.select(*index_key), index_key, "left_anti")
        )
        rows = fresh.withColumn("member", F.lit(True)).withColumn(
            "op", F.lit("U")
        ).unionByName(
            stale.withColumn("member", F.lit(True)).withColumn(
                "op", F.lit("D")
            )
        )
        mode = "full"
        batch_key = f"{prefix}-full-v{cur}"
    else:
        feed = read_changes(src, frm, cur, include_pre_images=True)
        # signed_deltas owns the feed's +1/-1 algebra (provenance is
        # known — the feed was just read with pre-images — so skip its
        # validation scan); first collapse per (id, value): only
        # window-net added/removed values reach row_fn, intermediates
        # cancel. Persisted when row_fn is expensive because the adds
        # and rems branches both consume it.
        per_val = (
            signed_deltas(feed, validate=False)
            .select(
                F.col(id_col).cast("long").alias("id"),
                F.col(value_col).alias("val"),
                F.col("_sign").alias("_s"),
            )
            .groupBy("id", "val")
            .agg(F.sum("_s").alias("_net"))
            .filter(F.col("_net") != 0)
        )
        if persist:
            per_val = per_val.persist()
            to_release.append(per_val)
        adds = row_fn(
            per_val.filter(F.col("_net") > 0).select("id", "val")
        ).withColumn("_s", F.lit(1))
        rems = row_fn(
            per_val.filter(F.col("_net") < 0).select("id", "val")
        ).withColumn("_s", F.lit(-1))
        # collapse again per index key: a change whose old and new
        # value derive the same key nets 0 there and touches nothing
        net = (
            adds.unionByName(rems)
            .groupBy(*index_key)
            .agg(F.sum("_s").alias("_net"))
            .filter(F.col("_net") != 0)
        )
        rows = net.select(
            *index_key,
            F.lit(True).alias("member"),
            F.when(F.col("_net") > 0, F.lit("U"))
            .otherwise(F.lit("D"))
            .alias("op"),
        )
        mode = "incremental"
        batch_key = f"{prefix}-incr-{frm}-{cur}"

    try:
        merge_into(
            index, rows.withColumn("lsn", F.lit(cur)), batch_key=batch_key
        )
    finally:
        for df in to_release:  # merge_into is eager; caches are spent
            df.unpersist()
    write_cursor(cursor_path, "refreshed_version", cur)
    return {"from_version": frm, "to_version": cur, "mode": mode}


def probe_version(index: LakeTable, cursor_path: str) -> int | None:
    """The source-table version a probe must read to stay
    snapshot-consistent with the stored index rows: the cursor's
    refreshed_version, or None when the index has never been refreshed
    (no stored rows — nothing to be consistent with). Probing the
    CURRENT source version instead would mix snapshots: stored rows
    reflect the last refresh while values read live, so a row changed
    since the refresh would be found under its stale key but scored/
    verified with its new value — a result corresponding to no single
    corpus version."""
    v = read_cursor(cursor_path, "refreshed_version")
    return v if v > 0 else None
