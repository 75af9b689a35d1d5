"""Materialized-aggregate maintenance: incremental refreshes over the
change feed must always equal a full recompute of the current snapshot,
across inserts, updates, deletes, and crash-replayed refreshes."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from etl_spark.lake.merge import merge_into
from etl_spark.lake.mv import read_mv, refresh
from tests.test_changes import _mk, _src

DIMS = ["conv_id"]
SUMS = {"sum_turns": "CAST(turn_idx AS LONG)"}


def _direct(t) -> pd.DataFrame:
    return (
        t.read()
        .groupBy(*DIMS)
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.expr(SUMS["sum_turns"])).cast("long").alias("sum_turns"),
        )
        .toPandas()
        .sort_values(DIMS)
        .reset_index(drop=True)
    )


def _mv(spark, mv_dir) -> pd.DataFrame:
    return (
        read_mv(spark, mv_dir)
        .toPandas()
        .sort_values(DIMS)
        .reset_index(drop=True)[["conv_id", "n_rows", "sum_turns"]]
    )


def test_mv_incremental_equals_full_recompute(spark, tmp_path):
    t = _mk(spark, tmp_path, "mor")
    mv_dir = str(tmp_path / "mv")
    merge_into(t, _src(spark, [
        dict(conv_id="a", turn_idx=0, text="a0", lsn=1, op="U"),
        dict(conv_id="a", turn_idx=1, text="a1", lsn=2, op="U"),
        dict(conv_id="b", turn_idx=5, text="b5", lsn=3, op="U"),
    ]), batch_key="b0")

    s0 = refresh(t, mv_dir, DIMS, SUMS)
    assert s0["mode"] == "full"
    pd.testing.assert_frame_equal(_mv(spark, mv_dir), _direct(t))

    # window with an update (pre-image must subtract), a delete that
    # eliminates a whole group, and a fresh insert
    merge_into(t, _src(spark, [
        dict(conv_id="a", turn_idx=1, text="a1v2", lsn=10, op="U"),
        dict(conv_id="b", turn_idx=5, text=None, lsn=11, op="D"),
        dict(conv_id="c", turn_idx=7, text="c7", lsn=12, op="U"),
    ]), batch_key="b1")
    merge_into(t, _src(spark, [
        dict(conv_id="a", turn_idx=2, text="a2", lsn=20, op="U"),
    ]), batch_key="b2")

    s1 = refresh(t, mv_dir, DIMS, SUMS)
    assert s1["mode"] == "incremental" and s1["from_version"] == s0["to_version"]
    got = _mv(spark, mv_dir)
    pd.testing.assert_frame_equal(got, _direct(t))
    assert "b" not in set(got["conv_id"])  # zero-count group dropped

    # no new commits -> noop
    assert refresh(t, mv_dir, DIMS, SUMS)["mode"] == "noop"


def test_mv_crash_replayed_refresh_is_idempotent(spark, tmp_path):
    """Reconstruct the exact crash window — state-v<new> fully written,
    cursor NOT advanced, old state still present — and verify the rerun
    overwrites the orphan instead of double-applying deltas."""
    import shutil

    t = _mk(spark, tmp_path, "cow")
    mv_dir = str(tmp_path / "mv")
    merge_into(t, _src(spark, [
        dict(conv_id="a", turn_idx=0, text="a0", lsn=1, op="U"),
    ]), batch_key="b0")
    refresh(t, mv_dir, DIMS, SUMS)

    merge_into(t, _src(spark, [
        dict(conv_id="a", turn_idx=3, text="a3", lsn=10, op="U"),
    ]), batch_key="b1")
    pre = str(tmp_path / "pre_crash")
    shutil.copytree(mv_dir, pre)  # snapshot BEFORE the second refresh
    s = refresh(t, mv_dir, DIMS, SUMS)  # the run that will "crash"
    want = _mv(spark, mv_dir)
    new_state = f"state-v{s['to_version']:010d}.parquet"

    # crash window: orphan new state exists, cursor and old state are
    # as before the refresh
    orphan = os.path.join(tmp_path, "orphan_copy")
    shutil.copytree(os.path.join(mv_dir, new_state), orphan)
    shutil.rmtree(mv_dir)
    shutil.copytree(pre, mv_dir)
    shutil.copytree(orphan, os.path.join(mv_dir, new_state))

    s2 = refresh(t, mv_dir, DIMS, SUMS)  # the crash-replayed run
    assert s2["mode"] == "incremental"
    pd.testing.assert_frame_equal(_mv(spark, mv_dir), want)
