"""Change-data-feed tests: classification, LSN guard on carried-over
rows, compaction emptiness, schema evolution across the window, CoW
and MoR parity."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.lake.changes import read_changes
from etl_spark.lake.merge import merge_into
from etl_spark.lake.table import LakeTable

FIELDS = [("conv_id", "string"), ("turn_idx", "int"), ("text", "string")]
KEY = ["conv_id", "turn_idx"]


def _mk(spark, tmp_path, mode="cow"):
    return LakeTable.create(
        spark, str(tmp_path / f"tbl_{mode}"), FIELDS, KEY, "conv_id",
        num_buckets=8, write_mode=mode,
    )


def _src(spark, rows):
    df = spark.createDataFrame(pd.DataFrame(rows))
    return df.withColumn("turn_idx", F.col("turn_idx").cast("int"))


def _feed(t, v0, v1, pre=False):
    rows = read_changes(t, v0, v1, include_pre_images=pre).collect()
    return {
        (r["conv_id"], r["turn_idx"], r["_change_type"]):
            (r["text"], r["_commit_version"], r["_change_lsn"])
        for r in rows
    }


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_change_classification(spark, tmp_path, mode):
    t = _mk(spark, tmp_path, mode)
    v0 = merge_into(
        t,
        _src(spark, [
            dict(conv_id="a", turn_idx=0, text="a0", lsn=1, op="U"),
            dict(conv_id="a", turn_idx=1, text="a1", lsn=2, op="U"),
            dict(conv_id="b", turn_idx=0, text="b0", lsn=3, op="U"),
            dict(conv_id="c", turn_idx=0, text="c0", lsn=4, op="D"),
        ]),
        batch_key="b0",
    )
    v1 = merge_into(
        t,
        _src(spark, [
            dict(conv_id="a", turn_idx=0, text="a0v2", lsn=10, op="U"),  # update
            dict(conv_id="b", turn_idx=0, text=None, lsn=11, op="D"),    # delete
            dict(conv_id="d", turn_idx=0, text="d0", lsn=12, op="U"),    # insert
            dict(conv_id="c", turn_idx=0, text="c0v2", lsn=13, op="U"),  # resurrect
        ]),
        batch_key="b1",
    )
    got = _feed(t, v0, v1, pre=True)
    assert got == {
        ("a", 0, "update_postimage"): ("a0v2", v1, 10),
        ("a", 0, "update_preimage"): ("a0", v1, 1),
        ("b", 0, "delete"): ("b0", v1, 11),  # pre-image text, tombstone lsn
        ("d", 0, "insert"): ("d0", v1, 12),
        ("c", 0, "insert"): ("c0v2", v1, 13),  # tombstone -> live
    }
    # without pre-images: same minus the preimage row
    got2 = _feed(t, v0, v1, pre=False)
    assert ("a", 0, "update_preimage") not in got2 and len(got2) == 4
    # full-history feed (from the empty v0 table) includes commit 1:
    # untouched a#1 appears ONLY as its original insert
    full = _feed(t, 0, v1, pre=False)
    assert full[("a", 1, "insert")] == ("a1", v0, 2)
    assert ("c", 0, "insert") in full and full[("c", 0, "insert")][1] == v1


def test_carried_over_rows_and_compaction_emit_nothing(spark, tmp_path):
    t = _mk(spark, tmp_path)
    merge_into(
        t,
        _src(spark, [
            dict(conv_id="a", turn_idx=i, text=f"a{i}", lsn=i + 1, op="U")
            for i in range(6)
        ]),
        batch_key="b0",
    )
    v1 = t.current_version()
    # touch ONE key: the CoW rewrite copies the other rows of the
    # bucket — they must not re-emit
    v2 = merge_into(
        t,
        _src(spark, [dict(conv_id="a", turn_idx=0, text="new", lsn=99, op="U")]),
        batch_key="b1",
    )
    got = _feed(t, v1, v2)
    assert list(got) == [("a", 0, "update_postimage")]
    # compaction commits a version but changes no logical rows
    v3 = t.compact(1)
    assert read_changes(t, v2, v3).count() == 0


def test_changes_across_schema_evolution(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v0 = merge_into(
        t,
        _src(spark, [dict(conv_id="a", turn_idx=0, text="a0", lsn=1, op="U")]),
        batch_key="b0",
    )
    t.add_column("lang", "string")
    src = _src(
        spark, [dict(conv_id="b", turn_idx=0, text="b0", lsn=2, op="U")]
    ).withColumn("lang", F.lit("en"))
    v2 = merge_into(t, src, batch_key="b1")
    rows = {r["conv_id"]: r for r in read_changes(t, v0, v2).collect()}
    # the post-evolution feed is in the CURRENT schema: the new row
    # carries its lang, and columns exist even for pre-evolution images
    assert rows["b"]["lang"] == "en" and rows["b"]["_change_type"] == "insert"
    assert set(read_changes(t, v0, v2).columns) >= {"conv_id", "lang"}


def test_bad_version_range(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError):
        read_changes(t, 5, 1)


def test_signed_deltas_maintenance(spark, tmp_path):
    """base agg + signed feed deltas == direct agg of the new state."""
    from etl_spark.lake.changes import signed_deltas

    t = _mk(spark, tmp_path)
    v0 = merge_into(
        t,
        _src(spark, [
            dict(conv_id="a", turn_idx=0, text="x", lsn=1, op="U"),
            dict(conv_id="a", turn_idx=1, text="y", lsn=2, op="U"),
            dict(conv_id="b", turn_idx=0, text="z", lsn=3, op="U"),
        ]),
        batch_key="b0",
    )
    v1 = merge_into(
        t,
        _src(spark, [
            dict(conv_id="a", turn_idx=0, text="xx", lsn=10, op="U"),
            dict(conv_id="b", turn_idx=0, text=None, lsn=11, op="D"),
            dict(conv_id="c", turn_idx=0, text="w", lsn=12, op="U"),
        ]),
        batch_key="b1",
    )
    base = {
        r["conv_id"]: r["n"]
        for r in t.read(version=v0).groupBy("conv_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    d = signed_deltas(read_changes(t, v0, v1, include_pre_images=True))
    for r in d.groupBy("conv_id").agg(F.sum("_sign").alias("dn")).collect():
        base[r["conv_id"]] = base.get(r["conv_id"], 0) + r["dn"]
    direct = {
        r["conv_id"]: r["count"]
        for r in t.read(version=v1).groupBy("conv_id").count().collect()
    }
    assert {k: v for k, v in base.items() if v > 0} == direct
    # feeds without pre-images are rejected for delta maintenance
    with pytest.raises(ValueError):
        signed_deltas(read_changes(t, v0, v1, include_pre_images=False))


def test_maintenance_commits_skip_the_feed_diff(spark, tmp_path):
    """Compaction commits are version-stamp-marked as maintenance: the
    feed window spanning them emits the same logical changes, and the
    per-commit diff short-circuits to None (no scan) instead of
    relying on the LSN guard to discard carried-over rows. The next
    real commit inherits the stale marker and is still diffed."""
    from etl_spark.lake.changes import _commit_changes

    t = _mk(spark, tmp_path, "mor")
    v0 = 0
    merge_into(t, _src(spark, [
        dict(conv_id="a", turn_idx=0, text="a0", lsn=1, op="U"),
        dict(conv_id="b", turn_idx=0, text="b0", lsn=2, op="U"),
    ]), batch_key="b0")
    merge_into(t, _src(spark, [
        dict(conv_id="a", turn_idx=0, text="a0v2", lsn=10, op="U"),
        dict(conv_id="b", turn_idx=0, text=None, lsn=11, op="D"),
    ]), batch_key="b1")
    v_pre = t.current_version()
    feed_before = read_changes(t, v0).toPandas()

    v_compact = t.compact(max_files_per_bucket=1)
    assert v_compact > v_pre  # compaction really committed
    assert t.manifest(v_compact).props.get("maintenance_commit") == v_compact
    assert _commit_changes(t, v_compact, include_pre_images=True) is None

    feed_after = read_changes(t, v0).toPandas()
    pd.testing.assert_frame_equal(
        feed_before.sort_values(["_commit_version", "conv_id", "turn_idx",
                                 "_change_type"]).reset_index(drop=True),
        feed_after.sort_values(["_commit_version", "conv_id", "turn_idx",
                                "_change_type"]).reset_index(drop=True),
    )

    # a stale inherited marker must NOT silence the next real commit
    v_real = merge_into(t, _src(spark, [
        dict(conv_id="a", turn_idx=0, text="a0v3", lsn=20, op="U"),
    ]), batch_key="b2")
    assert t.manifest(v_real).props["maintenance_commit"] == v_compact
    real = _commit_changes(t, v_real, include_pre_images=False).collect()
    assert [(r["conv_id"], r["text"], r["_change_type"]) for r in real] == [
        ("a", "a0v3", "update_postimage")
    ]


def test_read_changes_datetime_bounds(spark, tmp_path):
    """Either feed bound may be a datetime (as-of resolution via
    version_at): 'changes since <wall time>' equals the same window
    by version number."""
    import datetime as dt
    import time

    t = _mk(spark, tmp_path)
    merge_into(
        t, _src(spark, [dict(conv_id="a", turn_idx=0, text="a0",
                             lsn=1, op="U")]), batch_key="b0",
    )
    v1 = t.current_version()
    t_mid = dt.datetime.now(dt.timezone.utc)
    time.sleep(0.01)
    merge_into(
        t, _src(spark, [dict(conv_id="a", turn_idx=0, text="a1",
                             lsn=2, op="U"),
                        dict(conv_id="b", turn_idx=0, text="b0",
                             lsn=3, op="U")]), batch_key="b1",
    )
    by_version = sorted(
        (r["conv_id"], r["_change_type"])
        for r in read_changes(t, v1).collect()
    )
    by_time = sorted(
        (r["conv_id"], r["_change_type"])
        for r in read_changes(t, t_mid).collect()
    )
    assert by_time == by_version and len(by_time) > 0
