"""merge_into unit tests: upsert, delete-tombstone, LSN guard, pruning."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from etl_spark.lake.merge import merge_into
from etl_spark.lake.table import LakeTable

FIELDS = [("conv_id", "string"), ("turn_idx", "int"), ("text", "string"), ("ts", "long")]
KEY = ["conv_id", "turn_idx"]


def make_seeded(spark, tmp_path, rows):
    t = LakeTable.create(
        spark, str(tmp_path / "tbl"), FIELDS, KEY, "conv_id", num_buckets=8
    )
    if rows:
        pdf = pd.DataFrame(rows)
        df = spark.createDataFrame(pdf).withColumn(
            "turn_idx", F.col("turn_idx").cast("int")
        )
        t.append_full(df, batch_key="seed")
    return t


def src_df(spark, rows):
    df = spark.createDataFrame(pd.DataFrame(rows))
    return df.withColumn("turn_idx", F.col("turn_idx").cast("int"))


def state(t):
    return {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["ts"])
        for r in t.read().collect()
    }


def test_merge_insert_update_delete(spark, tmp_path):
    t = make_seeded(
        spark,
        tmp_path,
        [
            dict(conv_id="a", turn_idx=0, text="a0", ts=0),
            dict(conv_id="a", turn_idx=1, text="a1", ts=0),
            dict(conv_id="b", turn_idx=0, text="b0", ts=0),
        ],
    )
    src = src_df(
        spark,
        [
            dict(conv_id="a", turn_idx=1, text="a1-v2", ts=5, op="U", lsn=10),
            dict(conv_id="b", turn_idx=0, text=None, ts=None, op="D", lsn=11),
            dict(conv_id="c", turn_idx=0, text="c0", ts=7, op="I", lsn=12),
        ],
    )
    merge_into(t, src, batch_key="b1")
    assert state(t) == {
        ("a", 0): ("a0", 0),
        ("a", 1): ("a1-v2", 5),
        ("c", 0): ("c0", 7),
    }


def test_merge_lsn_guard_rejects_stale(spark, tmp_path):
    t = make_seeded(spark, tmp_path, [dict(conv_id="a", turn_idx=0, text="v1", ts=0)])
    merge_into(
        t, src_df(spark, [dict(conv_id="a", turn_idx=0, text="v2", ts=1, op="U", lsn=20)])
    )
    # stale event (lower LSN) arrives later -> must NOT win
    merge_into(
        t, src_df(spark, [dict(conv_id="a", turn_idx=0, text="old", ts=9, op="U", lsn=5)])
    )
    assert state(t) == {("a", 0): ("v2", 1)}


def test_delete_tombstone_blocks_stale_resurrection(spark, tmp_path):
    t = make_seeded(spark, tmp_path, [dict(conv_id="a", turn_idx=0, text="v1", ts=0)])
    merge_into(
        t, src_df(spark, [dict(conv_id="a", turn_idx=0, text=None, ts=None, op="D", lsn=50)])
    )
    assert state(t) == {}
    # out-of-order stale update across batches must stay dead
    merge_into(
        t, src_df(spark, [dict(conv_id="a", turn_idx=0, text="zombie", ts=1, op="U", lsn=40)])
    )
    assert state(t) == {}
    # but a NEWER insert after the delete resurrects the key
    merge_into(
        t, src_df(spark, [dict(conv_id="a", turn_idx=0, text="reborn", ts=2, op="I", lsn=60)])
    )
    assert state(t) == {("a", 0): ("reborn", 2)}


def test_merge_batch_replay_is_noop(spark, tmp_path):
    t = make_seeded(spark, tmp_path, [dict(conv_id="a", turn_idx=0, text="v1", ts=0)])
    src = src_df(spark, [dict(conv_id="a", turn_idx=0, text="v2", ts=1, op="U", lsn=9)])
    v1 = merge_into(t, src, batch_key="epoch-7")
    v2 = merge_into(t, src, batch_key="epoch-7")  # foreachBatch retry
    assert v1 == v2
    assert state(t) == {("a", 0): ("v2", 1)}


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    rows = [
        dict(conv_id=f"conv-{i}", turn_idx=0, text=f"t{i}", ts=0) for i in range(40)
    ]
    t = make_seeded(spark, tmp_path, rows)
    files_before = {f.path: f.bucket for f in t.manifest().files}
    merge_into(
        t,
        src_df(spark, [dict(conv_id="conv-3", turn_idx=0, text="new", ts=1, op="U", lsn=1)]),
    )
    m = t.manifest()
    touched_bucket = [
        r[0]
        for r in t.spark.createDataFrame([("conv-3",)], "conv_id string")
        .select(m.bucket_expr())
        .collect()
    ][0]
    for f in m.files:
        if f.bucket != touched_bucket:
            assert f.path in files_before  # untouched buckets carried over
    assert any(f.path not in files_before for f in m.files)
