"""Partial-image (patch) CDC: op='P' events carrying only changed
columns plus a `_changed` mask, folded over the latest full image per
key (engine/resolve.py resolve_patch_fold) and MERGE-coalesced per
column (lake/merge.py). The reference overwrites whole rows in listing
order (/root/reference/src/pipeline/core/spark.py:157-177) and has no
partial-image path; these semantics model Debezium partial row images
/ MySQL binlog_row_image=MINIMAL."""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.config import EngineConfig
from etl_spark.engine.apply import apply_batch
from etl_spark.engine.resolve import resolve_patch_fold
from etl_spark.gen.binlog import GenConfig, gen_base, gen_binlog, gen_schema_ops, write_segments
from etl_spark.gen.oracle import replay_oracle
from etl_spark.pipeline import bootstrap, final_state, replay
from tests.util import assert_frames_equal


# ------------------------------------------------------------- unit
def _fold_frame(spark, rows):
    """rows: (k, lsn, op, a, set_a, b, set_b)"""
    return spark.createDataFrame(
        rows, "k string, lsn long, op string, a string, _set_a boolean, b string, _set_b boolean"
    ).select("k", "lsn", "op", "a", "b", "_set_a", "_set_b")


def test_fold_patch_over_full_image(spark):
    out = resolve_patch_fold(
        _fold_frame(
            spark,
            [
                ("k1", 5, "U", "a5", True, "b5", True),
                ("k1", 9, "P", "a9", True, None, False),  # patches a only
                ("k1", 2, "P", "a2", True, "b2", True),  # stale patch loses
            ],
        ),
        ["k"],
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["a"], r["b"], r["op"], r["lsn"]) == ("a9", "b5", "U", 9)
    assert r["_set_a"] and r["_set_b"]


def test_fold_patch_only_key_sets_subset(spark):
    r = resolve_patch_fold(
        _fold_frame(
            spark,
            [
                ("k1", 7, "P", "a7", True, None, False),
                ("k1", 4, "P", None, False, "b4", True),
            ],
        ),
        ["k"],
    ).collect()[0]
    # no full image in the batch: op='P', each column from its latest
    # carrying patch, set flags only for carried columns
    assert (r["a"], r["b"], r["op"], r["lsn"]) == ("a7", "b4", "P", 7)
    assert r["_set_a"] and r["_set_b"]


def test_fold_delete_beats_earlier_patches(spark):
    r = resolve_patch_fold(
        _fold_frame(
            spark,
            [
                ("k1", 3, "U", "a3", True, "b3", True),
                ("k1", 6, "P", "a6", True, None, False),
                ("k1", 8, "D", None, True, None, True),
            ],
        ),
        ["k"],
    ).collect()[0]
    assert (r["op"], r["lsn"], r["a"], r["b"]) == ("D", 8, None, None)


def test_fold_patch_null_assignment_survives(spark):
    """A patch that sets a column to NULL must fold to NULL (struct-max
    keeps the null VALUE at the winning LSN; max_by/arg_max would skip
    it — the reason for the struct-max kernel)."""
    r = resolve_patch_fold(
        _fold_frame(
            spark,
            [
                ("k1", 5, "U", "a5", True, "b5", True),
                ("k1", 9, "P", None, True, None, False),  # sets a := NULL
            ],
        ),
        ["k"],
    ).collect()[0]
    assert r["a"] is None and r["b"] == "b5" and r["_set_a"]


def test_fold_lineage_counts(spark):
    """The fold's lineage tallies ride the same aggregation: `_nev` raw
    events and `_nnew` distinct LSNs outside the covered ranges."""
    rows = [
        ("k1", 1, "I", "a1", True, "b1", True),
        ("k1", 4, "P", "a4", True, None, False),
        ("k1", 6, "P", None, False, "b6", True),
        ("k2", 2, "I", "x", True, "y", True),
        ("k2", 3, "D", None, True, None, True),
    ]
    out = {
        r["k"]: r.asDict()
        for r in resolve_patch_fold(_fold_frame(spark, rows), ["k"], with_counts=True,
                                    covered_lsn_ranges=[]).collect()
    }
    assert out["k1"]["a"] == "a4" and out["k1"]["b"] == "b6"
    assert out["k1"]["_nev"] == 3 and out["k1"]["_nnew"] == 3
    assert (out["k2"]["op"], out["k2"]["_nev"], out["k2"]["_nnew"]) == ("D", 2, 2)


# ----------------------------------------------- engine end-to-end
def _run_batches(spark, tmp_path, ops, base, binlog, **cfg_kw):
    cfg = EngineConfig(
        table_root=str(tmp_path / "tbl"),
        manifest_dir=str(tmp_path / "manifest"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=8,
        write_mode="cow",
        patch_ops=True,
        **cfg_kw,
    )
    bootstrap(spark, cfg, base)
    for batch_id, (_, seg) in enumerate(binlog.groupby("_seg")):
        seg = seg.drop(columns="_seg").copy()
        df = spark.createDataFrame(seg)
        df = df.withColumn("turn_idx", F.col("turn_idx").cast("int")).withColumn(
            "schema_version", F.col("schema_version").cast("int")
        )
        apply_batch(spark, cfg, ops, df, batch_id)
    return cfg


def test_patch_replay_matches_oracle_batch_path(spark, tmp_path):
    g = GenConfig(
        n_convs=6, n_events=160, dup_rate=0.1, disorder_window=6,
        segment_size=40, patch_rate=0.5,
    )
    base = gen_base(g)
    ops = gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    assert (binlog["op"] == "P").sum() > 10, "generator must emit patches"
    cfg = _run_batches(spark, tmp_path, ops, base, binlog)
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))


def test_patch_replay_with_schema_evolution(spark, tmp_path):
    """Patches straddle the rename/widen boundaries: a pre-rename patch
    masks `tool`, a post-rename one masks `tool_name`; both must land
    on the same stable field ID. Post-widen patched `ts` arrives as an
    ISO string and folds to timestamp."""
    g = GenConfig(
        n_convs=6, n_events=180, dup_rate=0.08, disorder_window=5,
        segment_size=30, patch_rate=0.45, schema_op_fracs=(0.2, 0.5, 0.8),
    )
    base = gen_base(g)
    ops = gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    masks = [
        json.loads(p)["_changed"]
        for p, o in zip(binlog["payload"], binlog["op"])
        if o == "P"
    ]
    flat = {n for m in masks for n in m}
    assert "tool" in flat and "tool_name" in flat, "need patches on both sides of the rename"
    cfg = _run_batches(spark, tmp_path, ops, base, binlog)
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))


def test_patch_cross_batch_coalesces_from_target(spark, tmp_path):
    """The patched key's full image is in an EARLIER batch: the MERGE
    must coalesce unset columns from the target row (op='P' source)."""
    ops: list = []
    mk = dict(conv_id="c-1", turn_idx=0, schema_version=1)
    seg0 = pd.DataFrame(
        [
            dict(
                lsn=1, op="I",
                payload=json.dumps(dict(role="user", text="hello world", tool=None, ts=100)),
                _seg=0, **mk,
            )
        ]
    )
    seg1 = pd.DataFrame(
        [
            dict(
                lsn=2, op="P",
                payload=json.dumps(dict(tool="search", _changed=["tool"])),
                _seg=1, **mk,
            )
        ]
    )
    binlog = pd.concat([seg0, seg1], ignore_index=True)
    binlog["op_ts"] = pd.Timestamp("2026-01-01") + pd.to_timedelta(binlog["lsn"], unit="s")
    binlog["turn_idx"] = binlog["turn_idx"].astype("int32")
    binlog["schema_version"] = binlog["schema_version"].astype("int32")
    binlog["lsn"] = binlog["lsn"].astype("int64")
    cfg = _run_batches(spark, tmp_path, ops, None, binlog)
    rows = final_state(spark, cfg).collect()
    assert len(rows) == 1
    r = rows[0]
    # text/role/ts survive from the batch-0 insert; tool patched in batch 1
    assert (r["text"], r["role"], r["tool"], r["ts"]) == ("hello world", "user", "search", 100)


def test_patch_streaming_replay_matches_oracle(spark, tmp_path):
    """The REAL streaming path (file source -> foreachBatch) with
    patches, duplicates, disorder, and schema evolution."""
    g = GenConfig(
        n_convs=6, n_events=150, dup_rate=0.1, disorder_window=5,
        segment_size=30, patch_rate=0.4, schema_op_fracs=(0.2, 0.5, 0.8),
    )
    base = gen_base(g)
    ops = gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    seg_dir = str(tmp_path / "segments")
    write_segments(binlog, seg_dir)
    cfg = EngineConfig(
        table_root=str(tmp_path / "tbl"),
        manifest_dir=str(tmp_path / "manifest"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=8,
        max_files_per_trigger=1,
        write_mode="cow",
        patch_ops=True,
    )
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, ops)
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))
    from etl_spark.engine import lineage

    inv = lineage.check_invariants(spark, cfg.manifest_dir)
    assert inv["events_distinct_total"] == g.n_events


def test_patch_mor_small_replay_arms_prop(spark, tmp_path):
    """MoR patch mode (previously rejected, now first-class): the
    first patch append arms the `patch_deltas` manifest prop and the
    replay still matches the oracle on a tiny corpus."""
    g = GenConfig(n_convs=3, n_events=30, segment_size=30, patch_rate=0.5)
    base = gen_base(g)
    binlog = gen_binlog(g, base, [])
    seg_dir = str(tmp_path / "segments")
    write_segments(binlog, seg_dir)
    cfg = EngineConfig(
        table_root=str(tmp_path / "tbl"),
        manifest_dir=str(tmp_path / "manifest"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        write_mode="mor",
        patch_ops=True,
    )
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, [])
    from etl_spark.lake.table import LakeTable

    assert LakeTable(spark, cfg.table_root).manifest().props.get("patch_deltas")
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, []))


def test_patch_out_of_order_batch_raises(spark, tmp_path):
    """Patch folding is order-sensitive across batches (a patch's base
    image may live in a not-yet-applied batch), so a batch whose LSN
    span dips below prior coverage must fail loud, not fold lossy."""
    g = GenConfig(n_convs=4, n_events=80, dup_rate=0.0, disorder_window=1, segment_size=40)
    base = gen_base(g)
    binlog = gen_binlog(g, base, [])
    cfg = EngineConfig(
        table_root=str(tmp_path / "tbl"),
        manifest_dir=str(tmp_path / "manifest"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=8,
        write_mode="cow",
        patch_ops=True,
    )
    bootstrap(spark, cfg, base)
    segs = {s: df.drop(columns="_seg").copy() for s, df in binlog.groupby("_seg")}

    def apply_seg(seg_pdf, batch_id):
        df = spark.createDataFrame(seg_pdf)
        df = df.withColumn("turn_idx", F.col("turn_idx").cast("int")).withColumn(
            "schema_version", F.col("schema_version").cast("int")
        )
        apply_batch(spark, cfg, [], df, batch_id)

    apply_seg(segs[1], 0)  # second segment first (lsns 41..80)
    with pytest.raises(ValueError, match="in-LSN-order"):
        apply_seg(segs[0], 1)  # earlier lsns arrive later -> loud


def test_patch_streaming_replay_mor_matches_oracle(spark, tmp_path):
    """Merge-on-read patch mode: op='P' change sets land as masked
    delta rows (O(batch) write cost) and the READ-TIME patch fold
    (`LakeTable._resolve_versions`, `patch_deltas` prop) reproduces
    the sequential oracle exactly — same corpus shape as the CoW
    golden (dups, disorder, schema evolution)."""
    g = GenConfig(
        n_convs=6, n_events=150, dup_rate=0.1, disorder_window=5,
        segment_size=30, patch_rate=0.4, schema_op_fracs=(0.2, 0.5, 0.8),
    )
    base = gen_base(g)
    ops = gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    seg_dir = str(tmp_path / "segments")
    write_segments(binlog, seg_dir)
    cfg = EngineConfig(
        table_root=str(tmp_path / "tbl"),
        manifest_dir=str(tmp_path / "manifest"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=8,
        max_files_per_trigger=1,
        write_mode="mor",
        patch_ops=True,
    )
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, ops)
    from etl_spark.lake.table import LakeTable

    table = LakeTable(spark, cfg.table_root)
    assert table.manifest().props.get("patch_deltas") is True
    oracle = replay_oracle(base, binlog, ops)
    assert_frames_equal(final_state(spark, cfg), oracle)
    # compaction collapses the delta stack through the same fold:
    # state identical, patch rows folded into full images
    table.compact(max_files_per_bucket=1)
    assert_frames_equal(final_state(spark, cfg), oracle)
    raw = table.read_raw()
    assert raw.filter(F.col("_patched").isNotNull()).count() == 0


def test_patch_mor_cross_batch_fold_and_feed(spark, tmp_path):
    """The patched key's full image is in an EARLIER delta batch: the
    read-time fold coalesces across delta files, and the change feed
    emits the patch commit as a FULL post-image (the fold runs on both
    diff sides)."""
    from etl_spark.lake.changes import read_changes
    from etl_spark.lake.table import LakeTable

    ops: list = []
    mk = dict(conv_id="c-1", turn_idx=0, schema_version=1)
    seg0 = pd.DataFrame(
        [
            dict(
                lsn=1, op="I",
                payload=json.dumps(dict(role="user", text="hello world", tool=None, ts=100)),
                _seg=0, **mk,
            )
        ]
    )
    seg1 = pd.DataFrame(
        [
            dict(
                lsn=2, op="P",
                payload=json.dumps(dict(tool="search", _changed=["tool"])),
                _seg=1, **mk,
            )
        ]
    )
    binlog = pd.concat([seg0, seg1], ignore_index=True)
    binlog["op_ts"] = pd.Timestamp("2026-01-01") + pd.to_timedelta(binlog["lsn"], unit="s")
    binlog["turn_idx"] = binlog["turn_idx"].astype("int32")
    binlog["schema_version"] = binlog["schema_version"].astype("int32")
    binlog["lsn"] = binlog["lsn"].astype("int64")
    cfg = EngineConfig(
        table_root=str(tmp_path / "tbl"),
        manifest_dir=str(tmp_path / "manifest"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=8,
        write_mode="mor",
        patch_ops=True,
    )
    bootstrap(spark, cfg, None)
    v0 = LakeTable(spark, cfg.table_root).current_version()
    for batch_id, (_, seg) in enumerate(binlog.groupby("_seg")):
        df = spark.createDataFrame(seg.drop(columns="_seg"))
        df = df.withColumn("turn_idx", F.col("turn_idx").cast("int")).withColumn(
            "schema_version", F.col("schema_version").cast("int")
        )
        apply_batch(spark, cfg, ops, df, batch_id)
    table = LakeTable(spark, cfg.table_root)
    rows = final_state(spark, cfg).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["text"], r["role"], r["tool"], r["ts"]) == ("hello world", "user", "search", 100)
    # the raw delta for the patch batch is a masked partial row; the
    # mask carries the stable FIELD ID of `tool` (id 5), not its name
    raw = table.read_raw().filter(F.col("_patched").isNotNull()).collect()
    assert len(raw) == 1 and raw[0]["_patched"] == [5] and raw[0]["text"] is None
    # change feed: the patch commit emits a FULL folded post-image
    feed = read_changes(table, from_version=v0 + 1).filter(
        F.col("_change_type") == "update_postimage"
    ).collect()
    assert len(feed) == 1
    assert (feed[0]["text"], feed[0]["tool"]) == ("hello world", "search")


def _table_with_deleted_key(spark, tmp_path, write_mode):
    """Replay a small patch-free log, then delete one (conv_id,
    turn_idx) key through a `D` event above every logged LSN. Returns
    (table, victim, turn, next free LSN, event schema)."""
    from etl_spark.lake.merge import merge_into
    from etl_spark.lake.table import LakeTable

    g = GenConfig(n_convs=4, n_events=60, segment_size=60, patch_rate=0.0)
    base = gen_base(g)
    binlog = gen_binlog(g, base, [])
    cfg = EngineConfig(
        table_root=str(tmp_path / "tbl"),
        manifest_dir=str(tmp_path / "manifest"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=8,
        write_mode=write_mode,
        patch_ops=True,
    )
    bootstrap(spark, cfg, base)
    for batch_id, (_, seg) in enumerate(binlog.groupby("_seg")):
        df = spark.createDataFrame(seg.drop(columns="_seg"))
        df = df.withColumn("turn_idx", F.col("turn_idx").cast("int")).withColumn(
            "schema_version", F.col("schema_version").cast("int")
        )
        apply_batch(spark, cfg, [], df, batch_id)
    table = LakeTable(spark, cfg.table_root)
    oracle = replay_oracle(base, binlog, [])
    victim = oracle["conv_id"].iloc[0]
    turn = int(oracle[oracle["conv_id"] == victim]["turn_idx"].iloc[0])
    lsn = int(binlog["lsn"].max()) + 1
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts long, op string, lsn long, "
        "_set_role boolean, _set_text boolean, _set_tool boolean, _set_ts boolean"
    )
    delete = spark.createDataFrame(
        [(victim, turn, None, None, None, None, "D", lsn,
          True, True, True, True)], schema,
    )
    merge_into(table, delete, batch_key="d1")
    key = (F.col("conv_id") == victim) & (F.col("turn_idx") == turn)
    assert table.read().filter(key).count() == 0
    return table, victim, turn, lsn + 1, schema


def _patch_then_full_image(spark, table, victim, turn, lsn, schema):
    """A patch onto the dead key leaves it dead; the full image that
    follows re-creates it from its own columns."""
    from etl_spark.lake.merge import merge_into

    key = (F.col("conv_id") == victim) & (F.col("turn_idx") == turn)
    patch = spark.createDataFrame(
        [(victim, turn, None, "zombie-patch", None, None, "P", lsn,
          False, True, False, False)], schema,
    )
    merge_into(table, patch, batch_key="p1")
    assert table.read().filter(key).count() == 0
    full = spark.createDataFrame(
        [(victim, turn, "user", "fresh", None, 7, "U", lsn + 1,
          True, True, True, True)], schema,
    )
    merge_into(table, full, batch_key="p2")
    row = table.read().filter(key).collect()
    assert len(row) == 1 and row[0]["text"] == "fresh" and row[0]["role"] == "user"


def test_patch_on_deleted_key_stays_dead_until_full_image(spark, tmp_path):
    """Delete/patch interaction under CoW: a partial image whose base
    was deleted must NOT resurrect the key as a mostly-NULL row (its
    unset columns would coalesce from the nulled tombstone); only a
    later FULL image re-creates it. The tombstone's LSN is not
    advanced by the dropped patch, so the full image still applies."""
    table, victim, turn, lsn, schema = _table_with_deleted_key(
        spark, tmp_path, "cow"
    )
    _patch_then_full_image(spark, table, victim, turn, lsn, schema)


def test_patch_mor_erased_key_stays_dead(spark, tmp_path):
    """Delete/patch interaction under MoR: the read-time fold treats
    the delete tombstone as the boundary, so a later patch delta leaves
    the key dead; a later full image resurrects it."""
    table, victim, turn, lsn, schema = _table_with_deleted_key(
        spark, tmp_path, "mor"
    )
    _patch_then_full_image(spark, table, victim, turn, lsn, schema)


def test_patch_bit_skips_fold_for_patch_free_buckets(spark, tmp_path):
    """Per-file `has_patches` bit: once `patch_deltas` is armed, only
    the buckets whose delta files actually carry op='P' rows pay the
    per-column read fold — a patch-free bucket's scan plan keeps the
    cheap whole-row max_by resolution — and compaction resets the bit
    so previously-patchy buckets go cheap again."""
    from etl_spark.lake.merge import merge_into
    from etl_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "tbl"),
        [("conv_id", "string"), ("turn_idx", "int"),
         ("a", "string"), ("b", "string")],
        ["conv_id", "turn_idx"], "conv_id", num_buckets=8, write_mode="mor",
    )
    # conv ids hashing to distinct buckets
    b_of = {r[0]: r[1] for r in spark.createDataFrame(
        [(f"c{i}",) for i in range(10)], ["conv_id"]
    ).select("conv_id", t.manifest().bucket_expr().alias("b")).collect()}
    c1, c2 = "c0", next(c for c in b_of if b_of[c] != b_of["c0"])

    def src(rows):
        df = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, a string, b string, "
            "op string, lsn long, _set_a boolean, _set_b boolean",
        )
        return df.withColumn("turn_idx", F.col("turn_idx").cast("int"))

    # full images in both convs, then a patch in c1 only
    merge_into(t, src([
        (c1, 0, "a0", "b0", "U", 1, True, True),
        (c2, 0, "x0", "y0", "U", 2, True, True),
    ]), batch_key="full")
    merge_into(t, src([
        (c1, 0, "a9", None, "P", 9, True, False),
    ]), batch_key="patch")

    m = t.manifest()
    assert m.props.get("patch_deltas")
    flags = {b: [f.has_patches for f in m.group(b)] for b in m.buckets()}
    assert True in flags[b_of[c1]]
    assert all(v is False for v in flags[b_of[c2]])

    # patch-free bucket: plan has NO per-column patch fold (the
    # array_contains(_patched, field_id) conditionals), just the
    # max_by whole-row resolve
    plan_free = t.read(buckets=[b_of[c2]])._jdf.queryExecution().optimizedPlan().toString()
    plan_patchy = t.read(buckets=[b_of[c1]])._jdf.queryExecution().optimizedPlan().toString()
    assert "array_contains" not in plan_free
    assert "max_by" in plan_free
    assert "array_contains" in plan_patchy  # the fold ran where it must

    # semantics unchanged: folded values visible
    rows = {(r["conv_id"], r["turn_idx"]): (r["a"], r["b"]) for r in t.read().collect()}
    assert rows == {(c1, 0): ("a9", "b0"), (c2, 0): ("x0", "y0")}

    # compaction collapses the patch chain and resets the bit
    t.compact(max_files_per_bucket=1)
    m2 = t.manifest()
    assert all(
        f.has_patches is False for b in (b_of[c1], b_of[c2]) for f in m2.group(b)
    )
    plan_after = t.read(buckets=[b_of[c1]])._jdf.queryExecution().optimizedPlan().toString()
    assert "array_contains" not in plan_after
