"""Merge-on-read maintenance: compaction bounds per-bucket file counts
without changing visible state (tombstone winners preserved)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark.config import EngineConfig
from etl_spark.engine.apply import apply_batch
from etl_spark.gen.binlog import GenConfig, gen_base, gen_binlog, gen_schema_ops
from etl_spark.gen.oracle import replay_oracle
from etl_spark.lake.table import LakeTable
from etl_spark.pipeline import bootstrap, final_state
from tests.util import assert_frames_equal


def _apply_all(spark, cfg, ops, binlog):
    for batch_id, (_, seg) in enumerate(binlog.groupby("_seg")):
        df = spark.createDataFrame(seg.drop(columns="_seg"))
        df = df.withColumn("turn_idx", F.col("turn_idx").cast("int")).withColumn(
            "schema_version", F.col("schema_version").cast("int")
        )
        apply_batch(spark, cfg, ops, df, batch_id)


def test_inline_compaction_preserves_state(spark, tmp_path):
    g = GenConfig(n_convs=6, n_events=120, dup_rate=0.1, disorder_window=6, segment_size=20)
    base, ops = gen_base(g), gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)

    cfg_plain = EngineConfig(
        table_root=str(tmp_path / "t1"), manifest_dir=str(tmp_path / "m1"),
        checkpoint_dir=str(tmp_path / "c1"), num_buckets=4,
    )
    cfg_compact = EngineConfig(
        table_root=str(tmp_path / "t2"), manifest_dir=str(tmp_path / "m2"),
        checkpoint_dir=str(tmp_path / "c2"), num_buckets=4,
        compact_max_files_per_bucket=2,
    )
    for cfg in (cfg_plain, cfg_compact):
        bootstrap(spark, cfg, base)
        _apply_all(spark, cfg, ops, binlog)

    oracle = replay_oracle(base, binlog, ops)
    assert_frames_equal(final_state(spark, cfg_plain), oracle)
    assert_frames_equal(final_state(spark, cfg_compact), oracle)

    # compacted table respects the file bound; plain table accumulated
    # one delta file set per batch (6 segments + bootstrap)
    mc = LakeTable(spark, cfg_compact.table_root).manifest()
    per_bucket: dict[int, int] = {}
    for f in mc.files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert max(per_bucket.values()) <= 2, per_bucket
    mp = LakeTable(spark, cfg_plain.table_root).manifest()
    assert len(mp.files) > len(mc.files)


def test_explicit_compact_after_replay(spark, tmp_path):
    g = GenConfig(n_convs=5, n_events=80, segment_size=20, dup_rate=0.05)
    base, ops = gen_base(g), gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    cfg = EngineConfig(
        table_root=str(tmp_path / "t"), manifest_dir=str(tmp_path / "m"),
        checkpoint_dir=str(tmp_path / "c"), num_buckets=4,
    )
    bootstrap(spark, cfg, base)
    _apply_all(spark, cfg, ops, binlog)
    table = LakeTable(spark, cfg.table_root)
    before = final_state(spark, cfg).toPandas()
    table.compact(max_files_per_bucket=1)
    after = final_state(spark, cfg).toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(before, after)
    m = table.manifest()
    per_bucket: dict[int, int] = {}
    for f in m.files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert max(per_bucket.values()) <= 1


def test_tombstone_gc_with_grace(spark, tmp_path):
    """compact(tombstone_grace_lsns=G) purges delete tombstones older
    than covered_max_lsn - G, keeps younger ones (still inside the
    re-delivery window), never touches live rows, and commits as
    maintenance (the change feed skips it)."""
    g = GenConfig(
        n_convs=6, n_events=150, dup_rate=0.0, disorder_window=4,
        segment_size=30, p_insert=0.3, p_update=0.3, p_delete=0.4,
    )
    base, ops = gen_base(g), gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    cfg = EngineConfig(
        table_root=str(tmp_path / "tbl"), manifest_dir=str(tmp_path / "m"),
        checkpoint_dir=str(tmp_path / "c"), num_buckets=4,
    )
    bootstrap(spark, cfg, base)
    _apply_all(spark, cfg, ops, binlog)
    table = LakeTable(spark, cfg.table_root)
    oracle = replay_oracle(base, binlog, ops)

    horizon = table.manifest().covered_max_lsn()
    assert horizon == g.n_events
    raw = table.compact(max_files_per_bucket=1)  # collapse deltas first
    dead = (
        table.read_raw()
        .filter(F.coalesce(F.col("_deleted"), F.lit(False)))
        .select("_lsn")
        .toPandas()["_lsn"]
    )
    assert len(dead) > 5, "need tombstones to GC"
    grace = 60
    purge_below = horizon - grace
    n_old = int((dead < purge_below).sum())
    n_young = int((dead >= purge_below).sum())
    assert n_old > 0 and n_young > 0, (n_old, n_young)

    v0 = table.current_version()
    table.compact(max_files_per_bucket=1, tombstone_grace_lsns=grace)
    dead_after = (
        table.read_raw()
        .filter(F.coalesce(F.col("_deleted"), F.lit(False)))
        .select("_lsn")
        .toPandas()["_lsn"]
    )
    assert len(dead_after) == n_young
    assert (dead_after >= purge_below).all()
    # live state untouched
    assert_frames_equal(final_state(spark, cfg), oracle)
    # maintenance commit: the change feed emits nothing for it
    from etl_spark.lake.changes import read_changes

    feed = read_changes(table, from_version=v0, to_version=table.current_version())
    assert feed.count() == 0

    # the documented contract trade: a stale event OLDER than the
    # purged tombstone (beyond the grace window) would resurrect the
    # dead key — the reason grace must exceed the source's worst-case
    # re-delivery lag. Find a purged key and replay a fabricated
    # ancient update for it.
    import pandas as pd

    purged = sorted(set(dead) - set(dead_after))
    assert purged
    # recover a (conv_id, turn_idx) whose tombstone was purged: replay
    # the oracle's delete history
    from etl_spark.lake.merge import merge_into

    dead_keys = {}
    for r in binlog.drop_duplicates(subset=["lsn"]).sort_values("lsn").itertuples():
        if r.op == "D":
            dead_keys[(r.conv_id, int(r.turn_idx))] = int(r.lsn)
        elif (r.conv_id, int(r.turn_idx)) in dead_keys:
            dead_keys.pop((r.conv_id, int(r.turn_idx)))
    victim = next(
        (k for k, lsn in dead_keys.items() if lsn < purge_below), None
    )
    assert victim is not None
    stale = spark.createDataFrame(
        [(victim[0], victim[1], "user", "zombie", None, 1, "U", 1)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts long, op string, lsn long",
    )
    merge_into(table, stale, batch_key="stale-after-gc")
    zombie = final_state(spark, cfg).filter(
        (F.col("conv_id") == victim[0]) & (F.col("turn_idx") == victim[1])
    )
    assert zombie.count() == 1  # resurrection — the documented hazard


def test_auto_policy_selects_then_noops(spark, tmp_path):
    """--auto policy loop: plan_auto picks buckets by file count /
    patch bit / small files from manifest metadata alone; after one
    compaction pass the plan is empty and state is unchanged (the
    idempotent no-op)."""
    from etl_spark.jobs.compact import plan_auto

    g = GenConfig(n_convs=5, n_events=100, segment_size=20, dup_rate=0.05)
    base, ops = gen_base(g), gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    cfg = EngineConfig(
        table_root=str(tmp_path / "t"), manifest_dir=str(tmp_path / "m"),
        checkpoint_dir=str(tmp_path / "c"), num_buckets=4, write_mode="mor",
    )
    bootstrap(spark, cfg, base)
    _apply_all(spark, cfg, ops, binlog)
    table = LakeTable(spark, cfg.table_root)

    plan = plan_auto(table, max_files_per_bucket=2, small_file_rows=10)
    assert plan, "multi-batch MoR replay must leave qualifying buckets"
    # MoR deltas carry the patch bit wherever patch events landed, and
    # every reason string is one of the documented criteria
    assert all(
        set(rs) <= {"file_count", "patches", "small_files"}
        for rs in plan.values()
    )

    before = final_state(spark, cfg).toPandas()
    v1 = table.compact(max_files_per_bucket=2, extra_buckets=list(plan))
    after = final_state(spark, cfg).toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(before, after)

    # second policy pass: nothing qualifies -> empty plan, and the
    # caller's no-op contract means the version must not move
    plan2 = plan_auto(table, max_files_per_bucket=2, small_file_rows=10)
    assert plan2 == {}, plan2
    assert table.manifest().version == v1


def test_auto_policy_small_files_criterion(spark, tmp_path):
    """A bucket under the count bound but full of tiny files still
    qualifies via small_file_rows; with the criterion off it does
    not."""
    from etl_spark.jobs.compact import plan_auto

    g = GenConfig(n_convs=3, n_events=40, segment_size=10, dup_rate=0.0)
    base, ops = gen_base(g), gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    cfg = EngineConfig(
        table_root=str(tmp_path / "t"), manifest_dir=str(tmp_path / "m"),
        checkpoint_dir=str(tmp_path / "c"), num_buckets=2,
    )
    bootstrap(spark, cfg, base)
    _apply_all(spark, cfg, ops, binlog)
    table = LakeTable(spark, cfg.table_root)
    m = table.manifest()
    per: dict[int, int] = {}
    for f in m.files:
        per[f.bucket] = per.get(f.bucket, 0) + 1
    bound = max(per.values())  # nothing exceeds the count bound now
    assert plan_auto(table, max_files_per_bucket=bound) == {}
    plan = plan_auto(
        table, max_files_per_bucket=bound, small_file_rows=1_000_000
    )
    assert plan, "tiny multi-file buckets must qualify via small_files"
    assert all(rs == ["small_files"] for rs in plan.values())


def test_auto_policy_counts_unknown_patch_bit_as_patchy(spark, tmp_path):
    """A file predating the per-file patch bit (has_patches=None) is
    exactly a file every read pays the per-column fold for, so the
    --auto 'patches' criterion must select its bucket — mirroring the
    read path's rule (_patchy_buckets: None is patchy, gated on the
    table-wide patch_deltas prop)."""
    import dataclasses
    from unittest import mock

    from etl_spark.jobs.compact import plan_auto
    from etl_spark.lake.table import Manifest

    g = GenConfig(n_convs=3, n_events=40, segment_size=40, dup_rate=0.0)
    base, ops = gen_base(g), gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    cfg = EngineConfig(
        table_root=str(tmp_path / "t"), manifest_dir=str(tmp_path / "m"),
        checkpoint_dir=str(tmp_path / "c"), num_buckets=2, write_mode="mor",
    )
    bootstrap(spark, cfg, base)
    _apply_all(spark, cfg, ops, binlog)
    table = LakeTable(spark, cfg.table_root)
    real = table.manifest()
    bound = max(
        sum(1 for f in real.files if f.bucket == b)
        for b in {f.bucket for f in real.files}
    )

    def fake(armed: bool) -> Manifest:
        props = {k: v for k, v in real.props.items() if k != "patch_deltas"}
        if armed:
            props["patch_deltas"] = True
        return Manifest(
            version=real.version, num_buckets=real.num_buckets,
            key=real.key, bucket_by=real.bucket_by, schema=real.schema,
            schemas=real.schemas, committed_batches=real.committed_batches,
            props=props,
            files=[
                dataclasses.replace(f, has_patches=None) for f in real.files
            ],
        )

    # patch-armed table, unknown bits -> every bucket qualifies
    with mock.patch.object(LakeTable, "manifest", return_value=fake(True)):
        plan = plan_auto(table, max_files_per_bucket=bound)
    assert plan and all("patches" in rs for rs in plan.values()), plan

    # same unknown bits on an UNARMED table -> the prop gate holds
    with mock.patch.object(LakeTable, "manifest", return_value=fake(False)):
        assert plan_auto(table, max_files_per_bucket=bound) == {}
