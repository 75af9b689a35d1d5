"""Replay-equivalence golden test (batch path): engine vs sequential oracle."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from etl_spark.config import EngineConfig
from etl_spark.engine.apply import apply_batch
from etl_spark.gen.binlog import GenConfig, gen_base, gen_binlog, gen_schema_ops
from etl_spark.gen.oracle import replay_oracle
from etl_spark.pipeline import bootstrap, final_state
from tests.util import assert_frames_equal


def run_engine_batches(spark, tmp_path, cfg_gen: GenConfig, ops, base, binlog, **cfg_kw):
    cfg = EngineConfig(
        table_root=str(tmp_path / "tbl"),
        manifest_dir=str(tmp_path / "manifest"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=8,
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


def test_replay_no_evolution(spark, tmp_path):
    g = GenConfig(n_convs=5, n_events=80, dup_rate=0.1, disorder_window=6, segment_size=25)
    base = gen_base(g)
    ops = gen_schema_ops(g)
    assert ops == []
    binlog = gen_binlog(g, base, ops)
    cfg = run_engine_batches(spark, tmp_path, g, ops, base, binlog)
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))


def test_replay_with_schema_evolution(spark, tmp_path):
    g = GenConfig(
        n_convs=6,
        n_events=120,
        dup_rate=0.08,
        disorder_window=6,
        segment_size=30,
        schema_op_fracs=(0.25, 0.5, 0.75),
    )
    base = gen_base(g)
    ops = gen_schema_ops(g)
    assert len(ops) == 3
    binlog = gen_binlog(g, base, ops)
    cfg = run_engine_batches(spark, tmp_path, g, ops, base, binlog)
    engine = final_state(spark, cfg)
    oracle = replay_oracle(base, binlog, ops)
    # evolved schema shape: lang added, tool renamed, ts widened
    assert list(oracle.columns) == ["conv_id", "turn_idx", "role", "text", "tool_name", "ts", "lang"]
    assert pd.api.types.is_datetime64_any_dtype(oracle["ts"])
    assert_frames_equal(engine, oracle)


def test_replay_single_giant_batch(spark, tmp_path):
    """All events in one micro-batch: straddles every schema boundary."""
    g = GenConfig(
        n_convs=4, n_events=90, dup_rate=0.1, disorder_window=10,
        segment_size=90, schema_op_fracs=(0.3, 0.6, 0.9),
    )
    base = gen_base(g)
    ops = gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    cfg = run_engine_batches(spark, tmp_path, g, ops, base, binlog)
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))


def test_batch_replay_idempotent(spark, tmp_path):
    """foreachBatch retry semantics: re-applying a committed batch_id
    changes nothing."""
    g = GenConfig(n_convs=4, n_events=40, segment_size=40)
    base = gen_base(g)
    ops = gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    cfg = run_engine_batches(spark, tmp_path, g, ops, base, binlog)
    before = final_state(spark, cfg).toPandas()
    # re-apply batch 0
    seg = binlog[binlog["_seg"] == 0].drop(columns="_seg")
    df = spark.createDataFrame(seg).withColumn("turn_idx", F.col("turn_idx").cast("int"))
    apply_batch(spark, cfg, ops, df, 0)
    after = final_state(spark, cfg).toPandas()
    pd.testing.assert_frame_equal(before, after)


def test_crash_window_heals_missing_lineage(spark, tmp_path):
    """Exactly-once crash window: the MERGE ledger commit and the
    lineage write are two steps; a crash between them leaves a
    committed batch with no lineage file. Replaying the same batch_id
    must (a) NOT re-apply the merge (table version unchanged) and
    (b) recompute and rewrite the lineage file."""
    import os

    from etl_spark.engine import lineage as L
    from etl_spark.engine.apply import apply_batch
    from etl_spark.lake.table import LakeTable

    g = GenConfig(
        n_convs=5, n_events=80, dup_rate=0.1, disorder_window=6,
        segment_size=40, schema_op_fracs=(0.3, 0.6, 0.9),
    )
    base = gen_base(g)
    ops = gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    cfg = EngineConfig(
        table_root=str(tmp_path / "tbl"),
        manifest_dir=str(tmp_path / "manifest"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=8,
    )
    bootstrap(spark, cfg, base)
    seg = binlog[binlog["_seg"] == 0].drop(columns="_seg")
    df = spark.createDataFrame(seg)
    df = df.withColumn("turn_idx", F.col("turn_idx").cast("int")).withColumn(
        "schema_version", F.col("schema_version").cast("int")
    )
    apply_batch(spark, cfg, ops, df, batch_id=0)
    state_before = final_state(spark, cfg).toPandas()
    v_before = LakeTable(spark, cfg.table_root).current_version()
    lf = os.path.join(cfg.manifest_dir, "batch-0000000000.parquet")
    assert os.path.exists(lf)
    os.remove(lf)  # simulate crash between ledger commit and lineage write

    apply_batch(spark, cfg, ops, df, batch_id=0)  # replayed epoch
    assert os.path.exists(lf), "lineage must be healed on replay"
    assert LakeTable(spark, cfg.table_root).current_version() == v_before
    pd.testing.assert_frame_equal(final_state(spark, cfg).toPandas(), state_before)
    inv = L.check_invariants(spark, cfg.manifest_dir)
    assert inv["batches"] == 1


def test_batch_files_from_compacted_offset_log(tmp_path):
    """Every compactInterval-th batch the file source writes
    `<id>.compact` holding ALL entries tagged by batchId; the footer
    stats reader must filter to the requested batch only."""
    import json
    import os

    from etl_spark.engine.apply import _batch_files_from_checkpoint

    d = tmp_path / "ckpt" / "sources" / "0"
    os.makedirs(d)
    with open(d / "3", "w") as fh:
        fh.write("v1\n")
        fh.write(json.dumps({"path": "file:///seg/c.parquet", "timestamp": 1, "batchId": 3}) + "\n")
    with open(d / "9.compact", "w") as fh:
        fh.write("v1\n")
        for b, name in [(8, "a"), (9, "b"), (9, "b2"), (7, "x")]:
            fh.write(json.dumps({"path": f"file:///seg/{name}.parquet", "timestamp": 1, "batchId": b}) + "\n")

    assert _batch_files_from_checkpoint(str(tmp_path / "ckpt"), 3) == [
        "file:///seg/c.parquet"
    ]
    assert _batch_files_from_checkpoint(str(tmp_path / "ckpt"), 9) == [
        "file:///seg/b.parquet",
        "file:///seg/b2.parquet",
    ]
    assert _batch_files_from_checkpoint(str(tmp_path / "ckpt"), 5) == []


from hypothesis import HealthCheck, given, settings, strategies as st


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**16),
    segment_size=st.integers(7, 60),
    disorder=st.integers(0, 12),
    dup_pct=st.integers(0, 30),
    evolve=st.booleans(),
    patch_pct=st.integers(0, 60),
)
def test_replay_equivalence_property(
    spark, tmp_path_factory, seed, segment_size, disorder, dup_pct, evolve, patch_pct
):
    """Property: for ANY generator parameterization — batch boundary
    placement, intra-segment disorder, duplicate re-emission rate,
    schema evolution on/off, partial-image patch rate — the engine's
    final state equals the sequential oracle. Batch boundaries are an
    artifact of the transport, so the result must be invariant to
    them; this is the exactly-once + max-LSN-resolution (and, with
    patches, order-sensitive fold) contract quantified over the input
    space rather than at hand-picked points."""
    tmp_path = tmp_path_factory.mktemp("prop")
    g = GenConfig(
        n_convs=4,
        n_events=60,
        dup_rate=dup_pct / 100.0,
        disorder_window=disorder,
        segment_size=segment_size,
        seed=seed,
        schema_op_fracs=(0.3, 0.7) if evolve else (),
        patch_rate=patch_pct / 100.0,
    )
    base = gen_base(g)
    ops = gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    cfg_kw = dict(write_mode="cow", patch_ops=True) if patch_pct else {}
    cfg = run_engine_batches(spark, tmp_path, g, ops, base, binlog, **cfg_kw)
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))
