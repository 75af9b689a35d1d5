"""Dead-letter quarantine: poison events divert to the DLQ instead of
corrupting the table; lineage accounts for them exactly.

The reference applies whatever the payload decodes to — a truncated
JSON frame becomes an all-NULL row (/root/reference/src/pipeline/core/
spark.py:28-189, no validity check). Here the engine screens each
micro-batch (engine/quarantine.py) and the final state must equal the
oracle replay over only the valid events.
"""

from __future__ import annotations

import pandas as pd

from etl_spark.engine import lineage
from etl_spark.engine.quarantine import read_quarantine
from etl_spark.gen.binlog import (
    GenConfig,
    gen_base,
    gen_binlog,
    gen_schema_ops,
    write_segments,
)
from etl_spark.gen.oracle import replay_oracle
from etl_spark.pipeline import bootstrap, final_state, replay
from tests.test_streaming import make_cfg
from tests.util import assert_frames_equal


def _poison(binlog: pd.DataFrame) -> tuple[pd.DataFrame, set[int], set[int]]:
    """Corrupt a deterministic subset of UPDATE events (updates only:
    dropping an I/D would change which later events are upserts vs
    updates and muddy the oracle). Returns (corrupted copy,
    malformed-payload LSNs, unknown-version LSNs)."""
    out = binlog.copy()
    # only non-re-emitted LSNs: poisoning one copy of a duplicated LSN
    # would break the generator's duplicates-are-identical invariant
    # (the other copy would still apply, making the oracle ambiguous)
    singles = out["lsn"].map(out["lsn"].value_counts()) == 1
    upd = out.index[(out["op"] == "U") & singles].tolist()
    bad_payload = upd[2::9][:6]
    bad_version = upd[5::9][:3]
    out.loc[bad_payload, "payload"] = '{"role": "user", truncated'
    out.loc[bad_version, "schema_version"] = 7777
    return (
        out,
        set(out.loc[bad_payload, "lsn"].astype(int)),
        set(out.loc[bad_version, "lsn"].astype(int)),
    )


def test_quarantine_diverts_poison_events(spark, tmp_path):
    g = GenConfig(
        n_convs=6, n_events=150, dup_rate=0.0, disorder_window=5,
        segment_size=30, schema_op_fracs=(0.2, 0.5, 0.8),
    )
    base, ops = gen_base(g), gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    poisoned, bad_payload, bad_version = _poison(binlog)
    bad_lsns = bad_payload | bad_version
    assert len(bad_lsns) == 9
    seg_dir = str(tmp_path / "segments")
    write_segments(poisoned, seg_dir)

    qdir = str(tmp_path / "dlq")
    cfg = make_cfg(tmp_path, quarantine_dir=qdir)
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, ops)

    # final state == oracle over only the valid events
    valid = binlog[~binlog["lsn"].isin(bad_lsns)].reset_index(drop=True)
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, valid, ops))

    # the DLQ holds exactly the poison events, with the right reasons
    dlq = read_quarantine(spark, qdir).toPandas()
    assert set(dlq["lsn"].astype(int)) == bad_lsns
    by_reason = dlq.groupby("q_reason")["lsn"].agg(set).to_dict()
    assert set(by_reason["malformed_payload"]) == bad_payload
    assert set(by_reason["unknown_schema_version"]) == bad_version

    # exact accounting: every emitted LSN is either applied or
    # quarantined, and the manifest records the quarantined counts
    inv = lineage.check_invariants(spark, cfg.manifest_dir)
    assert inv["events_quarantined_total"] == len(bad_lsns)
    assert inv["events_distinct_total"] == g.n_events - len(bad_lsns)
    assert inv["max_lsn"] == g.n_events


def test_quarantine_idempotent_on_replayed_batch(spark, tmp_path):
    """Crash-replaying a screened epoch rewrites the identical DLQ
    files (overwrite per batch_id) and re-applies nothing."""
    from etl_spark.engine.apply import apply_batch

    g = GenConfig(
        n_convs=6, n_events=90, dup_rate=0.0, disorder_window=5,
        segment_size=30, schema_op_fracs=(0.2, 0.5, 0.8),
    )
    base, ops = gen_base(g), gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    poisoned, bad_payload, bad_version = _poison(binlog)
    seg_dir = str(tmp_path / "segments")
    write_segments(poisoned, seg_dir)

    qdir = str(tmp_path / "dlq")
    cfg = make_cfg(tmp_path, quarantine_dir=qdir)
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, ops)
    state1 = final_state(spark, cfg).toPandas()
    dlq1 = read_quarantine(spark, qdir).toPandas().sort_values("lsn")

    # re-apply batch 0's frame as a crash replay of the same batch_id
    seg0 = sorted(
        str(p) for p in (tmp_path / "segments").glob("*.parquet")
    )[0]
    frame = spark.read.parquet(seg0)
    apply_batch(spark, cfg, ops, frame, 0)

    state2 = final_state(spark, cfg).toPandas()
    dlq2 = read_quarantine(spark, qdir).toPandas().sort_values("lsn")
    pd.testing.assert_frame_equal(state2, state1)
    pd.testing.assert_frame_equal(
        dlq1.reset_index(drop=True), dlq2.reset_index(drop=True)
    )


def test_quarantine_with_watermark_dedup(spark, tmp_path):
    """Quarantine composes with the watermark-dedup config (the one
    path where footer stats are off and batch stats come from the slim
    aggregation): poison still diverts, state still matches the
    valid-only oracle."""
    g = GenConfig(
        n_convs=5, n_events=90, dup_rate=0.1, disorder_window=4,
        segment_size=30, schema_op_fracs=(0.3, 0.7),
    )
    base, ops = gen_base(g), gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    poisoned, bad_payload, bad_version = _poison(binlog)
    bad_lsns = bad_payload | bad_version
    seg_dir = str(tmp_path / "segments")
    write_segments(poisoned, seg_dir)

    cfg = make_cfg(
        tmp_path, quarantine_dir=str(tmp_path / "dlq"),
        use_watermark_dedup=True,
    )
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, ops)

    valid = binlog[~binlog["lsn"].isin(bad_lsns)].reset_index(drop=True)
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, valid, ops))
    dlq = read_quarantine(spark, str(tmp_path / "dlq")).toPandas()
    assert set(dlq["lsn"].astype(int)) == bad_lsns


def test_quarantine_diverts_null_and_unknown_op(spark, tmp_path):
    """A NULL or unknown op must divert (reason `unknown_op`), never
    apply: downstream `op == 'D'` / `op != 'P'` tests are not
    null-safe, so a NULL-op NULL-payload event would otherwise upsert
    an all-NULL row — the exact failure mode the DLQ exists for."""
    g = GenConfig(n_convs=5, n_events=100, dup_rate=0.0, disorder_window=4, segment_size=25)
    base = gen_base(g)
    ops = gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    singles = binlog["lsn"].map(binlog["lsn"].value_counts()) == 1
    upd = binlog.index[(binlog["op"] == "U") & singles].tolist()
    null_op = upd[1::7][:3]
    weird_op = upd[4::7][:3]
    binlog.loc[null_op, "op"] = None
    binlog.loc[null_op, "payload"] = None  # worst case: both NULL
    binlog.loc[weird_op, "op"] = "UPSERT"  # unknown op code
    poisoned_lsns = set(binlog.loc[null_op, "lsn"].astype(int)) | set(
        binlog.loc[weird_op, "lsn"].astype(int)
    )
    assert len(poisoned_lsns) == 6

    seg_dir = str(tmp_path / "segments")
    write_segments(binlog, seg_dir)
    cfg = make_cfg(tmp_path, quarantine_dir=str(tmp_path / "dlq"))
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, ops)

    # oracle over only the valid events
    valid = binlog[~binlog["lsn"].isin(poisoned_lsns)]
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, valid, ops))
    dlq = read_quarantine(spark, cfg.quarantine_dir).toPandas()
    assert set(dlq["lsn"].astype(int)) == poisoned_lsns
    assert set(dlq["q_reason"]) == {"unknown_op"}


def test_fully_poisoned_batch_keeps_lineage_contiguous(spark, tmp_path):
    """A micro-batch whose EVERY event goes to the DLQ still writes a
    zero-applied lineage manifest covering its LSN span: the invariant
    checker must see a contiguous ledger (no phantom 'LSN gap') and
    the quarantined count must stay in the audit accounting."""
    g = GenConfig(n_convs=4, n_events=90, dup_rate=0.0, disorder_window=1, segment_size=30)
    base = gen_base(g)
    ops = gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    # poison ALL of segment 1 (the middle batch) with unknown versions
    mid = binlog["_seg"] == 1
    binlog.loc[mid, "schema_version"] = 7777
    poisoned = set(binlog.loc[mid, "lsn"].astype(int))
    seg_dir = str(tmp_path / "segments")
    write_segments(binlog, seg_dir)
    cfg = make_cfg(tmp_path, quarantine_dir=str(tmp_path / "dlq"))
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, ops)

    valid = binlog[~binlog["lsn"].isin(poisoned)]
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, valid, ops))
    inv = lineage.check_invariants(spark, cfg.manifest_dir)  # must not raise
    assert inv["batches"] == 3
    assert inv["events_quarantined_total"] == len(poisoned)
    assert inv["events_distinct_total"] == g.n_events - len(poisoned)
    assert inv["max_lsn"] == g.n_events
