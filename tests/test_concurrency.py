"""Optimistic concurrency for maintenance and other writers racing
the stream's merges. Every `LakeTable` write reads one snapshot,
plans and stages against it, and commits against it; a commit that
lands in between is judged once, by `_commit_loop`'s lost-race rule
(the O_EXCL manifest create catches the race, `on_race` decides):
a stale copy-on-write rewrite raises `CommitConflict` rather than
silently drop the winner's rows (Iceberg commit-conflict analog),
and appends and schema changes rebase onto the winner. The reference
has no concurrency story at all — its registry insert races its JDBC
append (/root/reference/src/pipeline/core/client_clickhouse.py:197-203)."""

from __future__ import annotations

from unittest import mock

import pytest
from pyspark.sql import functions as F

from etl_spark.config import EngineConfig
from etl_spark.gen.binlog import GenConfig, gen_base, gen_binlog, write_segments
from etl_spark.gen.oracle import replay_oracle
from etl_spark.lake.merge import merge_into
from etl_spark.lake.table import CommitConflict, LakeTable
from etl_spark.pipeline import bootstrap, final_state, replay


def _table(spark, tmp_path, **cfg_kw):
    g = GenConfig(
        n_convs=6, n_events=120, dup_rate=0.05, disorder_window=4,
        segment_size=30, p_insert=0.3, p_update=0.3, p_delete=0.4,
    )
    base = gen_base(g)
    binlog = gen_binlog(g, base, [])
    seg_dir = str(tmp_path / "segments")
    write_segments(binlog, seg_dir)
    cfg = EngineConfig(
        table_root=str(tmp_path / "tbl"), manifest_dir=str(tmp_path / "m"),
        checkpoint_dir=str(tmp_path / "c"), num_buckets=4,
        max_files_per_trigger=2, **cfg_kw,
    )
    bootstrap(spark, cfg, base)
    replay(spark, cfg, seg_dir, ops=[])
    return g, base, binlog, cfg, LakeTable(spark, cfg.table_root)


def _racing_merge(spark, table, conv_id, lsn):
    """A competing single-row merge commit (the live stream winning a
    race), injectable mid-rewrite."""
    src = spark.createDataFrame(
        [(conv_id, 0, "user", f"winner-{lsn}", None, 1, "U", lsn)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts long, op string, lsn long",
    )
    return merge_into(table, src, batch_key=f"race:{lsn}")


def _inject_between_stage_and_commit(table, inject):
    """Patch _stage_dataframe so `inject` runs AFTER the rewrite is
    staged but BEFORE the manifest commit — the widest race window."""
    real = LakeTable._stage_dataframe
    state = {"fired": False}

    def wrapper(self, df, m, version, **kwargs):
        out = real(self, df, m, version, **kwargs)
        if not state["fired"]:
            state["fired"] = True
            inject()
        return out

    return mock.patch.object(LakeTable, "_stage_dataframe", wrapper)


def _inject_before_commit(inject):
    """Patch _commit_manifest so `inject` runs once right before the
    first snapshot publish — for metadata-only commits, which stage
    nothing."""
    real = LakeTable._commit_manifest
    state = {"fired": False}

    def wrapper(self, m):
        if not state["fired"]:
            state["fired"] = True
            inject()
        return real(self, m)

    return mock.patch.object(LakeTable, "_commit_manifest", wrapper)


def _inject_after_first_read(table, inject):
    """Patch LakeTable.manifest so `inject` runs once right after
    `table`'s first snapshot read — a racer landing between a write's
    planning read and everything the write does after it."""
    real = LakeTable.manifest
    state = {"fired": False}

    def wrapper(self, *args, **kwargs):
        out = real(self, *args, **kwargs)
        if self is table and not state["fired"]:
            state["fired"] = True
            inject()
        return out

    return mock.patch.object(LakeTable, "manifest", wrapper)


def test_add_column_racing_add_column_keeps_ids_distinct(spark, tmp_path):
    """Two handles adding different columns at once: the loser re-runs
    its mutation on the winner's snapshot, so each column gets its own
    field ID and both read back. (A field ID allocated from a read
    older than the snapshot the commit lands on aliases the winner's
    column.)"""
    root = str(tmp_path / "tbl")
    table = LakeTable.create(
        spark, root, [("k", "string"), ("v", "long")], ["k"], "k", num_buckets=4
    )
    table.append_full(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long"))
    racer = LakeTable(spark, root)

    with _inject_after_first_read(table, lambda: racer.add_column("score", "double")):
        table.add_column("tool", "string")
    m = table.manifest()
    ids = [f.id for f in m.schema.fields]
    assert len(set(ids)) == len(ids), m.schema.fields
    assert m.schema.names() == ["k", "v", "score", "tool"]
    rows = table.read().orderBy("k").collect()
    assert [(r["k"], r["v"], r["score"], r["tool"]) for r in rows] == [
        ("a", 1, None, None), ("b", 2, None, None),
    ]


def test_mor_merge_rebases_over_add_column_race(spark, tmp_path):
    """A MoR merge raced by `add_column` after its planning read stages
    its deltas under the planned schema and rebases onto the new one:
    the merge commits, and its row reads back with the new column
    NULL."""
    g, base, binlog, cfg, table = _table(spark, tmp_path)  # mor default
    oracle = replay_oracle(base, binlog, [])
    conv = oracle["conv_id"].iloc[0]
    lsn = int(binlog["lsn"].max()) + 1
    racer = LakeTable(spark, cfg.table_root)
    v0 = table.current_version()

    with _inject_after_first_read(table, lambda: racer.add_column("score", "string")):
        v = _racing_merge(spark, table, conv, lsn)
    assert v == table.current_version() == v0 + 2
    assert f"race:{lsn}" in table.manifest().committed_batches
    row = table.read().filter(
        (F.col("conv_id") == conv) & (F.col("turn_idx") == 0)
    ).collect()
    assert len(row) == 1
    assert row[0]["text"] == f"winner-{lsn}" and row[0]["score"] is None


def test_compact_loses_race_gracefully(spark, tmp_path):
    """An out-of-band compaction that loses the manifest race to a
    live merge skips the cycle (no exception, no lost update) — the
    contract jobs/compact.py documents."""
    g, base, binlog, cfg, table = _table(spark, tmp_path)
    oracle = replay_oracle(base, binlog, [])
    conv = oracle["conv_id"].iloc[0]
    max_lsn = int(binlog["lsn"].max())
    racer = LakeTable(spark, cfg.table_root)

    with _inject_between_stage_and_commit(
        table, lambda: _racing_merge(spark, racer, conv, max_lsn + 1)
    ):
        v = table.compact(max_files_per_bucket=1)
    # compaction skipped; the racing merge's row survives
    row = table.read().filter(
        (F.col("conv_id") == conv) & (F.col("turn_idx") == 0)
    ).collect()
    assert len(row) == 1 and row[0]["text"] == f"winner-{max_lsn + 1}"
    # a lost race returns the PLANNED-FROM version (same convention as
    # the no-op paths) so callers' "did I compact" = version-advance
    # inference can't count the racing writer's commit as ours; the
    # racer's merge is the only commit that landed
    assert v == table.current_version() - 1
    # the next (unraced) cycle compacts normally
    v2 = table.compact(max_files_per_bucket=1)
    assert v2 > v
    row = table.read().filter(
        (F.col("conv_id") == conv) & (F.col("turn_idx") == 0)
    ).collect()
    assert row[0]["text"] == f"winner-{max_lsn + 1}"


def test_merge_conflicts_when_racing_merge_wins(spark, tmp_path):
    """A CoW merge whose target scan predates a winning merge into the
    same bucket must NOT commit (its rewrite carries the pre-race rows
    over and would drop the winner's row): CommitConflict propagates
    so the streaming engine replays the batch against the fresh
    snapshot."""
    g, base, binlog, cfg, table = _table(spark, tmp_path, write_mode="cow")
    oracle = replay_oracle(base, binlog, [])
    conv = oracle["conv_id"].iloc[-1]
    max_lsn = int(binlog["lsn"].max())
    winner = spark.createDataFrame(
        [(conv, 999, "user", "racing-winner", None, 1, "U", max_lsn + 1)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts long, op string, lsn long",
    )

    racer = LakeTable(spark, cfg.table_root)
    with _inject_between_stage_and_commit(
        table, lambda: merge_into(racer, winner, batch_key="race:winner")
    ):
        with pytest.raises(CommitConflict):
            _racing_merge(spark, table, conv, max_lsn + 2)

    def turn(i):
        return table.read().filter(
            (F.col("conv_id") == conv) & (F.col("turn_idx") == i)
        ).collect()

    # the winner held; replaying the merge against the fresh snapshot
    # keeps both rows
    assert [r["text"] for r in turn(999)] == ["racing-winner"]
    _racing_merge(spark, table, conv, max_lsn + 2)
    assert [r["text"] for r in turn(999)] == ["racing-winner"]
    assert [r["text"] for r in turn(0)] == [f"winner-{max_lsn + 2}"]


def test_merge_rebases_over_maintenance_race(spark, tmp_path):
    """A merge racing a COMPACTION (maintenance-only winner) proceeds:
    the rewrite is logically valid against the reorganized files, so
    the stream never fails a batch just because maintenance ran."""
    g, base, binlog, cfg, table = _table(spark, tmp_path, write_mode="cow")
    oracle = replay_oracle(base, binlog, [])
    other = oracle["conv_id"].iloc[-1]
    max_lsn = int(binlog["lsn"].max())

    compactor = LakeTable(spark, cfg.table_root)
    fired = {"done": False}

    def compact_once():
        if not fired["done"]:
            fired["done"] = True
            compactor.compact(max_files_per_bucket=1)

    with _inject_between_stage_and_commit(table, compact_once):
        _racing_merge(spark, table, other, max_lsn + 1)  # must NOT raise
    row = table.read().filter(
        (F.col("conv_id") == other) & (F.col("turn_idx") == 0)
    ).collect()
    assert len(row) == 1 and row[0]["text"] == f"winner-{max_lsn + 1}"
    assert_equalish = final_state(spark, cfg).count()
    assert assert_equalish == table.read().count()


def test_compaction_rebased_over_compaction_stamps_landed_version(
    spark, tmp_path
):
    """Version-stamped props must be stamped with the version the
    commit ACTUALLY lands at: a compaction that rebases over a racing
    compaction lands one version later than it planned, and its
    `maintenance_commit` must name that landed version, or the change
    feed would diff it and `_rebase_safe` would treat it as a real
    commit. The next real merge still reaches the feed."""
    from etl_spark.lake.changes import read_changes

    g, base, binlog, cfg, table = _table(spark, tmp_path)
    oracle = replay_oracle(base, binlog, [])
    conv = oracle["conv_id"].iloc[0]
    max_lsn = int(binlog["lsn"].max())
    compactor = LakeTable(spark, cfg.table_root)
    v0 = table.current_version()

    with _inject_between_stage_and_commit(
        table, lambda: compactor.compact(max_files_per_bucket=1)
    ):
        v1 = table.compact(max_files_per_bucket=1)
    assert v1 == table.current_version() == v0 + 2, "rebased, not skipped"
    assert table.manifest(v0 + 1).props["maintenance_commit"] == v0 + 1
    assert table.manifest(v1).props["maintenance_commit"] == v1, (
        "stamp must match landed version"
    )
    assert read_changes(table, from_version=v0, to_version=v1).count() == 0

    v2 = _racing_merge(spark, table, conv, max_lsn + 1)
    assert table.manifest(v2).props["maintenance_commit"] != v2
    feed = read_changes(table, from_version=v1, to_version=v2).collect()
    assert [(r["conv_id"], r["turn_idx"], r["text"]) for r in feed
            if r["_change_type"] != "delete"] == [
        (conv, 0, f"winner-{max_lsn + 1}")
    ]


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_merge_conflicts_when_rebucket_wins(spark, tmp_path, write_mode):
    """A racing commit that carries the maintenance marker but CHANGES
    the bucket layout: a stale rewrite (CoW) or delta append (MoR)
    must NOT rebase over it (its staged files carry the old hash-mod
    bucket ids), regardless of the marker. The layout is fixed at
    `create`, so the racer is a hand-built manifest."""
    g, base, binlog, cfg, table = _table(spark, tmp_path, write_mode=write_mode)
    oracle = replay_oracle(base, binlog, [])
    other = oracle["conv_id"].iloc[-1]
    max_lsn = int(binlog["lsn"].max())
    racer = LakeTable(spark, cfg.table_root)

    def relayout():
        m = racer.manifest()
        racer._commit_manifest(m.child(
            num_buckets=2 * m.num_buckets,
            props={**m.props, "maintenance_commit": m.version + 1},
        ))

    v0 = table.current_version()
    with _inject_between_stage_and_commit(table, relayout):
        with pytest.raises(CommitConflict):
            _racing_merge(spark, table, other, max_lsn + 1)
    # only the racer landed; the loser's batch is not in the ledger
    m = table.manifest()
    assert m.version == v0 + 1 and m.num_buckets == 2 * cfg.num_buckets
    assert f"race:{max_lsn + 1}" not in m.committed_batches


def test_mor_append_rebases_over_compaction(spark, tmp_path):
    """The MoR merge path (pure delta append) must survive losing the
    manifest race to a compaction — rebased onto the fresh file list,
    never a failed stream batch (appends cannot lose updates)."""
    g, base, binlog, cfg, table = _table(spark, tmp_path)  # mor default
    oracle = replay_oracle(base, binlog, [])
    other = oracle["conv_id"].iloc[-1]
    max_lsn = int(binlog["lsn"].max())
    compactor = LakeTable(spark, cfg.table_root)
    fired = {"done": False}

    def compact_once():
        if not fired["done"]:
            fired["done"] = True
            compactor.compact(max_files_per_bucket=1)

    with _inject_between_stage_and_commit(table, compact_once):
        _racing_merge(spark, table, other, max_lsn + 1)  # must NOT raise
    row = table.read().filter(
        (F.col("conv_id") == other) & (F.col("turn_idx") == 0)
    ).collect()
    assert len(row) == 1 and row[0]["text"] == f"winner-{max_lsn + 1}"
    # total state equals oracle with the winner row updated
    assert table.read().count() == len(oracle) + (
        0 if ((oracle["conv_id"] == other) & (oracle["turn_idx"] == 0)).any() else 1
    )


def test_mor_append_returns_when_own_replay_wins(spark, tmp_path):
    """A MoR append that loses the race to a replay of its OWN batch
    (same batch key) returns the winner's version instead of appending
    the batch a second time."""
    g, base, binlog, cfg, table = _table(spark, tmp_path)  # mor default
    oracle = replay_oracle(base, binlog, [])
    other = oracle["conv_id"].iloc[-1]
    lsn = int(binlog["lsn"].max()) + 1
    replayer = LakeTable(spark, cfg.table_root)
    v0 = table.current_version()

    with _inject_between_stage_and_commit(
        table, lambda: _racing_merge(spark, replayer, other, lsn)
    ):
        v = _racing_merge(spark, table, other, lsn)
    assert v == table.current_version() == v0 + 1  # only the winner landed
    m = table.manifest()
    assert f"race:{lsn}" in m.committed_batches
    assert f"race:{lsn}" not in table.manifest(v0).committed_batches
    raw = table.read_raw().filter(
        (F.col("conv_id") == other) & (F.col("turn_idx") == 0)
        & (F.col("_lsn") == lsn)
    )
    assert raw.count() == 1  # the batch's delta is in the table once
    row = table.read().filter(
        (F.col("conv_id") == other) & (F.col("turn_idx") == 0)
    ).collect()
    assert len(row) == 1 and row[0]["text"] == f"winner-{lsn}"


def test_set_props_retries_after_race(spark, tmp_path):
    """A props-only commit (here `set_bloom_on_write`) that loses the
    race to a live merge re-reads and reapplies: the policy lands, and
    so does the racer's batch."""
    g, base, binlog, cfg, table = _table(spark, tmp_path)
    oracle = replay_oracle(base, binlog, [])
    other = oracle["conv_id"].iloc[-1]
    lsn = int(binlog["lsn"].max()) + 1
    racer = LakeTable(spark, cfg.table_root)
    v0 = table.current_version()

    with _inject_before_commit(lambda: _racing_merge(spark, racer, other, lsn)):
        v = table.set_bloom_on_write()
    assert v == table.current_version() == v0 + 2
    m = table.manifest()
    assert m.props["bloom_on_write"]["fids"] == [
        f.id for f in m.schema.fields if f.name == m.bucket_by
    ]
    assert m.props["maintenance_commit"] == v
    assert f"race:{lsn}" in m.committed_batches


def test_build_blooms_retries_after_race(spark, tmp_path):
    """A Bloom build whose metadata commit loses the race to a live
    merge annotates the FRESH snapshot: the racer's batch survives,
    the commit is stamped as maintenance at the version it landed at,
    and point lookups stay exact (the racer's unbloomed file is never
    pruned)."""
    g, base, binlog, cfg, table = _table(spark, tmp_path)
    oracle = replay_oracle(base, binlog, [])
    other = oracle["conv_id"].iloc[-1]
    lsn = int(binlog["lsn"].max()) + 1
    racer = LakeTable(spark, cfg.table_root)
    v0 = table.current_version()
    before = {f.path for f in table.manifest(v0).files}

    with _inject_before_commit(lambda: _racing_merge(spark, racer, other, lsn)):
        out = table.build_blooms()
    v = out["version"]
    assert v == table.current_version() == v0 + 2
    m = table.manifest()
    assert m.props["maintenance_commit"] == v
    assert f"race:{lsn}" in m.committed_batches
    assert out["files_bloomed"] == len(before)
    kf = next(f.id for f in m.schema.fields if f.name == m.bucket_by)
    assert all(f.col_blooms.get(kf) is not None for f in m.files if f.path in before)
    assert any(f.path not in before and f.col_blooms.get(kf) is None for f in m.files)
    for conv in (other, oracle["conv_id"].iloc[0]):
        got = sorted(
            (r["turn_idx"], r["text"])
            for r in table.lookup([conv]).collect()
        )
        want = sorted(
            (r["turn_idx"], r["text"])
            for r in table.read().filter(F.col("conv_id") == conv).collect()
        )
        assert got == want and got
    row = table.lookup([other]).filter(F.col("turn_idx") == 0).collect()
    assert len(row) == 1 and row[0]["text"] == f"winner-{lsn}"
