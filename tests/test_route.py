"""Multi-entity routing: one shared changelog feeding two lake tables
through one streaming query (the reference's 18-topic fan-out analog,
/root/reference/src/pipeline/core/client_clickhouse.py:39-58)."""

from __future__ import annotations

import pandas as pd

from etl_spark.config import EngineConfig
from etl_spark.cdc_schema import TRANSCRIPTS
from etl_spark.engine import lineage
from etl_spark.engine.route import run_replay_routed
from etl_spark.gen.binlog import (
    GenConfig,
    gen_base,
    gen_binlog,
    gen_schema_ops,
    write_segments,
)
from etl_spark.gen.oracle import replay_oracle
from etl_spark.pipeline import bootstrap, final_state
from tests.util import assert_frames_equal


def _cfg(tmp_path, name: str, with_mv: bool = False) -> EngineConfig:
    kw = {}
    if with_mv:
        from etl_spark.engine.indexes import MVSpec

        kw["mv_specs"] = (
            MVSpec(
                str(tmp_path / name / "mv"),
                ("role",),
                (("sum_turns", "turn_idx"),),
            ),
        )
    return EngineConfig(
        table_root=str(tmp_path / name / "tbl"),
        manifest_dir=str(tmp_path / name / "manifest"),
        checkpoint_dir=str(tmp_path / name / "ckpt"),  # unused (shared stream ckpt)
        num_buckets=8,
        **kw,
    )


def test_two_targets_one_log(spark, tmp_path):
    """Two entities with INDEPENDENT schema-evolution tracks (A runs
    the canonical 3-op script, B stays at base schema) interleaved in
    one segment stream: one streaming query routes each micro-batch
    into both tables; each table's final state matches its own
    per-entity oracle and its lineage covers its own LSN space —
    i.e. per-entity schema registries and ledgers don't interfere."""
    gA = GenConfig(
        seed=11, n_convs=5, n_events=120, dup_rate=0.08, disorder_window=4,
        segment_size=40, schema_op_fracs=(0.3, 0.6, 0.9),
    )
    gB = GenConfig(
        seed=22, n_convs=4, n_events=120, dup_rate=0.05, disorder_window=4,
        segment_size=40, schema_op_fracs=(),
    )
    baseA, baseB = gen_base(gA), gen_base(gB)
    opsA, opsB = gen_schema_ops(gA), gen_schema_ops(gB)
    binA = gen_binlog(gA, baseA, opsA)
    binB = gen_binlog(gB, baseB, opsB)
    binA["entity"] = "convA"
    binB["entity"] = "convB"
    combined = pd.concat([binA, binB], ignore_index=True)
    seg_dir = str(tmp_path / "segments")
    write_segments(combined, seg_dir)  # each segment file carries both

    # each route carries its OWN stream-maintained MV: per-entity
    # derived state refreshed from concurrent applies (MVs are
    # shape-agnostic — the composite-key transcripts flagship gets
    # stream maintenance through mv_specs even though the long-key
    # index family does not apply to it)
    cfgA = _cfg(tmp_path, "A", with_mv=True)
    cfgB = _cfg(tmp_path, "B", with_mv=True)
    routes = {
        "convA": (cfgA, opsA, TRANSCRIPTS),
        "convB": (cfgB, opsB, TRANSCRIPTS),
    }
    bootstrap(spark, cfgA, baseA)
    bootstrap(spark, cfgB, baseB)
    run_replay_routed(
        spark, seg_dir, routes, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )

    assert_frames_equal(final_state(spark, cfgA), replay_oracle(baseA, binA, opsA))
    assert_frames_equal(final_state(spark, cfgB), replay_oracle(baseB, binB, opsB))
    invA = lineage.check_invariants(spark, cfgA.manifest_dir)
    invB = lineage.check_invariants(spark, cfgB.manifest_dir)
    assert invA["events_distinct_total"] == gA.n_events
    assert invB["events_distinct_total"] == gB.n_events
    # A evolved (schema_id 3 = all ops applied); B stayed at base
    from etl_spark.lake.table import LakeTable

    assert LakeTable(spark, cfgA.table_root).manifest().schema.schema_id == 3
    assert LakeTable(spark, cfgB.table_root).manifest().schema.schema_id == 0

    # the per-route stream-maintained MVs (refreshed from CONCURRENT
    # applies, across A's mid-stream schema evolution) each equal a
    # full GROUP BY over their own final table
    from pyspark.sql import functions as F

    from etl_spark.lake.mv import read_mv

    for cfg in (cfgA, cfgB):
        got = (
            read_mv(spark, cfg.mv_specs[0].mv_dir)
            .toPandas().sort_values("role").reset_index(drop=True)
        )
        want = (
            LakeTable(spark, cfg.table_root).read()
            .groupBy("role")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("turn_idx").cast("long").alias("sum_turns"),
            )
            .toPandas().sort_values("role").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got[["role", "n_rows", "sum_turns"]],
            want[["role", "n_rows", "sum_turns"]],
            check_dtype=False,
        )


def test_shared_global_lsn_union_invariants(spark, tmp_path):
    """The design the module documents: ONE shared changelog with a
    single GLOBAL LSN sequence interleaved across entities. Each
    entity's ledger then sees a sparse LSN subset — per-entity
    check_invariants must NOT be used (it would report phantom gaps);
    the invariant surface is the UNION of all routes' manifests, which
    restores density (route.py LSN-density contract)."""
    import pytest

    gA = GenConfig(seed=31, n_convs=5, n_events=120, dup_rate=0.0,
                   disorder_window=4, segment_size=40, schema_op_fracs=())
    gB = GenConfig(seed=32, n_convs=4, n_events=120, dup_rate=0.0,
                   disorder_window=4, segment_size=40, schema_op_fracs=())
    baseA, baseB = gen_base(gA), gen_base(gB)
    binA = gen_binlog(gA, baseA, [])
    binB = gen_binlog(gB, baseB, [])
    binA["entity"], binB["entity"] = "convA", "convB"

    # one global LSN space: interleave (orig_lsn, entity) pairs —
    # monotone per entity, so per-entity ordering semantics unchanged
    pairs = sorted(
        [(l, "convA") for l in binA["lsn"].unique()]
        + [(l, "convB") for l in binB["lsn"].unique()]
    )
    gmap = {pair: i + 1 for i, pair in enumerate(pairs)}
    binA["lsn"] = [gmap[(l, "convA")] for l in binA["lsn"]]
    binB["lsn"] = [gmap[(l, "convB")] for l in binB["lsn"]]

    combined = pd.concat([binA, binB], ignore_index=True)
    seg_dir = str(tmp_path / "segments")
    write_segments(combined, seg_dir)

    cfgA, cfgB = _cfg(tmp_path, "A"), _cfg(tmp_path, "B")
    routes = {"convA": (cfgA, [], TRANSCRIPTS), "convB": (cfgB, [], TRANSCRIPTS)}
    bootstrap(spark, cfgA, baseA)
    bootstrap(spark, cfgB, baseB)
    run_replay_routed(
        spark, seg_dir, routes, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )

    assert_frames_equal(final_state(spark, cfgA), replay_oracle(baseA, binA, []))
    assert_frames_equal(final_state(spark, cfgB), replay_oracle(baseB, binB, []))

    # per-entity ledgers are sparse: the dense gap check false-fails
    with pytest.raises(AssertionError, match="LSN gap"):
        lineage.check_invariants(spark, cfgA.manifest_dir)
    # the union is dense and exact
    inv = lineage.check_invariants(
        spark, [cfgA.manifest_dir, cfgB.manifest_dir]
    )
    assert inv["events_distinct_total"] == gA.n_events + gB.n_events
    assert inv["max_lsn"] == gA.n_events + gB.n_events


def test_routed_patch_mode_on_branch_composes(spark, tmp_path):
    """Composition of the round-3 features through ONE streaming
    query: entity A replays with partial-image patches (CoW fold) onto
    a write-audit-publish BRANCH, entity B replays plain full images
    into MoR — from the same shared changelog. After audit, publishing
    A's branch fast-forwards main to the oracle state; B was never
    affected by A's staging."""
    from etl_spark.lake.table import LakeTable

    gA = GenConfig(
        seed=31, n_convs=5, n_events=120, dup_rate=0.08, disorder_window=4,
        segment_size=40, schema_op_fracs=(0.3, 0.6, 0.9), patch_rate=0.4,
    )
    gB = GenConfig(
        seed=32, n_convs=4, n_events=120, dup_rate=0.05, disorder_window=4,
        segment_size=40, schema_op_fracs=(),
    )
    baseA, baseB = gen_base(gA), gen_base(gB)
    opsA, opsB = gen_schema_ops(gA), gen_schema_ops(gB)
    binA = gen_binlog(gA, baseA, opsA)
    binB = gen_binlog(gB, baseB, opsB)
    assert (binA["op"] == "P").sum() > 10
    binA["entity"] = "convA"
    binB["entity"] = "convB"
    combined = pd.concat([binA, binB], ignore_index=True)
    seg_dir = str(tmp_path / "segments")
    write_segments(combined, seg_dir)

    cfgA, cfgB = _cfg(tmp_path, "A"), _cfg(tmp_path, "B")
    cfgA.write_mode = "cow"
    cfgA.patch_ops = True
    cfgA.branch = "audit"
    cfgB.write_mode = "mor"
    mainA = bootstrap(spark, cfgA, baseA)
    bootstrap(spark, cfgB, baseB)
    forkA = mainA.current_version()
    rowsA_before = mainA.read().count()
    mainA.create_branch("audit")

    routes = {
        "convA": (cfgA, opsA, TRANSCRIPTS),
        "convB": (cfgB, opsB, TRANSCRIPTS),
    }
    run_replay_routed(
        spark, seg_dir, routes, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )

    # A's main untouched during the staged replay; B fully applied
    mainA = LakeTable(spark, cfgA.table_root)
    assert mainA.current_version() == forkA
    assert mainA.read().count() == rowsA_before
    assert_frames_equal(final_state(spark, cfgB), replay_oracle(baseB, binB, opsB))
    # audit A's branch, then publish
    oracleA = replay_oracle(baseA, binA, opsA)
    branchA = LakeTable(spark, cfgA.table_root, branch="audit")
    assert_frames_equal(branchA.read().orderBy("conv_id", "turn_idx"), oracleA)
    mainA.publish_branch("audit")
    assert_frames_equal(final_state(spark, cfgA), oracleA)
    invA = lineage.check_invariants(spark, cfgA.manifest_dir)
    assert invA["events_distinct_total"] == gA.n_events


def test_routed_unknown_entity_fails_loud(spark, tmp_path):
    """An entity with no configured route is data loss if silently
    skipped (producer added a topic / route-name typo): the default is
    a loud error naming the offenders; unrouted='ignore' is the
    explicit allowlist mode."""
    import pytest

    from etl_spark.engine.route import apply_batch_routed

    g = GenConfig(seed=41, n_convs=3, n_events=40, segment_size=40)
    base = gen_base(g)
    binlog = gen_binlog(g, base, [])
    binlog["entity"] = "convA"
    binlog.loc[binlog.index[:5], "entity"] = "conv_TYPO"
    cfgA = _cfg(tmp_path, "A")
    bootstrap(spark, cfgA, base)
    routes = {"convA": (cfgA, [], TRANSCRIPTS)}
    df = spark.createDataFrame(binlog.drop(columns="_seg"))
    df = df.withColumn("turn_idx", df["turn_idx"].cast("int")).withColumn(
        "schema_version", df["schema_version"].cast("int")
    )
    with pytest.raises(ValueError, match="conv_TYPO"):
        apply_batch_routed(spark, routes, df, 0)
    # allowlist mode applies the known entity and skips the stranger
    apply_batch_routed(spark, routes, df, 0, unrouted="ignore")
    valid = binlog[binlog["entity"] == "convA"]
    assert_frames_equal(final_state(spark, cfgA), replay_oracle(base, valid, []))


def test_routed_reconcile_heals_lost_lineage(spark, tmp_path):
    """Routed crash-window heal by epoch replay: a crash after entity
    B's MERGE but before its lineage write leaves the epoch
    uncommitted, so Spark re-pushes the same batch id through
    apply_batch_routed. B's merge then no-ops via its ledger (table
    version unchanged) and only its lineage file is rebuilt."""
    import os

    import pytest

    from etl_spark.engine.apply import _batch_files_from_checkpoint
    from etl_spark.engine.route import apply_batch_routed, routed_binlog_schema
    from etl_spark.lake.table import LakeTable

    gA = GenConfig(seed=51, n_convs=4, n_events=80, segment_size=20)
    gB = GenConfig(seed=52, n_convs=3, n_events=80, segment_size=20)
    baseA, baseB = gen_base(gA), gen_base(gB)
    binA, binB = gen_binlog(gA, baseA, []), gen_binlog(gB, baseB, [])
    binA["entity"] = "convA"
    binB["entity"] = "convB"
    combined = pd.concat([binA, binB], ignore_index=True)
    seg_dir = str(tmp_path / "segments")
    write_segments(combined, seg_dir)
    cfgA, cfgB = _cfg(tmp_path, "A"), _cfg(tmp_path, "B")
    routes = {"convA": (cfgA, [], TRANSCRIPTS), "convB": (cfgB, [], TRANSCRIPTS)}
    bootstrap(spark, cfgA, baseA)
    bootstrap(spark, cfgB, baseB)
    ckpt = str(tmp_path / "ckpt")
    run_replay_routed(spark, seg_dir, routes, ckpt, max_files_per_trigger=1)
    vB = LakeTable(spark, cfgB.table_root).current_version()

    # simulate the crash window: batch 1's lineage for entity B is gone
    # (these entities carry their OWN dense LSN spaces, so B's ledger
    # alone shows the gap; the union check is for the shared-LSN shape)
    victim = os.path.join(cfgB.manifest_dir, "batch-0000000001.parquet")
    assert os.path.exists(victim)
    os.remove(victim)
    with pytest.raises(Exception):
        lineage.check_invariants(spark, cfgB.manifest_dir)

    # the replayed epoch: batch 1's files, as the offset log records them
    files = _batch_files_from_checkpoint(ckpt, 1)
    assert files
    df = spark.read.schema(routed_binlog_schema(routes)).parquet(*files)
    apply_batch_routed(spark, routes, df, batch_id=1)
    assert os.path.exists(victim)  # manifest rebuilt
    assert LakeTable(spark, cfgB.table_root).current_version() == vB
    invB = lineage.check_invariants(spark, cfgB.manifest_dir)
    assert invB["events_distinct_total"] == gB.n_events
    assert_frames_equal(final_state(spark, cfgA), replay_oracle(baseA, binA, []))
    assert_frames_equal(final_state(spark, cfgB), replay_oracle(baseB, binB, []))


def test_routed_union_audit_sums_slices(spark, tmp_path):
    """check_invariants / batch_metrics over a routed UNION of manifest
    dirs must SUM per-slice batch totals (events_in, quarantined)
    rather than picking one arbitrary route's value with first()."""
    from etl_spark.engine.lineage import batch_metrics

    gA = GenConfig(seed=61, n_convs=4, n_events=60, segment_size=20)
    gB = GenConfig(seed=62, n_convs=3, n_events=60, segment_size=20)
    baseA, baseB = gen_base(gA), gen_base(gB)
    binA, binB = gen_binlog(gA, baseA, []), gen_binlog(gB, baseB, [])
    binA["entity"] = "convA"
    binB["entity"] = "convB"
    combined = pd.concat([binA, binB], ignore_index=True)
    seg_dir = str(tmp_path / "segments")
    write_segments(combined, seg_dir)
    cfgA, cfgB = _cfg(tmp_path, "A"), _cfg(tmp_path, "B")
    routes = {"convA": (cfgA, [], TRANSCRIPTS), "convB": (cfgB, [], TRANSCRIPTS)}
    bootstrap(spark, cfgA, baseA)
    bootstrap(spark, cfgB, baseB)
    run_replay_routed(spark, seg_dir, routes, str(tmp_path / "ckpt"), max_files_per_trigger=1)

    # per-entity-dense LSNs: both entities emit 1..60, so the union's
    # distinct total is per-slice-summed 120, not one slice's 60
    inv = lineage.check_invariants(spark, [cfgA.manifest_dir, cfgB.manifest_dir])
    assert inv["events_distinct_total"] == gA.n_events + gB.n_events
    m = batch_metrics(spark, [cfgA.manifest_dir, cfgB.manifest_dir]).toPandas()
    # each batch's events_in is the SUM across both routes' slices
    per_batch_expected = (
        combined.groupby("_seg")["lsn"].count().sort_index().tolist()
    )
    assert m.sort_values("batch_id")["events_in"].tolist() == per_batch_expected
    # both audit views read the same rollup, so they agree on the union
    assert (
        inv["batches"],
        inv["events_distinct_total"],
        inv["events_quarantined_total"],
    ) == (len(m), int(m["events_new"].sum()), int(m["events_quarantined"].sum()))


def test_routed_binlog_schema_wraps_spec_envelope():
    """The shared log's schema is the entity binlog envelope around the
    route column and the nullable key union; a key name whose type
    differs across routes is refused."""
    import dataclasses

    import pytest

    from etl_spark.engine.route import routed_binlog_schema

    other = dataclasses.replace(
        TRANSCRIPTS, name="users", base_fields=(("user_id", "long"),),
        key=("user_id",), bucket_by="user_id", normalize_field_id=None,
    )
    got = routed_binlog_schema({"a": (None, [], TRANSCRIPTS), "b": (None, [], other)})
    keys = [*TRANSCRIPTS.key, "user_id"]
    spec_fields = [f for f in TRANSCRIPTS.binlog_schema() if f.name not in TRANSCRIPTS.key]
    assert [f for f in got if f.name not in keys and f.name != "entity"] == spec_fields
    assert [(f.name, f.nullable) for f in got if f.name in keys] == [(k, True) for k in keys]

    clash = dataclasses.replace(other, base_fields=(("conv_id", "long"),), key=("conv_id",))
    with pytest.raises(ValueError, match="'conv_id' has conflicting types"):
        routed_binlog_schema({"a": (None, [], TRANSCRIPTS), "b": (None, [], clash)})
