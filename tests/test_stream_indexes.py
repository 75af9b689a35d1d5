"""Stream-maintained persisted indexes (engine/indexes.py +
EngineConfig.index_specs): a documents-shaped CDC stream replayed
through the REAL engine path (file source, checkpoint, foreachBatch,
ledgered MERGEs) keeps its exact-dedup and near-dup indexes fresh
per micro-batch — and the final index state must equal a from-scratch
recompute over the final table, including across a kill/resume."""

from __future__ import annotations

import dataclasses
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.cdc_schema import SourceSpec
from etl_spark.config import EngineConfig
from etl_spark.engine.indexes import IndexSpec, MVSpec
from etl_spark.lake.ann_index import create_ann_index, refresh_ann_index
from etl_spark.lake.dedup_index import create_index, groups
from etl_spark.lake.neardup_index import create_neardup_index, neardup_pairs
from etl_spark.lake.table import LakeTable
from etl_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    release_caches,
)
from etl_spark.pipeline import bootstrap, replay
from etl_spark.util import read_cursor

DOCS = SourceSpec(
    "documents",
    (("doc_id", "long"), ("text", "string")),
    ("doc_id",),
    "doc_id",
)

BASE = "the quick brown fox jumps over the lazy dog near the river"
NEAR = "the quick brown fox jumps over the lazy dog near the bank"
OTHER = "completely different content about ships and harbors at night"


def _text(i: int) -> str:
    # duplicates (i % 4 == 1 share BASE), near-dups, and unique tails
    if i % 4 == 1:
        return BASE
    if i % 4 == 2:
        return NEAR
    return f"{OTHER} number {i}"


def _segment(
    spark,
    path,
    rows,
    cols="lsn long, op string, doc_id long, op_ts timestamp_ltz, "
         "schema_version int, payload string",
):
    """Write one binlog segment as a single flat parquet FILE (the
    streaming file source does not recurse into per-segment dirs)."""
    import glob
    import shutil

    tmp = path + "._tmp"
    spark.createDataFrame(rows, cols).coalesce(1).write.parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    os.rename(part, path)
    shutil.rmtree(tmp)


def _u(lsn, doc_id, text):
    import json

    return (lsn, "U", doc_id, None, 1, json.dumps({"text": text}))


def _d(lsn, doc_id):
    return (lsn, "D", doc_id, None, 1, None)


def _mk_world(spark, tmp_path):
    seg = str(tmp_path / "segments")
    os.makedirs(seg)
    # segment 1: 12 inserts; segment 2: re-deliveries + updates +
    # deletes (the refresh must fold adds AND removals incrementally)
    _segment(spark, os.path.join(seg, "s1.parquet"), [
        _u(i, i, _text(i)) for i in range(1, 13)
    ])
    _segment(spark, os.path.join(seg, "s2.parquet"), [
        _u(5, 5, _text(5)),                      # re-delivery (dup lsn)
        _u(20, 3, BASE),                          # update: joins BASE dup group
        _u(21, 7, NEAR + " appendix"),            # update: near-dup shift
        _d(22, 8),                                # delete
        _u(23, 30, BASE),                         # late insert, dup of BASE
    ])
    cfg = EngineConfig(
        table_root=str(tmp_path / "tbl"),
        manifest_dir=str(tmp_path / "manifest"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=4,
        max_files_per_trigger=1,  # one segment per micro-batch
        index_specs=(
            IndexSpec("dedup", str(tmp_path / "didx"), "doc_id", "text"),
            IndexSpec("neardup", str(tmp_path / "ndidx"), "doc_id", "text"),
        ),
        mv_specs=(
            MVSpec(str(tmp_path / "mv"), ("text",), (("sum_ids", "doc_id"),)),
        ),
    )
    create_index(spark, str(tmp_path / "didx"), num_buckets=4)
    create_neardup_index(spark, str(tmp_path / "ndidx"), num_buckets=4)
    return seg, cfg


def _assert_indexes_match_recompute(spark, cfg):
    table = LakeTable(spark, cfg.table_root)
    didx = LakeTable(spark, cfg.index_specs[0].root)
    ndidx = LakeTable(spark, cfg.index_specs[1].root)
    final = table.read().select("doc_id", "text")

    got_g = (
        groups(didx).toPandas().sort_values("fp").reset_index(drop=True)
    )
    want_g = (
        exact_dedup_groups(final, "doc_id", "text")
        .select("fp", "keeper_id", "n_dups")
        .toPandas().sort_values("fp").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_g, want_g, check_dtype=False)
    assert (want_g["n_dups"] > 1).any()  # non-vacuous: real dup groups

    got_p = (
        neardup_pairs(table, ndidx)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    release_caches()
    want_p = (
        minhash_lsh_pairs(
            final, "doc_id", "text", n=3, num_hashes=8, bands=4,
            threshold=0.8, max_shingle_freq=10**9, cache_shingles=False,
        )
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    release_caches()
    pd.testing.assert_frame_equal(got_p, want_p, check_dtype=False)
    assert len(want_p) > 0  # non-vacuous: real near-dup pairs

    # the stream-maintained MV equals a full GROUP BY over the final
    # table (deletes/updates exercised the signed-delta fold)
    from etl_spark.lake.mv import read_mv

    mv_dir = cfg.mv_specs[0].mv_dir
    got_mv = (
        read_mv(spark, mv_dir).toPandas()
        .sort_values("text").reset_index(drop=True)
    )
    want_mv = (
        final.groupBy("text")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
        )
        .toPandas().sort_values("text").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got_mv[["text", "n_rows", "sum_ids"]],
        want_mv[["text", "n_rows", "sum_ids"]],
        check_dtype=False,
    )

    # cursors sit at the table's current version: refreshes tracked
    # every committed batch, and a post-stream refresh is a no-op
    cur = table.current_version()
    assert read_cursor(
        os.path.join(didx.root, "_dedup_cursor.json"), "refreshed_version"
    ) == cur
    assert read_cursor(
        os.path.join(ndidx.root, "_neardup_cursor.json"), "refreshed_version"
    ) == cur
    assert read_cursor(
        os.path.join(mv_dir, "_cursor.json"), "refreshed_version"
    ) == cur


EMB = SourceSpec(
    "embeddings",
    (("vec_id", "long"), ("embedding", "array<float>")),
    ("vec_id",),
    "vec_id",
)

CENTS = [
    [1.0, 0.0, 0.0, 0.0],
    [0.0, 1.0, 0.0, 0.0],
    [0.0, 0.0, 1.0, 0.0],
]


def _vec(cell: int, i: int) -> list[float]:
    # near CENTS[cell], offset by i/256 on the last axis — exactly
    # representable in float32, so scores are bit-stable end-to-end
    v = list(CENTS[cell])
    v[-1] = i / 256.0
    return v


def _uv(lsn, vec_id, vec):
    import json

    return (lsn, "U", vec_id, None, 1, json.dumps({"embedding": vec}))


def test_mvspec_validates_at_construction():
    """dims="role" (str is iterable of chars) and a missing trailing
    comma in sums must fail when the config is BUILT, not K committed
    batches into the stream."""
    import pytest

    with pytest.raises(ValueError, match="dims"):
        MVSpec("/tmp/mv", "role")
    with pytest.raises(ValueError, match="pairs"):
        MVSpec("/tmp/mv", ("role",), ("sum_turns", "turn_idx"))
    MVSpec("/tmp/mv", ("role",), (("sum_turns", "turn_idx"),))  # ok


def test_routed_refuses_shared_derived_dirs():
    """Two route configs pointing at one MV dir (or index root) would
    let concurrent applies interleave commits/state sweeps into a
    plausible-looking but garbage derived state — refused up front."""
    import pytest

    from etl_spark.config import EngineConfig
    from etl_spark.engine.indexes import validate_disjoint_derived_state

    mk = lambda mv: EngineConfig(  # noqa: E731
        table_root="t", manifest_dir="m", checkpoint_dir="c",
        mv_specs=(MVSpec(mv, ("role",)),),
    )
    with pytest.raises(ValueError, match="shared across route"):
        validate_disjoint_derived_state([mk("/tmp/shared"), mk("/tmp/shared")])
    validate_disjoint_derived_state([mk("/tmp/a"), mk("/tmp/b")])  # ok
    # an index root colliding with an MV dir is the same corruption
    cfg = EngineConfig(
        table_root="t", manifest_dir="m", checkpoint_dir="c",
        index_specs=(IndexSpec("dedup", "/tmp/shared", "id", "text"),),
    )
    with pytest.raises(ValueError, match="shared across route"):
        validate_disjoint_derived_state([cfg, mk("/tmp/shared")])


def test_run_replay_refuses_colliding_derived_dirs(spark, tmp_path):
    """One config whose index root equals its own MV dir, or whose MV
    dir is its own table root, is refused before the stream starts."""
    import pytest

    from etl_spark.engine.stream import run_replay

    root = str(tmp_path / "t")
    for kw in (
        dict(
            index_specs=(IndexSpec("dedup", "/tmp/shared", "id", "text"),),
            mv_specs=(MVSpec("/tmp/shared", ("role",)),),
        ),
        dict(mv_specs=(MVSpec(root, ("role",)),)),
    ):
        cfg = EngineConfig(
            table_root=root, manifest_dir=str(tmp_path / "m"),
            checkpoint_dir=str(tmp_path / "c"), **kw,
        )
        with pytest.raises(ValueError, match="shared across route configs"):
            run_replay(spark, str(tmp_path / "segments"), cfg, [])
    assert not os.path.exists(tmp_path / "c")


def test_refresh_rejects_shared_index_root():
    """Two specs pointing at one index root would fold two different
    derivations into the same table — refused before any work."""
    import pytest

    from etl_spark.engine.indexes import refresh_indexes

    specs = (
        IndexSpec("dedup", "/tmp/idx_shared", "doc_id", "text"),
        IndexSpec("neardup", "/tmp/idx_shared", "doc_id", "text"),
    )
    with pytest.raises(ValueError, match="share a root"):
        refresh_indexes(None, None, specs)


def test_stream_maintains_ann_index(spark, tmp_path):
    """The ANN branch of refresh_indexes through the REAL engine path:
    an embeddings-shaped stream (array<float> payload column) with
    inserts, a cell-moving update, a re-delivery, and a delete leaves
    the IVF posting lists equal to a from-scratch rebuild over the
    final table, with the cursor at the table's current version."""
    seg = str(tmp_path / "segments")
    os.makedirs(seg)
    _segment(
        spark,
        os.path.join(seg, "s1.parquet"),
        [_uv(i, i, _vec(i % 3, i)) for i in range(1, 10)],
        cols="lsn long, op string, vec_id long, op_ts timestamp_ltz, "
             "schema_version int, payload string",
    )
    _segment(
        spark,
        os.path.join(seg, "s2.parquet"),
        [
            _uv(5, 5, _vec(5 % 3, 5)),   # re-delivery (dup lsn)
            _uv(20, 4, _vec(2, 4)),      # update: cell 1 -> 2
            (21, "D", 7, None, 1, None),  # delete
            _uv(22, 30, _vec(0, 30)),    # late insert
        ],
        cols="lsn long, op string, vec_id long, op_ts timestamp_ltz, "
             "schema_version int, payload string",
    )
    cfg = EngineConfig(
        table_root=str(tmp_path / "tbl"),
        manifest_dir=str(tmp_path / "manifest"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=4,
        max_files_per_trigger=1,
        index_specs=(
            IndexSpec("ann", str(tmp_path / "aidx"), "vec_id", "embedding"),
        ),
    )
    create_ann_index(spark, str(tmp_path / "aidx"), CENTS, num_buckets=4)
    bootstrap(spark, cfg, None, spec=EMB)
    replay(spark, cfg, seg, ops=[], spec=EMB)

    table = LakeTable(spark, cfg.table_root)
    aidx = LakeTable(spark, cfg.index_specs[0].root)
    got = (
        aidx.read().select("cell", "vec_id").toPandas()
        .sort_values(["cell", "vec_id"]).reset_index(drop=True)
    )
    rebuilt = create_ann_index(
        spark, str(tmp_path / "aidx2"), CENTS, num_buckets=4
    )
    refresh_ann_index(table, rebuilt)
    want = (
        rebuilt.read().select("cell", "vec_id").toPandas()
        .sort_values(["cell", "vec_id"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert len(want) == 9  # 9 live vectors; 7 deleted
    cells = dict(zip(want["vec_id"], want["cell"]))
    assert cells[4] == 2 and 7 not in cells  # the move and the delete
    assert read_cursor(
        os.path.join(aidx.root, "_ann_cursor.json"), "refreshed_version"
    ) == table.current_version()
    # post-stream refresh is a no-op: the stream kept it current
    assert refresh_ann_index(table, aidx)["mode"] == "noop"


@pytest.mark.parametrize("cadence", [1, 3])
def test_stream_maintains_indexes(spark, tmp_path, cadence):
    """Cadence 3 over this 2-batch stream never reaches a cadence
    point inside the stream: the bounded replay's final refresh must
    still bring the indexes and the MV to the table's current
    version."""
    seg, cfg = _mk_world(spark, tmp_path)
    cfg = dataclasses.replace(cfg, index_refresh_every_batches=cadence)
    bootstrap(spark, cfg, None, spec=DOCS)
    replay(spark, cfg, seg, ops=[], spec=DOCS)
    _assert_indexes_match_recompute(spark, cfg)


def test_stream_index_resume_after_kill(spark, tmp_path):
    """Run the stream over the first segment only, then add the second
    and resume from the same checkpoint: the per-batch refreshes plus
    the cursor/ledger contract must land the indexes in the identical
    final state (no double-fold of the replayed window)."""
    seg, cfg = _mk_world(spark, tmp_path)
    held_out = os.path.join(seg, "s2.parquet")
    parked = str(tmp_path / "parked.parquet")
    os.rename(held_out, parked)
    bootstrap(spark, cfg, None, spec=DOCS)
    replay(spark, cfg, seg, ops=[], spec=DOCS)
    # mid-stream state is already recompute-equal
    _assert_indexes_match_recompute(spark, cfg)
    os.rename(parked, held_out)
    replay(spark, cfg, seg, ops=[], spec=DOCS)
    _assert_indexes_match_recompute(spark, cfg)
    # the dedup group for BASE ends with keeper 1 and all four members
    didx = LakeTable(spark, cfg.index_specs[0].root)
    base_group = (
        groups(didx)
        .join(
            LakeTable(spark, cfg.table_root).read()
            .filter(F.col("doc_id") == 1)
            .select(F.col("text")).limit(1).withColumn("_one", F.lit(1)),
            how="cross",
        )
        .filter(F.col("n_dups") >= 4)
        .collect()
    )
    assert base_group and base_group[0]["keeper_id"] == 1
