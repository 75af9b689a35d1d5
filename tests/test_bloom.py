"""Per-file key Bloom filters (lake/bloom.py + LakeTable.build_blooms
/ lookup): point-lookup file skipping inside hash buckets — the
Iceberg Puffin-stats analog zone maps can't cover (keys are uniform
across a bucket's files, so no [min,max] ever excludes one).

Soundness pins (see lake/bloom.py): pruning drops only files with NO
row of any probed key, so it needs none of the zone-map
bucket-granularity machinery — a probed key's merge-on-read LSN
contest always sees its full row set, tombstones and patch deltas
carry the key and are never dropped, and false positives only keep
files."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.lake.merge import merge_into
from etl_spark.lake.table import LakeTable


def _mk(spark, tmp_path, mode, name="t", num_buckets=2):
    return LakeTable.create(
        spark, str(tmp_path / f"{name}_{mode}"),
        [("user_id", "long"), ("v", "long")],
        ["user_id"], "user_id", num_buckets=num_buckets, write_mode=mode,
    )


def _key_fid(m):
    """Field id of the bucket key — the key of its Bloom filter entry
    in `DataFile.col_blooms`."""
    return next(f.id for f in m.schema.fields if f.name == m.bucket_by)


def _src(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows))


def _rows(lo, n, b, op="U"):
    return [
        dict(user_id=u, v=None if op == "D" else u * 10 + b,
             op=op, lsn=b * 100_000 + u)
        for u in range(lo, lo + n)
    ]


def test_lookup_equal_and_prunes(spark, tmp_path):
    """Lookup results are identical before/after blooms; a probe for
    keys absent from most files opens fewer files, and a fully absent
    key opens none."""
    for mode in ("cow", "mor"):
        t = _mk(spark, tmp_path, mode)
        for b in range(3):
            merge_into(t, _src(spark, _rows(b * 100, 100, b)),
                       batch_key=f"b{b}")
        probe = [5, 150, 250, 999_999]
        pre = sorted(
            (r["user_id"], r["v"]) for r in t.lookup(probe).collect()
        )
        res = t.build_blooms()
        assert res["files_bloomed"] > 0 and res["m_bits"] % 8 == 0
        post_df = t.lookup(probe)
        post = sorted((r["user_id"], r["v"]) for r in post_df.collect())
        assert pre == post == [(5, 50), (150, 1501), (250, 2502)]
        if mode == "mor":
            # each probed key lives in exactly one commit's delta file
            m = t.manifest()
            total = len(m.files_for(t._buckets_for_values(m, [5])))
            one = t.lookup([5])
            assert [r["v"] for r in one.collect()] == [50]
            assert len(one.inputFiles()) < total
        miss = t.lookup([777_777])
        assert miss.count() == 0 and miss.inputFiles() == []
        # idempotent re-run: nothing left to bloom, no new commit
        v = t.current_version()
        again = t.build_blooms()
        assert again["files_bloomed"] == 0 and t.current_version() == v


def test_mor_stale_version_never_resurrects(spark, tmp_path):
    """A key whose current image lives in a newer file must resolve
    there even when an older file holds a stale image: both files
    contain the key, so both survive the bloom prune."""
    t = _mk(spark, tmp_path, "mor", num_buckets=1)
    merge_into(t, _src(spark, [dict(user_id=1, v=5, op="U", lsn=1)]), batch_key="b0")
    merge_into(t, _src(spark, [dict(user_id=1, v=50, op="U", lsn=2)]), batch_key="b1")
    t.build_blooms()
    assert [r["v"] for r in t.lookup([1]).collect()] == [50]


def test_deletes_stay_dead_under_bloom_lookup(spark, tmp_path):
    """A deleted key's tombstone file carries the key, so the prune
    keeps it and the lookup returns nothing — dropping it would
    resurrect the older live image."""
    t = _mk(spark, tmp_path, "mor", num_buckets=1)
    merge_into(t, _src(spark, [dict(user_id=1, v=5, op="U", lsn=1),
                               dict(user_id=2, v=6, op="U", lsn=2)]),
               batch_key="b0")
    merge_into(t, _src(spark, [dict(user_id=1, v=None, op="D", lsn=3)]),
               batch_key="b1")
    t.build_blooms()
    assert t.lookup([1]).count() == 0
    assert [(r["user_id"], r["v"]) for r in t.lookup([2]).collect()] == [(2, 6)]


def test_bloom_survives_bucket_key_rename(spark, tmp_path):
    """Filters hash VALUES, not names: files built before a bucket_by
    rename keep matching, because _evolve tracks key/bucket_by through
    field IDs (regression: rename used to leave Manifest.bucket_by
    stale, breaking every later lookup/merge) and the probe hashes the
    value under its unchanged type."""
    t = _mk(spark, tmp_path, "mor", name="evo")
    merge_into(t, _src(spark, _rows(0, 50, 0)), batch_key="b0")
    t.build_blooms()
    t.rename_column("user_id", "uid")
    got = t.lookup([7])
    assert [(r["uid"], r["v"]) for r in got.collect()] == [(7, 70)]
    assert t.lookup([999]).count() == 0  # exclusion still proves out
    # and the table stays WRITABLE after the key rename (the stale-name
    # bug broke merges too)
    merge_into(
        t,
        _src(spark, [dict(uid=7, v=777, op="U", lsn=900_000)]),
        batch_key="b1",
    )
    assert [r["v"] for r in t.lookup([7]).collect()] == [777]


def test_bucket_key_widen_is_refused(spark, tmp_path):
    """xxhash64 is type-sensitive (int 5 != long 5), so widening the
    bucket column would route a key's new events to a different bucket
    than its existing rows — the MERGE would silently duplicate keys.
    The widen fails loud; payload/non-bucket widens stay allowed."""
    t = LakeTable.create(
        spark, str(tmp_path / "widen"),
        [("user_id", "int"), ("v", "int")],
        ["user_id"], "user_id", num_buckets=2, write_mode="mor",
    )
    src = _src(spark, _rows(0, 10, 0)).select(
        F.col("user_id").cast("int").alias("user_id"),
        F.col("v").cast("int").alias("v"), "op", "lsn",
    )
    merge_into(t, src, batch_key="b0")
    with pytest.raises(ValueError, match="bucket routing hashes by type"):
        t.widen_type("user_id", "long")
    t.widen_type("v", "long")  # payload widen unaffected
    assert [r["v"] for r in t.lookup([3]).collect()] == [30]


def test_build_annotates_only_surviving_files_after_compaction(spark, tmp_path):
    """Compaction replaces files; a later build blooms the compacted
    files, lookups stay exact, and vacuum removes the replaced files'
    orphaned sidecars while keeping live ones."""
    t = _mk(spark, tmp_path, "mor", num_buckets=1)
    for b in range(3):
        merge_into(t, _src(spark, _rows(b * 10, 10, b)), batch_key=f"b{b}")
    t.build_blooms()
    kf = _key_fid(t.manifest())
    old_sidecars = {
        f.col_blooms.get(kf)["path"] for f in t.manifest().files
        if f.col_blooms.get(kf)
    }
    assert old_sidecars
    t.compact(max_files_per_bucket=1)
    assert all(f.col_blooms.get(kf) is None for f in t.manifest().files)
    res = t.build_blooms()
    assert res["files_bloomed"] > 0
    assert [r["v"] for r in t.lookup([15]).collect()] == [151]
    t.expire_snapshots(keep_last=1)
    live = {
        f.col_blooms.get(kf)["path"] for f in t.manifest().files
        if f.col_blooms.get(kf)
    }
    for rel in live:
        assert os.path.exists(os.path.join(t.root, rel))
    for rel in old_sidecars:
        assert not os.path.exists(os.path.join(t.root, rel))


def test_bloom_commit_is_maintenance(spark, tmp_path):
    """The annotation commit changes no logical state: the change feed
    emits nothing for it and a live merge replays cleanly on top."""
    from etl_spark.lake.changes import read_changes

    t = _mk(spark, tmp_path, "cow", num_buckets=1)
    merge_into(t, _src(spark, _rows(0, 20, 0)), batch_key="b0")
    v0 = t.current_version()
    t.build_blooms()
    v1 = t.current_version()
    assert v1 == v0 + 1
    feed = read_changes(t, v0, v1)
    assert feed.count() == 0
    merge_into(t, _src(spark, _rows(0, 5, 9)), batch_key="b1")
    assert [r["v"] for r in t.lookup([3]).collect()] == [39]


def test_false_positive_rate_bounded(spark, tmp_path):
    """Probe many absent keys: the measured file-level FP rate stays
    well under 10% at the default ~10 bits/row sizing (expected ~1%).
    Deterministic — xxhash64 is a fixed function of the values."""
    t = _mk(spark, tmp_path, "mor", num_buckets=1)
    merge_into(t, _src(spark, _rows(0, 2000, 0)), batch_key="b0")
    t.build_blooms()
    m = t.manifest()
    f = next(f for f in m.files if f.col_blooms.get(_key_fid(m)))
    fp = 0
    trials = 200
    for i in range(trials):
        probe = [1_000_000 + i]
        if t._prune_files_bloom_col(m, [f], m.bucket_by, probe, resolve=False):
            fp += 1
    assert fp / trials < 0.10, f"fp rate {fp/trials}"


def test_truncated_sidecar_keeps_file(spark, tmp_path):
    """A corrupted (short) sidecar can no longer PROVE absence — the
    probe must keep the file, not prune it (the failure posture is
    always 'unprunable', matching missing footer stats)."""
    t = _mk(spark, tmp_path, "mor", name="trunc", num_buckets=1)
    merge_into(t, _src(spark, _rows(0, 50, 0)), batch_key="b0")
    t.build_blooms()
    kf = _key_fid(t.manifest())
    f = next(f for f in t.manifest().files if f.col_blooms.get(kf))
    sc = os.path.join(t.root, f.col_blooms.get(kf)["path"])
    with open(sc, "r+b") as fh:
        fh.truncate(1)  # nearly everything now reads past EOF
    assert [r["v"] for r in t.lookup([7]).collect()] == [70]


def test_sidecar_name_carries_params(spark, tmp_path):
    """(m, k) ride the sidecar FILENAME: a maintenance builder racing
    with a different config can never leave the manifest's recorded
    parameters disagreeing with the bytes on disk (same-path
    replacement would prune present keys). Non-default params build,
    annotate their own path, and probe exactly. One naming rule covers
    every column: the bucket key's filter is keyed and named by its
    field id like any other column's."""
    from etl_spark.lake.bloom import sidecar_name

    t = _mk(spark, tmp_path, "mor", name="params", num_buckets=1)
    merge_into(t, _src(spark, _rows(0, 200, 0)), batch_key="b0")
    res = t.build_blooms(columns=["user_id", "v"], bits_per_row=12, k=5)
    assert res["files_bloomed"] > 0
    m = t.manifest()
    fids = {f.name: f.id for f in m.schema.fields}
    for f in m.files:
        assert set(f.col_blooms) == {fids["user_id"], fids["v"]}
        for fid, meta in f.col_blooms.items():
            assert meta["k"] == 5
            assert meta["path"] == sidecar_name(f.path, meta["m"], 5, fid)
            assert os.path.exists(os.path.join(t.root, meta["path"]))
    assert [r["v"] for r in t.lookup([7]).collect()] == [70]
    assert t.lookup([999_999]).count() == 0


def test_vacuum_keeps_unannotated_sidecar_of_live_file(spark, tmp_path):
    """expire_snapshots must not reap a sidecar written by an
    in-flight build_blooms whose annotation commit hasn't landed yet —
    the sidecar is live iff its DATA file is (regression: the landed
    annotation would point at nothing and pruning would be silently
    disabled forever). Crashed builds' .tmp-* leftovers stay
    reclaimable."""
    t = _mk(spark, tmp_path, "cow", name="vac", num_buckets=1)
    merge_into(t, _src(spark, _rows(0, 20, 0)), batch_key="b0")
    merge_into(t, _src(spark, _rows(0, 20, 1)), batch_key="b1")
    from etl_spark.lake.bloom import sidecar_name

    kf = _key_fid(t.manifest())
    live = next(f for f in t.manifest().files if f.col_blooms.get(kf) is None)
    side = os.path.join(t.root, sidecar_name(live.path, 8192, 7, kf))
    tmp = side + ".tmp-deadbeef"
    for p in (side, tmp):
        with open(p, "wb") as fh:
            fh.write(b"\xff" * 1024)
    t.expire_snapshots(keep_last=1)
    assert os.path.exists(side), "unannotated sidecar of a live file reaped"
    assert not os.path.exists(tmp), "crashed-build tmp leftover kept"
    # and the sidecar of a DEAD data file is reclaimed with it
    dead_rel = live.path
    t.compact(max_files_per_bucket=0)
    t.expire_snapshots(keep_last=1)
    assert not os.path.exists(os.path.join(t.root, dead_rel))
    assert not os.path.exists(side)


def _vrows(lo, n, b):
    # v decorrelated from commit order: every commit's files span
    # ~the full v range, so the zone-map hull can't prune and the
    # Bloom filters are what's being exercised
    return [
        dict(user_id=u, v=(u * 37) % 1000 + b, op="U", lsn=b * 100_000 + u)
        for u in range(lo, lo + n)
    ]


def test_generic_column_bloom_where_in(spark, tmp_path):
    """build_blooms(columns=[...]) + read(where_in=...): equality file
    skipping on a NON-key column. Under merge-on-read the zone-map
    commit rule applies (multi-commit buckets all-or-nothing); after
    sorted-free compaction (single-commit buckets) pruning goes
    per-file. Results always equal the unpruned filter."""
    t = _mk(spark, tmp_path, "mor", name="colb", num_buckets=2)
    for b in range(3):
        merge_into(t, _src(spark, _vrows(b * 100, 100, b)), batch_key=f"b{b}")
    probe = [(7 * 37) % 1000 + 0, (150 * 37) % 1000 + 1]  # users 7, 150
    expect = sorted(
        (r["user_id"], r["v"])
        for r in t.read().filter(F.col("v").isin(probe)).collect()
    )
    assert expect  # probe values actually exist
    res = t.build_blooms(columns=["v"])
    assert res["files_bloomed"] > 0 and res["columns"] == ["v"]
    fid = next(f.id for f in t.manifest().schema.fields if f.name == "v")
    for f in t.manifest().files:
        assert f.col_blooms and f.col_blooms[fid]["path"].endswith(
            f".bloom{fid}-{f.col_blooms[fid]['m']}-{f.col_blooms[fid]['k']}"
        )
    got = t.read(where_in={"v": probe})
    assert sorted((r["user_id"], r["v"]) for r in got.collect()) == expect
    # an absent value opens nothing: every bucket's files prove absence
    miss = t.read(where_in={"v": [999_999]})
    assert miss.count() == 0 and miss.inputFiles() == []
    # single-commit buckets (compaction) upgrade to per-file pruning
    t.compact(max_files_per_bucket=0, split_per_bucket=4)
    t.build_blooms(columns=["v"])
    total = len(t.manifest().files)
    got2 = t.read(where_in={"v": probe})
    assert sorted((r["user_id"], r["v"]) for r in got2.collect()) == expect
    assert len(got2.inputFiles()) < total


def test_where_in_never_resurrects_stale_version(spark, tmp_path):
    """THE soundness case for non-key equality pruning: key 1's stale
    image has v=5, its latest has v=50. Probing v=5 must return
    nothing — per-file pruning in the multi-commit bucket would drop
    the newer file (it lacks 5) and resurrect the stale row, so the
    bucket is kept whole and the residual filter decides."""
    t = _mk(spark, tmp_path, "mor", name="stale", num_buckets=1)
    merge_into(t, _src(spark, [dict(user_id=1, v=5, op="U", lsn=1)]),
               batch_key="b0")
    merge_into(t, _src(spark, [dict(user_id=1, v=50, op="U", lsn=2)]),
               batch_key="b1")
    t.build_blooms(columns=["v"])
    assert t.read(where_in={"v": [5]}).count() == 0
    assert [(r["user_id"], r["v"])
            for r in t.read(where_in={"v": [50]}).collect()] == [(1, 50)]


def test_where_in_survives_type_widen(spark, tmp_path):
    """Filters record the type they hashed under ("t"): after an
    int->long widen, probing with long values re-encodes under each
    pre-widen filter's own int domain (xxhash64 is type-sensitive —
    hashing the longs directly would prove present values absent and
    silently prune their files)."""
    t = LakeTable.create(
        spark, str(tmp_path / "widenb"),
        [("user_id", "long"), ("v", "int")],
        ["user_id"], "user_id", num_buckets=1, write_mode="mor",
    )
    src = _src(spark, _vrows(0, 50, 0)).select(
        "user_id", F.col("v").cast("int").alias("v"), "op", "lsn",
    )
    merge_into(t, src, batch_key="b0")
    t.build_blooms(columns=["v"])
    t.widen_type("v", "long")
    present = int((7 * 37) % 1000)  # user 7's v
    got = t.read(where_in={"v": [present]})
    assert (7, present) in {(r["user_id"], r["v"]) for r in got.collect()}
    assert t.read(where_in={"v": [999_999]}).count() == 0


def test_where_in_on_bucket_key_matches_lookup(spark, tmp_path):
    """where_in on the bucket column reuses bucket pruning: same rows
    as lookup(), no Bloom build required."""
    t = _mk(spark, tmp_path, "mor", name="wkin", num_buckets=4)
    for b in range(2):
        merge_into(t, _src(spark, _rows(b * 100, 100, b)), batch_key=f"b{b}")
    probe = [5, 150, 999_999]
    via_lookup = sorted(
        (r["user_id"], r["v"]) for r in t.lookup(probe).collect()
    )
    via_read = t.read(where_in={"user_id": probe})
    assert sorted(
        (r["user_id"], r["v"]) for r in via_read.collect()
    ) == via_lookup
    m = t.manifest()
    assert len(via_read.inputFiles()) <= len(
        m.files_for(t._buckets_for_values(m, probe))
    ) < len(m.files)
    # with key blooms built, where_in prunes PER-FILE like lookup():
    # the bucket key is exempt from the multi-commit all-or-nothing
    # rule (its LSN contest is complete under any per-file drop)
    t.build_blooms()
    a = t.read(where_in={"user_id": probe})
    b = t.lookup(probe)
    assert sorted((r["user_id"], r["v"]) for r in a.collect()) == via_lookup
    assert sorted(a.inputFiles()) == sorted(b.inputFiles())
    assert len(a.inputFiles()) < len(
        m.files_for(t._buckets_for_values(m, probe))
    )


def test_blooms_compose_with_branch_publish(spark, tmp_path):
    """WAP composition: blooms built on a branch annotate the branch's
    manifest chain, where_in works on the branch view, publishing
    fast-forwards main, and main's reads then use the branch-built
    sidecars (vacuum keeps them — the data files are live on main)."""
    t = _mk(spark, tmp_path, "mor", name="br", num_buckets=2)
    merge_into(t, _src(spark, _vrows(0, 100, 0)), batch_key="b0")
    bt = t.create_branch("backfill")
    merge_into(bt, _src(spark, _vrows(100, 100, 1)), batch_key="b1")
    bt.build_blooms(columns=["v"])
    probe = [(150 * 37) % 1000 + 1]  # user 150's v, branch-only
    got_branch = {
        (r["user_id"], r["v"])
        for r in bt.read(where_in={"v": probe}).collect()
    }
    assert (150, probe[0]) in got_branch
    # main doesn't see the branch rows pre-publish
    assert t.read().filter(F.col("user_id") == 150).count() == 0
    t.publish_branch("backfill")
    got_main = {
        (r["user_id"], r["v"])
        for r in t.read(where_in={"v": probe}).collect()
    }
    assert (150, probe[0]) in got_main
    t.expire_snapshots(keep_last=1)
    got_after = {
        (r["user_id"], r["v"])
        for r in t.read(where_in={"v": probe}).collect()
    }
    assert got_after == got_main


def test_drop_branch_removes_its_sidecars(spark, tmp_path):
    """Dropping a branch deletes the Bloom sidecars only its commits
    annotated — also those of main's files, which stay — and main
    reads on unchanged."""
    t = _mk(spark, tmp_path, "mor", name="drop", num_buckets=2)
    merge_into(t, _src(spark, _vrows(0, 100, 0)), batch_key="b0")
    bt = t.create_branch("backfill")
    merge_into(bt, _src(spark, _vrows(100, 100, 1)), batch_key="b1")
    bt.build_blooms(columns=["v"])
    sidecars = {
        meta["path"]
        for f in bt.manifest().files
        for meta in (f.col_blooms or {}).values()
    }
    assert len(sidecars) == len(bt.manifest().files) > len(t.manifest().files)
    t.drop_branch("backfill")
    assert [p for p in sidecars if os.path.exists(os.path.join(t.root, p))] == []
    assert all(os.path.exists(os.path.join(t.root, f.path)) for f in t.manifest().files)
    assert t.read().count() == 100


def test_where_in_after_erase(spark, tmp_path):
    """Deleting a key under copy-on-write physically rewrites its
    bucket; a where_in probe for the deleted row's value finds
    nothing, and stale sidecars of the rewritten files are never
    consulted (the rewrite reset the annotations with the files)."""
    t = _mk(spark, tmp_path, "cow", name="er", num_buckets=2)
    merge_into(t, _src(spark, _vrows(0, 100, 0)), batch_key="b0")
    t.build_blooms(columns=["v"])
    v7 = (7 * 37) % 1000
    assert t.read(where_in={"v": [v7]}).count() == 1
    merge_into(t, spark.createDataFrame(
        [(7, None, "D", 100_007)], "user_id long, v long, op string, lsn long"
    ), batch_key="d7")
    # the delete rewrote key 7's bucket: those fresh files carry no
    # stale annotations (reset with the rewrite), others keep theirs
    deleted_bucket = t._buckets_for_values(t.manifest(), [7])[0]
    for f in t.manifest().files:
        if f.bucket == deleted_bucket:
            assert not (f.col_blooms or {})
    assert t.read(where_in={"v": [v7]}).count() == 0
    # untouched keys still probe exactly after a fresh build
    t.build_blooms(columns=["v"])
    v9 = (9 * 37) % 1000
    assert {r["user_id"] for r in
            t.read(where_in={"v": [v9]}).collect()} == {9}


from hypothesis import HealthCheck, given, settings, strategies as st


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**16),
    n_commits=st.integers(1, 4),
    mode=st.sampled_from(["cow", "mor"]),
    compact_first=st.booleans(),
    n_probe=st.integers(1, 5),
)
def test_where_in_equals_plain_filter_property(
    spark, tmp_path_factory, seed, n_commits, mode, compact_first, n_probe
):
    """Property: for ANY commit pattern (1-4 overlapping merges, CoW
    or MoR, optionally compacted), Bloom-pruned read(where_in=...)
    equals the unpruned IN filter — pruning is a planning
    optimization, never the semantics. Probes mix present and absent
    values; keys overlap across commits so MoR buckets are
    multi-commit (the all-or-nothing rule's domain) and stale
    versions' values are probed against newer images."""
    import random

    rng = random.Random(seed)
    tmp_path = tmp_path_factory.mktemp("whprop")
    t = _mk(spark, tmp_path, mode, name=f"p{seed}", num_buckets=2)
    domain = list(range(40))
    all_vals = set()
    for b in range(n_commits):
        users = rng.sample(domain, 25)
        rows = [
            dict(user_id=u, v=rng.randrange(100), op="U",
                 lsn=b * 1000 + i + 1)
            for i, u in enumerate(users)
        ]
        all_vals.update(r["v"] for r in rows)
        merge_into(t, _src(spark, rows), batch_key=f"b{b}")
    if compact_first:
        t.compact(max_files_per_bucket=0, split_per_bucket=2)
    t.build_blooms(columns=["v"])
    probe = rng.sample(sorted(all_vals), min(n_probe, len(all_vals)))
    probe.append(10_000 + rng.randrange(100))  # always-absent value
    expect = sorted(
        (r["user_id"], r["v"])
        for r in t.read().filter(F.col("v").isin(probe)).collect()
    )
    got = sorted(
        (r["user_id"], r["v"])
        for r in t.read(where_in={"v": probe}).collect()
    )
    assert got == expect


def test_where_in_time_travel_before_annotation(spark, tmp_path):
    """Composition: probing an OLD snapshot that predates the Bloom
    build reads manifests without annotations — no pruning, exact
    results — and a datetime version resolves through the same path."""
    import datetime as dt

    t = _mk(spark, tmp_path, "mor", name="tt", num_buckets=2)
    merge_into(t, _src(spark, _vrows(0, 60, 0)), batch_key="b0")
    v1 = t.current_version()
    t_mid = dt.datetime.now(dt.timezone.utc)
    merge_into(t, _src(spark, _vrows(60, 60, 1)), batch_key="b1")
    t.build_blooms(columns=["v"])
    probe = [(7 * 37) % 1000]  # user 7's v, present since v1
    old = t.read(version=v1, where_in={"v": probe})
    assert {r["user_id"] for r in old.collect()} == {7}
    via_ts = t.read(version=t_mid, where_in={"v": probe})
    assert {r["user_id"] for r in via_ts.collect()} == {7}
    # current snapshot prunes via the annotations and stays exact
    cur = t.read(where_in={"v": probe})
    assert {r["user_id"] for r in cur.collect()} == {7}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_write_time_bloom_policy(spark, tmp_path, mode):
    """set_bloom_on_write: every merge's staged files publish with
    their sidecars in the same commit — the post-merge lookup prunes
    without any build_blooms pass, and results stay exact."""
    t = _mk(spark, tmp_path, mode, name="wt")
    t.set_bloom_on_write()
    for b in range(3):
        merge_into(t, _src(spark, _rows(b * 50, 50, b)), batch_key=f"b{b}")
    m = t.manifest()
    kf = _key_fid(m)
    assert all(f.col_blooms.get(kf) is not None for f in m.files), [
        f.path for f in m.files if f.col_blooms.get(kf) is None
    ]
    got = {r["user_id"]: r["v"] for r in t.lookup([5, 75, 125]).collect()}
    assert set(got) == {5, 75, 125}
    # absent key: every file proven key-free
    assert t.lookup([10_000_000]).count() == 0
    assert len(t.lookup([10_000_000]).inputFiles()) == 0


def test_write_time_bloom_generic_column_and_disable(spark, tmp_path):
    t = _mk(spark, tmp_path, "mor", name="wtg")
    t.set_bloom_on_write(columns=["user_id", "v"])
    merge_into(t, _src(spark, _rows(0, 40, 1)), batch_key="b0")
    m = t.manifest()
    vid = {f.name: f.id for f in m.schema.fields}["v"]
    kf = _key_fid(m)
    assert all(
        f.col_blooms.get(kf) is not None and vid in f.col_blooms
        for f in m.files
    )
    # where_in on the non-key column uses the write-time filter
    assert t.read(where_in={"v": [15 * 10 + 1]}).count() == 1
    assert len(t.read(where_in={"v": [999_983]}).inputFiles()) == 0
    # disabling stops annotation for later commits
    t.set_bloom_on_write(enabled=False)
    merge_into(t, _src(spark, _rows(100, 10, 2)), batch_key="b1")
    m2 = t.manifest()
    newly = [f for f in m2.files if f.path not in {f.path for f in m.files}]
    assert newly and all(f.col_blooms.get(kf) is None for f in newly)


def test_write_time_bloom_policy_survives_rename(spark, tmp_path):
    """The policy stores field ids: renaming the bucket key keeps
    write-time filters attached and probes still hash the values."""
    t = _mk(spark, tmp_path, "mor", name="wtr")
    t.set_bloom_on_write()
    merge_into(t, _src(spark, _rows(0, 30, 1)), batch_key="b0")
    t.rename_column("user_id", "uid")
    merge_into(
        t,
        spark.createDataFrame(pd.DataFrame([
            dict(uid=u, v=u * 10 + 2, op="U", lsn=200_000 + u)
            for u in range(30, 60)
        ])),
        batch_key="b1",
    )
    m = t.manifest()
    assert all(f.col_blooms.get(_key_fid(m)) is not None for f in m.files)
    assert t.lookup([7, 45]).count() == 2
    assert len(t.lookup([10_000_000]).inputFiles()) == 0
