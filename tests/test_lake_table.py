"""LakeTable unit tests: snapshots, bucket pruning, schema evolution."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.lake.table import BUCKET_COL, SYS_DELETED, SYS_LSN, LakeTable


FIELDS = [("conv_id", "string"), ("turn_idx", "int"), ("text", "string"), ("ts", "long")]


def make_table(spark, tmp_path, n_buckets=8) -> LakeTable:
    return LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        fields=FIELDS,
        key=["conv_id", "turn_idx"],
        bucket_by="conv_id",
        num_buckets=n_buckets,
    )


def seed(spark, table, n=20):
    pdf = pd.DataFrame(
        dict(
            conv_id=[f"c{i % 5}" for i in range(n)],
            turn_idx=list(range(n)),
            text=[f"t{i}" for i in range(n)],
            ts=list(range(n)),
        )
    )
    df = spark.createDataFrame(pdf).withColumn("turn_idx", F.col("turn_idx").cast("int"))
    table.append_full(df, batch_key="seed")


def test_create_read_roundtrip(spark, tmp_path):
    t = make_table(spark, tmp_path)
    seed(spark, t)
    got = t.read().orderBy("turn_idx").toPandas()
    assert len(got) == 20
    assert list(got.columns) == ["conv_id", "turn_idx", "text", "ts"]
    assert got["text"].tolist() == [f"t{i}" for i in range(20)]


def test_commit_is_versioned_and_idempotent(spark, tmp_path):
    t = make_table(spark, tmp_path)
    seed(spark, t)
    v1 = t.current_version()
    # same batch key again -> no-op commit
    m = t.manifest()
    df = t.read_raw().withColumn(BUCKET_COL, m.bucket_expr())
    v2 = t.overwrite_buckets(m, df, list(range(8)), batch_key="seed")
    assert v2 == v1
    assert "seed" in t.manifest().committed_batches


def test_bucket_pruned_read(spark, tmp_path):
    t = make_table(spark, tmp_path)
    seed(spark, t)
    m = t.manifest()
    all_rows = t.read().count()
    # reading a strict subset of buckets reads a strict subset of files
    some = t.read(buckets=[m.files[0].bucket]).count()
    assert 0 < some < all_rows


def test_schema_evolution_metadata_only(spark, tmp_path):
    t = make_table(spark, tmp_path)
    seed(spark, t)
    files_before = {f.path for f in t.manifest().files}
    t.add_column("lang", "string")
    t.rename_column("text", "body")
    t.widen_type("ts", "timestamp")
    m = t.manifest()
    assert {f.path for f in m.files} == files_before  # no data rewrite
    got = t.read().orderBy("turn_idx").toPandas()
    assert list(got.columns) == ["conv_id", "turn_idx", "body", "ts", "lang"]
    assert got["lang"].isna().all()
    assert got["body"].tolist() == [f"t{i}" for i in range(20)]
    # long epoch-sec cast to timestamp on read
    assert pd.Timestamp(got["ts"].iloc[5]) == pd.Timestamp(5, unit="s")


def test_widen_rejects_narrowing(spark, tmp_path):
    t = make_table(spark, tmp_path)
    with pytest.raises(ValueError):
        t.widen_type("ts", "int")


def test_tombstones_hidden_from_read(spark, tmp_path):
    t = make_table(spark, tmp_path)
    seed(spark, t)
    m = t.manifest()
    raw = t.read_raw().withColumn(
        SYS_DELETED, F.col("turn_idx") < 5
    ).withColumn(SYS_LSN, F.lit(1).cast("long")).withColumn(BUCKET_COL, m.bucket_expr())
    t.overwrite_buckets(m, raw, list(range(8)), batch_key="del")
    assert t.read().count() == 15
    assert t.read_raw().count() == 20


def test_compact_bounds_files(spark, tmp_path):
    t = make_table(spark, tmp_path)
    seed(spark, t)
    m = t.manifest()
    seed2 = t.read_raw().withColumn(BUCKET_COL, m.bucket_expr())
    # append same buckets again as extra files via a manual two-commit
    t.overwrite_buckets(
        m, seed2.unionByName(seed2), list({f.bucket for f in m.files}),
        batch_key="dupe",
    )
    v = t.compact(max_files_per_bucket=1)
    per_bucket: dict[int, int] = {}
    for f in t.manifest(v).files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert all(n == 1 for n in per_bucket.values())


def test_expire_snapshots_and_vacuum(spark, tmp_path):
    """Retention drops old manifests and unreferenced files (incl.
    crash orphans), never touches kept versions or possible in-flight
    staging, and leaves the current state bit-identical."""
    import os

    from etl_spark.lake.merge import merge_into

    t = make_table(spark, tmp_path)
    seed(spark, t)  # v1
    for i, lsn in enumerate([100, 200, 300]):  # v2..v4: CoW rewrites
        src = spark.createDataFrame(
            pd.DataFrame(dict(conv_id=["c0"], turn_idx=[0],
                              text=[f"v{i}"], ts=[lsn], lsn=[lsn], op=["U"]))
        ).withColumn("turn_idx", F.col("turn_idx").cast("int"))
        merge_into(t, src, batch_key=f"b{i}")
    cur = t.current_version()
    before = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()
    }
    # crash orphans: a stale staging dir (<= cur, no manifest refs it)
    # must be vacuumed; a FUTURE-version dir (possible in-flight
    # commit) must survive
    data = os.path.join(t.root, "data")
    stale = os.path.join(data, f"c{cur:010d}-deadbeef")
    future = os.path.join(data, f"c{cur + 1:010d}-cafebabe")
    for d in (stale, future):
        os.makedirs(d)
        with open(os.path.join(d, "part-junk.parquet"), "w") as fh:
            fh.write("junk")

    stats = t.expire_snapshots(keep_last=2)
    assert stats["manifests_removed"] > 0 and stats["files_removed"] > 0
    # kept versions still read, expired ones do not
    after = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()
    }
    assert after == before
    assert t.read(version=cur - 1).count() > 0
    with pytest.raises(FileNotFoundError):
        t.manifest(cur - 2)
    assert not os.path.exists(stale)
    assert os.path.exists(os.path.join(future, "part-junk.parquet"))
    # every file referenced by kept manifests still exists
    for v in (cur - 1, cur):
        for f in t.manifest(v).files:
            assert os.path.exists(os.path.join(t.root, f.path)), f.path
    # idempotent re-run removes nothing further
    stats2 = t.expire_snapshots(keep_last=2)
    assert stats2["manifests_removed"] == 0 and stats2["files_removed"] == 0


def test_lookup_prunes_buckets(spark, tmp_path):
    """Key lookup returns exactly the filtered rows while scanning
    only the buckets those keys hash into."""
    t = make_table(spark, tmp_path)
    seed(spark, t)  # 5 conv_ids over 8 buckets

    full = t.read()
    want = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in full.filter(F.col("conv_id").isin(["c0", "c3"])).collect()
    )
    got_df = t.lookup(["c0", "c3"])
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["text"]) for r in got_df.collect()
    )
    assert got == want and len(got) > 0
    # pruning is real: the lookup plan reads strictly fewer files
    assert 0 < len(got_df.inputFiles()) < len(full.inputFiles())
    # empty value set short-circuits to an empty frame
    assert t.lookup([]).count() == 0


def test_two_level_manifest_carries_pointers(spark, tmp_path):
    """Two-level file index: a commit touching one bucket writes that
    bucket's group anew and carries every other bucket's group by
    POINTER — identical strings across snapshots, so per-commit
    metadata is O(touched buckets), and group files are immutable."""
    import json as _json
    import os as _os

    from etl_spark.lake.merge import merge_into

    t = make_table(spark, tmp_path)
    seed(spark, t)
    m0 = t.manifest()
    # snapshot JSON has pointers, no inline file list
    with open(t._manifest_path(m0.version)) as fh:
        d = _json.load(fh)
    assert d["format_version"] == 2 and "files" not in d
    assert set(map(int, d["bucket_ptrs"])) == m0.buckets()

    # merge one conversation -> exactly its bucket's pointer changes
    src = spark.createDataFrame(
        [("c1", 1, "upd", 7, "U", 100)],
        "conv_id string, turn_idx int, text string, ts long, op string, lsn long",
    ).withColumn("turn_idx", F.col("turn_idx").cast("int"))
    merge_into(t, src, batch_key="b1")
    m1 = t.manifest()
    changed = {
        b for b in m0.buckets() | m1.buckets()
        if m0.bucket_ptrs.get(b) != m1.bucket_ptrs.get(b)
    }
    (b1,) = changed  # exactly one bucket touched
    untouched = m0.buckets() - {b1}
    assert all(m1.bucket_ptrs[b] == m0.bucket_ptrs[b] for b in untouched)
    # pruned load reads only the requested group; full list still works
    assert {f.bucket for f in m1.files_for([b1])} == {b1}
    assert len(m1.files) == len(m1.files_for(m1.buckets()))
    # group files are immutable on disk and GC'd only by expiry
    for name in m0.bucket_ptrs.values():
        assert _os.path.exists(_os.path.join(t._manifests_dir, name))
    t.expire_snapshots(keep_last=1)
    live = set(m1.bucket_ptrs.values())
    on_disk = set(_os.listdir(t._manifests_dir))
    assert live <= on_disk
    assert m0.bucket_ptrs[b1] not in on_disk  # superseded group expired


def test_flat_format_snapshot_is_refused(spark, tmp_path):
    """Only the two-level format is readable: a snapshot without
    `bucket_ptrs` (the flat format-1 file list) fails loudly, naming
    the format, instead of loading as an empty or partial table."""
    import json as _json

    t = make_table(spark, tmp_path)
    seed(spark, t)
    with open(t._manifest_path(t.current_version())) as fh:
        d = _json.load(fh)
    d.pop("bucket_ptrs")
    d.update(format_version=1, version=d["version"] + 1, files=[])
    with open(t._manifest_path(d["version"]), "w") as fh:
        _json.dump(d, fh)
    with pytest.raises(ValueError, match="format"):
        t.manifest()


def test_add_column_initial_default(spark, tmp_path):
    """Iceberg v3 initial-default analog: rows written BEFORE the add
    read back as the declared default (file-level field-ID alignment);
    rows written after store their own values including explicit
    NULLs; rewrites materialize the default; rename/widen preserve it;
    the change feed backfills pre-add commits the same way."""
    from etl_spark.lake.changes import read_changes
    from etl_spark.lake.merge import merge_into

    t = make_table(spark, tmp_path)
    seed(spark, t)  # 20 rows written pre-add
    v_pre = t.current_version()
    t.add_column("quality", "string", default="unreviewed")
    src = spark.createDataFrame(pd.DataFrame(dict(
        conv_id=["c0", "c1"], turn_idx=[100, 101], text=["a", "b"],
        ts=[500, 501], quality=["good", None], lsn=[500, 501],
        op=["U", "U"],
    ))).withColumn("turn_idx", F.col("turn_idx").cast("int"))
    merge_into(t, src, batch_key="post-add")
    got = {(r["conv_id"], r["turn_idx"]): r["quality"]
           for r in t.read().collect()}
    assert got[("c0", 100)] == "good"
    assert got[("c1", 101)] is None  # explicit NULL stays NULL
    pre_add = {k: v for k, v in got.items() if k[1] < 100}
    assert len(pre_add) == 20 and set(pre_add.values()) == {"unreviewed"}
    # a feed window ending AFTER the add aligns pre-add commits'
    # rows with the default (window-end schema)
    ch = read_changes(t, 0, t.current_version())
    by_turn = {r["turn_idx"]: r["quality"] for r in ch.collect()}
    assert by_turn[0] == "unreviewed" and by_turn[100] == "good"
    # time travel to a pre-add snapshot: the column does not exist
    assert "quality" not in t.read(version=v_pre).columns
    # uncastable defaults fail at declaration too
    import pytest as _pt
    with _pt.raises(ValueError, match="does not cast"):
        t.add_column("n_bad", "long", default="oops")
    # evolution keeps the default attached to the field
    t.rename_column("quality", "review_state")
    got2 = {(r["conv_id"], r["turn_idx"]): r["review_state"]
            for r in t.read().collect()}
    assert got2[("c0", 0)] == "unreviewed" and got2[("c0", 100)] == "good"
    # compaction materializes it physically; reads are unchanged
    t.compact(max_files_per_bucket=0)
    got3 = {(r["conv_id"], r["turn_idx"]): r["review_state"]
            for r in t.read().collect()}
    assert got3 == got2
    # non-encodable defaults fail at declaration
    import pytest as _pytest
    with _pytest.raises(TypeError):
        t.add_column("bad", "string", default=object())


def test_as_of_timestamp_time_travel(spark, tmp_path):
    """Iceberg as-of-timestamp analog: every commit stamps its wall
    time; read(version=<datetime>) resolves to the greatest snapshot
    committed at or before it. Each manifest carries its stamp."""
    import datetime as dt
    import time

    from etl_spark.lake.merge import merge_into

    t = make_table(spark, tmp_path)
    seed(spark, t)  # v1
    t_between = dt.datetime.now(dt.timezone.utc)
    time.sleep(0.01)
    src = spark.createDataFrame(pd.DataFrame(dict(
        conv_id=["c0"], turn_idx=[999], text=["late"], ts=[900],
        lsn=[900], op=["U"],
    ))).withColumn("turn_idx", F.col("turn_idx").cast("int"))
    merge_into(t, src, batch_key="late")  # v2
    assert t.version_at(t_between) == 1
    old = t.read(version=t_between)
    assert old.filter(F.col("turn_idx") == 999).count() == 0
    assert old.count() == t.read(version=1).count()
    now = t.read(version=dt.datetime.now(dt.timezone.utc))
    assert now.filter(F.col("turn_idx") == 999).count() == 1
    stamps = [t.manifest(v).props.get("committed_at_us") for v in range(3)]
    assert all(s and s > 0 for s in stamps) and stamps == sorted(stamps)
    # a timestamp before the table existed fails loud
    import pytest as _pt
    with _pt.raises(ValueError, match="no retained snapshot"):
        t.version_at(dt.datetime(2000, 1, 1, tzinfo=dt.timezone.utc))


def test_expire_snapshots_older_than(spark, tmp_path):
    """Age-based retention (Iceberg older_than + retain_last shape):
    older_than restricts removal to snapshots whose commit stamp
    predates it, keep_last stays the floor, and age-kept versions
    below the count cutoff keep their files through the vacuum."""
    import datetime as dt

    from etl_spark.lake.merge import merge_into

    t = make_table(spark, tmp_path)
    seed(spark, t)  # v1
    for i in range(3):  # v2..v4
        src = spark.createDataFrame(pd.DataFrame(dict(
            conv_id=["c0"], turn_idx=[0], text=[f"u{i}"],
            ts=[100 + i], lsn=[100 + i], op=["U"],
        ))).withColumn("turn_idx", F.col("turn_idx").cast("int"))
        merge_into(t, src, batch_key=f"u{i}")
    cur = t.current_version()
    # everything is younger than a cutoff in the past: nothing expires
    past = dt.datetime.now(dt.timezone.utc) - dt.timedelta(hours=1)
    s1 = t.expire_snapshots(keep_last=1, older_than=past)
    assert s1["manifests_removed"] == 0
    # age-kept old versions still read, files intact
    assert t.read(version=1).count() > 0
    for f in t.manifest(1).files:
        import os as _os
        assert _os.path.exists(_os.path.join(t.root, f.path))
    # a future cutoff expires everything below the keep_last floor
    future = dt.datetime.now(dt.timezone.utc) + dt.timedelta(hours=1)
    s2 = t.expire_snapshots(keep_last=2, older_than=future)
    assert s2["manifests_removed"] > 0
    assert t.read(version=cur - 1).count() > 0
    with pytest.raises(FileNotFoundError):
        t.manifest(1)


def test_pre_stamp_manifests_never_age_expired(spark, tmp_path):
    """Upgrade safety: a manifest written before commit stamps existed
    has UNKNOWN age — older_than must never treat it as infinitely old
    (epoch 0) and delete an upgraded table's history, and version_at
    skips it rather than resolving ancient timestamps to it."""
    import datetime as dt
    import json as _json
    import os as _os

    from etl_spark.lake.merge import merge_into

    t = make_table(spark, tmp_path)
    seed(spark, t)  # v1
    src = spark.createDataFrame(pd.DataFrame(dict(
        conv_id=["c0"], turn_idx=[0], text=["x"], ts=[100],
        lsn=[100], op=["U"],
    ))).withColumn("turn_idx", F.col("turn_idx").cast("int"))
    merge_into(t, src, batch_key="b")  # v2
    # simulate a pre-upgrade manifest: strip v1's stamp
    p1 = t._manifest_path(1)
    m1 = _json.load(open(p1))
    m1["props"].pop("committed_at_us")
    _os.remove(p1)
    with open(p1, "w") as fh:
        _json.dump(m1, fh)
    s = t.expire_snapshots(
        keep_last=1, older_than=dt.datetime.now(dt.timezone.utc)
    )
    # the stamped, genuinely-old v0 expires; the UNSTAMPED v1 must not
    assert s.get("kept_by_age", 0) >= 1
    assert t.read(version=1).count() > 0  # history intact, files too
    for f in t.manifest(1).files:
        assert _os.path.exists(_os.path.join(t.root, f.path))
    # ancient timestamps don't resolve to the unstamped snapshot
    with pytest.raises(ValueError, match="no retained snapshot"):
        t.version_at(dt.datetime(2000, 1, 1, tzinfo=dt.timezone.utc))
