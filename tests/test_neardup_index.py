"""Incremental NEAR-dup index maintenance: the band-key index
refreshed from the change feed must always drive the exact same pair
set as a from-scratch `minhash_lsh_pairs` recompute (frequency cap
disabled — signature purity, see lake/neardup_index.py) — across
inserts, band-moving updates, deletes, and a
crash-replayed refresh. Also the batch probe path and its
probe-time mega-bucket guard."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.lake.merge import merge_into
from etl_spark.lake.neardup_index import (
    create_neardup_index,
    neardup_batch,
    neardup_pairs,
    refresh_neardup_index,
)
from etl_spark.lake.table import LakeTable
from etl_spark.operators.dedup import minhash_lsh_pairs, release_caches
from etl_spark.util import read_cursor, write_cursor

FIELDS = [("doc_id", "long"), ("text", "string")]
NO_CAP = 10**9  # disable the corpus-frequency cap in the recompute twin

BASE = "the quick brown fox jumps over the lazy dog near the river"
NEAR = "the quick brown fox jumps over the lazy dog near the bank"
OTHER = "completely different content about ships and harbors at night"


def _mk_docs(spark, tmp_path, mode="cow"):
    return LakeTable.create(
        spark, str(tmp_path / f"docs_{mode}"), FIELDS, ["doc_id"],
        "doc_id", num_buckets=4, write_mode=mode,
    )


def _src(spark, rows):
    df = spark.createDataFrame(pd.DataFrame(rows))
    return df.withColumn("doc_id", F.col("doc_id").cast("long"))


def _recompute(docs_df):
    return minhash_lsh_pairs(
        docs_df, "doc_id", "text",
        n=3, num_hashes=8, bands=4, threshold=0.8,
        max_shingle_freq=NO_CAP, cache_shingles=False,
    )


def _sorted(df):
    return (
        df.toPandas()
        .astype({"id_a": "int64", "id_b": "int64", "shared": "int64"})
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)[["id_a", "id_b", "shared", "n_a", "n_b"]]
    )


def _assert_index_equals_recompute(docs, index):
    got = _sorted(neardup_pairs(docs, index))
    want = _sorted(_recompute(docs.read()))
    release_caches()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_index_tracks_base_through_change_kinds(spark, tmp_path, mode):
    docs = _mk_docs(spark, tmp_path, mode)
    index = create_neardup_index(spark, str(tmp_path / "idx"), num_buckets=4)

    # c1: 1/2 exact dups (every band collides), 3 a near-dup of them
    # (J = 9/11 ~ 0.818), 4 unrelated
    merge_into(docs, _src(spark, [
        dict(doc_id=1, text=BASE, lsn=1, op="U"),
        dict(doc_id=2, text=BASE, lsn=2, op="U"),
        dict(doc_id=3, text=NEAR, lsn=3, op="U"),
        dict(doc_id=4, text=OTHER, lsn=4, op="U"),
    ]), batch_key="c1")
    s0 = refresh_neardup_index(docs, index)
    assert s0["mode"] == "full"
    _assert_index_equals_recompute(docs, index)
    # the guaranteed (exact-dup) pair is present — the equality above
    # is not vacuous
    pairs = {(r["id_a"], r["id_b"]) for r in neardup_pairs(docs, index).collect()}
    release_caches()
    assert (1, 2) in pairs

    # c2: band-moving update (2 leaves the dup group), delete of 3,
    # fresh insert duplicating 4
    merge_into(docs, _src(spark, [
        dict(doc_id=2, text=OTHER, lsn=10, op="U"),
        dict(doc_id=3, text=None, lsn=11, op="D"),
        dict(doc_id=5, text=OTHER, lsn=12, op="U"),
    ]), batch_key="c2")
    s1 = refresh_neardup_index(docs, index)
    assert s1["mode"] == "incremental"
    assert s1["from_version"] == s0["to_version"]
    _assert_index_equals_recompute(docs, index)
    pairs = {(r["id_a"], r["id_b"]) for r in neardup_pairs(docs, index).collect()}
    release_caches()
    assert (1, 2) not in pairs and (2, 4) in pairs and (4, 5) in pairs
    assert not any(3 in p for p in pairs)

    # index state purity: the incrementally-maintained rows equal a
    # from-scratch rebuild's rows exactly
    rebuilt = create_neardup_index(spark, str(tmp_path / "idx2"), num_buckets=4)
    refresh_neardup_index(docs, rebuilt)
    got = index.read().toPandas().sort_values(
        ["bkey", "band", "doc_id"]).reset_index(drop=True)
    want = rebuilt.read().toPandas().sort_values(
        ["bkey", "band", "doc_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # no new commits -> noop
    assert refresh_neardup_index(docs, index)["mode"] == "noop"


def test_crash_replayed_refresh_is_idempotent(spark, tmp_path):
    """Index MERGE committed, cursor NOT advanced: the rerun must
    no-op through the batch ledger instead of double-applying."""
    docs = _mk_docs(spark, tmp_path, "cow")
    index = create_neardup_index(spark, str(tmp_path / "idx"), num_buckets=4)
    merge_into(docs, _src(spark, [
        dict(doc_id=1, text=BASE, lsn=1, op="U"),
    ]), batch_key="c1")
    refresh_neardup_index(docs, index)
    merge_into(docs, _src(spark, [
        dict(doc_id=2, text=BASE, lsn=10, op="U"),
        dict(doc_id=1, text=None, lsn=11, op="D"),
    ]), batch_key="c2")
    s1 = refresh_neardup_index(docs, index)
    write_cursor(
        os.path.join(index.root, "_neardup_cursor.json"),
        "refreshed_version", s1["from_version"],
    )
    v_before = index.current_version()
    s2 = refresh_neardup_index(docs, index)
    assert s2["mode"] == "incremental"
    assert index.current_version() == v_before  # ledger no-op
    _assert_index_equals_recompute(docs, index)
    assert read_cursor(
        os.path.join(index.root, "_neardup_cursor.json"), "refreshed_version"
    ) == s1["to_version"]


def test_batch_probe_matches_full_recompute(spark, tmp_path):
    docs = _mk_docs(spark, tmp_path, "cow")
    index = create_neardup_index(spark, str(tmp_path / "idx"), num_buckets=4)
    merge_into(docs, _src(spark, [
        dict(doc_id=1, text=BASE, lsn=1, op="U"),
        dict(doc_id=2, text=OTHER, lsn=2, op="U"),
        dict(doc_id=3, text="unrelated corpus filler words entirely", lsn=3, op="U"),
    ]), batch_key="c1")
    refresh_neardup_index(docs, index)

    batch = _src(spark, [
        dict(doc_id=10, text=BASE),   # exact dup of corpus 1
        dict(doc_id=11, text=NEAR),   # near-dup of corpus 1 / batch 10
        dict(doc_id=12, text="fresh clean document nothing like others"),
        dict(doc_id=13, text=OTHER),  # exact dup of corpus 2
        dict(doc_id=14, text=OTHER),  # intra-batch dup with 13
    ])
    got = _sorted(neardup_batch(docs, index, batch))
    release_caches()

    batch_ids = {10, 11, 12, 13, 14}
    full = _recompute(docs.read().select("doc_id", "text").unionByName(batch))
    want = _sorted(
        full.filter(
            F.col("id_a").isin(list(batch_ids))
            | F.col("id_b").isin(list(batch_ids))
        )
    )
    release_caches()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # non-vacuous: cross exact-dup pairs and the intra-batch pair exist
    pairs = set(zip(got["id_a"], got["id_b"]))
    assert (1, 10) in pairs and (2, 13) in pairs and (13, 14) in pairs


def test_batch_probe_empty_and_bucket_cap(spark, tmp_path):
    docs = _mk_docs(spark, tmp_path, "cow")
    index = create_neardup_index(spark, str(tmp_path / "idx"), num_buckets=4)
    merge_into(docs, _src(spark, [
        dict(doc_id=1, text=BASE, lsn=1, op="U"),
    ]), batch_key="c1")
    refresh_neardup_index(docs, index)

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert neardup_batch(docs, index, empty).count() == 0
    release_caches()

    # max_bucket_size=0 skips every corpus bucket: cross candidates
    # vanish, intra-batch pairs still verify
    batch = _src(spark, [
        dict(doc_id=10, text=BASE),
        dict(doc_id=11, text=BASE),
    ])
    pairs = {
        (r["id_a"], r["id_b"])
        for r in neardup_batch(
            docs, index, batch, max_bucket_size=0
        ).collect()
    }
    release_caches()
    assert pairs == {(10, 11)}


def test_param_mismatch_raises_not_misses(spark, tmp_path):
    """Signature params are stamped at create and enforced at
    refresh/probe time — a mismatch must raise, never silently return
    an empty pair set from a foreign hash space."""
    docs = _mk_docs(spark, tmp_path, "cow")
    index = create_neardup_index(
        spark, str(tmp_path / "idx"), num_buckets=4,
        n=3, num_hashes=8, bands=4,
    )
    merge_into(docs, _src(spark, [
        dict(doc_id=1, text=BASE, lsn=1, op="U"),
    ]), batch_key="c1")
    refresh_neardup_index(docs, index)  # matching params: fine

    batch = _src(spark, [dict(doc_id=10, text=NEAR)])
    with pytest.raises(ValueError, match="hash space"):
        neardup_batch(docs, index, batch, num_hashes=16, bands=8)
    with pytest.raises(ValueError, match="hash space"):
        refresh_neardup_index(docs, index, n=5)
    with pytest.raises(ValueError, match="hash space"):
        neardup_pairs(docs, index, bands=2)


def test_pairs_pin_refreshed_snapshot(spark, tmp_path):
    """Docs advance AFTER the last refresh: both the pairs view and
    the batch probe must verify candidate texts at the refreshed
    version, not mix stored band keys with texts that changed since
    (a doc found under its stale bands but Jaccard-verified with its
    new text corresponds to no single corpus version)."""
    docs = _mk_docs(spark, tmp_path, "cow")
    index = create_neardup_index(spark, str(tmp_path / "idx"), num_buckets=4)
    merge_into(docs, _src(spark, [
        dict(doc_id=1, text=BASE, lsn=1, op="U"),
        dict(doc_id=2, text=NEAR, lsn=2, op="U"),
        dict(doc_id=3, text=OTHER, lsn=3, op="U"),
    ]), batch_key="c1")
    refresh_neardup_index(docs, index)
    pinned_df = docs.read(version=docs.current_version())
    # un-refreshed churn: doc 2's text moves away from BASE entirely
    merge_into(docs, _src(spark, [
        dict(doc_id=2, text=OTHER + " again", lsn=10, op="U"),
    ]), batch_key="c2")
    got = _sorted(neardup_pairs(docs, index))
    want = _sorted(_recompute(pinned_df))
    release_caches()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert (got[["id_a", "id_b"]].values == [[1, 2]]).all()  # non-vacuous
    # the batch probe verifies corpus candidates at the pin too: a
    # batch doc near doc 2's OLD text must still pair with it
    probe = neardup_batch(docs, index, _src(spark, [
        dict(doc_id=50, text=NEAR, lsn=0, op="U"),
    ]))
    pairs = {(r["id_a"], r["id_b"]) for r in probe.collect()}
    release_caches()
    assert (2, 50) in pairs
    # after a refresh the surfaces answer against the new version
    refresh_neardup_index(docs, index)
    _assert_index_equals_recompute(docs, index)
