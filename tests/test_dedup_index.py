"""Incremental dedup-index maintenance: the index refreshed from the
change feed must always equal `exact_dedup_groups` recomputed on the
full base table — across inserts, updates that move fingerprints,
deletes, a schema-evolution window, and a
crash-replayed refresh. Also the batch probe path."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.lake.dedup_index import (
    create_index,
    dedup_batch,
    groups,
    refresh_index,
)
from etl_spark.lake.merge import merge_into
from etl_spark.lake.table import LakeTable
from etl_spark.operators.dedup import exact_dedup_groups
from etl_spark.util import read_cursor, write_cursor

FIELDS = [("doc_id", "long"), ("text", "string")]


def _mk_docs(spark, tmp_path, mode="cow"):
    return LakeTable.create(
        spark, str(tmp_path / f"docs_{mode}"), FIELDS, ["doc_id"],
        "doc_id", num_buckets=4, write_mode=mode,
    )


def _src(spark, rows):
    df = spark.createDataFrame(pd.DataFrame(rows))
    return df.withColumn("doc_id", F.col("doc_id").cast("long"))


def _assert_index_equals_recompute(docs, index):
    got = (
        groups(index)
        .toPandas()
        .sort_values("fp")
        .reset_index(drop=True)
    )
    want = (
        exact_dedup_groups(docs.read(), "doc_id", "text")
        .toPandas()
        .sort_values("fp")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_index_tracks_base_through_change_kinds(spark, tmp_path, mode):
    docs = _mk_docs(spark, tmp_path, mode)
    index = create_index(spark, str(tmp_path / "idx"), num_buckets=4)

    # c1: inserts with duplicate groups (1,2 dup; 3,4 dup; 5 unique)
    merge_into(docs, _src(spark, [
        dict(doc_id=1, text="alpha beta gamma", lsn=1, op="U"),
        dict(doc_id=2, text="alpha  beta GAMMA ", lsn=2, op="U"),  # normalized dup
        dict(doc_id=3, text="delta epsilon", lsn=3, op="U"),
        dict(doc_id=4, text="delta epsilon", lsn=4, op="U"),
        dict(doc_id=5, text="unique text five", lsn=5, op="U"),
    ]), batch_key="c1")
    s0 = refresh_index(docs, index)
    assert s0["mode"] == "full"
    _assert_index_equals_recompute(docs, index)

    # c2: update that MOVES a fingerprint (2 leaves group of 1, joins
    # group of 5), a delete of a keeper (3 -> keeper moves to 4), and
    # a fresh insert duplicating 1
    merge_into(docs, _src(spark, [
        dict(doc_id=2, text="unique text five", lsn=10, op="U"),
        dict(doc_id=3, text=None, lsn=11, op="D"),
        dict(doc_id=6, text="alpha beta gamma", lsn=12, op="U"),
    ]), batch_key="c2")
    s1 = refresh_index(docs, index)
    assert s1["mode"] == "incremental"
    assert s1["from_version"] == s0["to_version"]
    _assert_index_equals_recompute(docs, index)
    g = {
        r["fp"]: (r["keeper_id"], r["n_dups"])
        for r in groups(index).collect()
    }
    # moved-into group ("unique text five": docs 2, 5) keeps id 2;
    # deleting keeper 3 moved its group's keeper to 4
    assert (2, 2) in g.values()
    assert (4, 1) in g.values()

    # no new commits -> noop
    assert refresh_index(docs, index)["mode"] == "noop"


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_index_across_schema_evolution_and_erase(spark, tmp_path, mode):
    docs = _mk_docs(spark, tmp_path, mode)
    index = create_index(spark, str(tmp_path / "idx"), num_buckets=4)
    merge_into(docs, _src(spark, [
        dict(doc_id=1, text="one two three", lsn=1, op="U"),
        dict(doc_id=2, text="one two three", lsn=2, op="U"),
        dict(doc_id=3, text="other content", lsn=3, op="U"),
    ]), batch_key="c1")
    refresh_index(docs, index)

    # window spanning an add-column evolution commit plus data changes
    docs.add_column("lang", "string", default="en")
    merge_into(docs, _src(spark, [
        dict(doc_id=4, text="one two three", lsn=10, op="U"),
        dict(doc_id=2, text="now different", lsn=11, op="U"),
    ]).withColumn("lang", F.lit("en")), batch_key="c2")
    s = refresh_index(docs, index)
    assert s["mode"] == "incremental"
    _assert_index_equals_recompute(docs, index)

    # a D event emits a feed delete: the deleted doc leaves the index
    merge_into(docs, _src(spark, [
        dict(doc_id=1, text="", lsn=20, op="D"),
    ]).withColumn("lang", F.lit("en")), batch_key="c3")
    s = refresh_index(docs, index)
    assert s["mode"] == "incremental"
    _assert_index_equals_recompute(docs, index)
    assert 1 not in {
        r["doc_id"] for r in index.read().select("doc_id").collect()
    }


def test_index_crash_replayed_refresh_is_idempotent(spark, tmp_path):
    """Reconstruct the crash window — index MERGE committed, cursor
    NOT advanced — and verify the rerun no-ops through the batch
    ledger instead of double-applying."""
    docs = _mk_docs(spark, tmp_path, "cow")
    index = create_index(spark, str(tmp_path / "idx"), num_buckets=4)
    merge_into(docs, _src(spark, [
        dict(doc_id=1, text="xxx", lsn=1, op="U"),
    ]), batch_key="c1")
    s0 = refresh_index(docs, index)
    merge_into(docs, _src(spark, [
        dict(doc_id=2, text="xxx", lsn=10, op="U"),
        dict(doc_id=1, text=None, lsn=11, op="D"),
    ]), batch_key="c2")
    s1 = refresh_index(docs, index)
    # rewind the cursor to simulate the crash between merge and cursor
    import os

    write_cursor(
        os.path.join(index.root, "_dedup_cursor.json"),
        "refreshed_version", s1["from_version"],
    )
    v_before = index.current_version()
    s2 = refresh_index(docs, index)
    assert s2["mode"] == "incremental"
    assert index.current_version() == v_before  # ledger no-op
    _assert_index_equals_recompute(docs, index)
    assert read_cursor(
        os.path.join(index.root, "_dedup_cursor.json"), "refreshed_version"
    ) == s1["to_version"]


def test_dedup_batch_probe(spark, tmp_path):
    docs = _mk_docs(spark, tmp_path, "cow")
    index = create_index(spark, str(tmp_path / "idx"), num_buckets=4)
    merge_into(docs, _src(spark, [
        dict(doc_id=1, text="corpus text a", lsn=1, op="U"),
        dict(doc_id=2, text="corpus text a", lsn=2, op="U"),
        dict(doc_id=3, text="corpus text b", lsn=3, op="U"),
    ]), batch_key="c1")
    refresh_index(docs, index)

    batch = _src(spark, [
        dict(doc_id=10, text="corpus text a"),   # corpus dup
        dict(doc_id=11, text="brand new text"),  # clean
        dict(doc_id=12, text="same in batch"),   # intra-batch dup pair
        dict(doc_id=13, text="same in batch"),
    ])
    out = {r["doc_id"]: r for r in dedup_batch(index, batch).collect()}
    assert out[10]["is_dup"] and out[10]["keeper_id"] == 1
    assert out[10]["n_corpus"] == 2
    assert not out[11]["is_dup"] and out[11]["keeper_id"] == 11
    assert out[11]["n_corpus"] == 0
    # intra-batch pair: min id keeps, the other is a dup
    assert not out[12]["is_dup"] and out[12]["keeper_id"] == 12
    assert out[13]["is_dup"] and out[13]["keeper_id"] == 12
