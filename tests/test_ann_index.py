"""Incremental IVF ANN index maintenance: the posting-list index
refreshed from the change feed must always drive the exact same top-k
as a from-scratch `ivf_topk` recompute (n_probe=1) — across inserts,
cell-moving updates, same-cell updates, deletes, and a
crash-replayed refresh — and a full-width probe (n_probe = #cells)
must equal exact brute-force `cosine_topk`. All vector coordinates
are dyadic (exact in float32 AND float64) so the float-stored lake
column and the double-stored centroid props cannot diverge."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.lake.ann_index import (
    ann_batch,
    create_ann_index,
    refresh_ann_index,
)
from etl_spark.lake.merge import merge_into
from etl_spark.lake.table import LakeTable
from etl_spark.operators.dedup import release_caches
from etl_spark.operators.similarity import cosine_topk, ivf_topk
from etl_spark.util import read_cursor, write_cursor

FIELDS = [("vec_id", "long"), ("embedding", "array<float>")]
DIM = 4
CENTS = [
    [1.0, 0.0, 0.0, 0.0],
    [0.0, 1.0, 0.0, 0.0],
    [0.0, 0.0, 1.0, 0.0],
]


def _vec(cell: int, i: int) -> list[float]:
    """A vector near CENTS[cell], offset by i/256 on the last axis —
    dyadic, so exact in float32."""
    v = list(CENTS[cell])
    v[3] = i / 256.0
    return v


def _mk_emb(spark, tmp_path, mode="cow"):
    return LakeTable.create(
        spark, str(tmp_path / f"emb_{mode}"), FIELDS, ["vec_id"],
        "vec_id", num_buckets=4, write_mode=mode,
    )


def _src(spark, rows):
    return spark.createDataFrame(
        [
            (r["vec_id"], r.get("embedding"), r.get("lsn"), r.get("op"))
            for r in rows
        ],
        "vec_id long, embedding array<float>, lsn long, op string",
    )


def _queries(spark, rows):
    return spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in rows],
        "vec_id long, embedding array<float>",
    )


def _cents_df(spark):
    # double-typed: dyadic values are identical in either width
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(CENTS)],
        "vec_id long, embedding array<double>",
    )


def _sorted(df):
    return (
        df.toPandas()
        .astype({"query_id": "int64", "neighbor_id": "int64", "rank": "int64"})
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)[["query_id", "neighbor_id", "rank"]]
    )


def _assert_probe_equals_recompute(spark, emb, index, queries, k=3):
    got = _sorted(ann_batch(emb, index, queries, k=k, n_probe=1))
    release_caches()
    want = _sorted(ivf_topk(emb.read(), queries, _cents_df(spark), k=k, dim=DIM))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    return got


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_index_tracks_base_through_change_kinds(spark, tmp_path, mode):
    emb = _mk_emb(spark, tmp_path, mode)
    index = create_ann_index(spark, str(tmp_path / "idx"), CENTS, num_buckets=4)

    merge_into(emb, _src(spark, [
        dict(vec_id=i, embedding=_vec(i % 3, i), lsn=i + 1, op="U")
        for i in range(1, 10)
    ]), batch_key="c1")
    s0 = refresh_ann_index(emb, index)
    assert s0["mode"] == "full"
    queries = _queries(spark, [
        dict(vec_id=100, embedding=_vec(0, 40)),
        dict(vec_id=101, embedding=_vec(1, 41)),
        dict(vec_id=102, embedding=_vec(2, 42)),
    ])
    got = _assert_probe_equals_recompute(spark, emb, index, queries)
    assert len(got) == 9  # 3 queries x k=3, non-vacuous

    # c2: insert, cell-moving update (4: cell 1 -> 2), same-cell
    # update (6: offset only), delete (7)
    merge_into(emb, _src(spark, [
        dict(vec_id=10, embedding=_vec(0, 10), lsn=20, op="U"),
        dict(vec_id=4, embedding=_vec(2, 4), lsn=21, op="U"),
        dict(vec_id=6, embedding=_vec(0, 60), lsn=22, op="U"),
        dict(vec_id=7, embedding=None, lsn=23, op="D"),
    ]), batch_key="c2")
    s1 = refresh_ann_index(emb, index)
    assert s1["mode"] == "incremental"
    assert s1["from_version"] == s0["to_version"]
    _assert_probe_equals_recompute(spark, emb, index, queries)
    cells = dict(
        (r["vec_id"], r["cell"]) for r in index.read().collect()
    )
    assert cells[4] == 2 and cells[6] == 0 and 7 not in cells

    # index state purity: incremental rows == from-scratch rebuild's
    rebuilt = create_ann_index(spark, str(tmp_path / "idx2"), CENTS, num_buckets=4)
    refresh_ann_index(emb, rebuilt)
    got = index.read().toPandas().sort_values(
        ["cell", "vec_id"]).reset_index(drop=True)
    want = rebuilt.read().toPandas().sort_values(
        ["cell", "vec_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    assert refresh_ann_index(emb, index)["mode"] == "noop"


def test_crash_replayed_refresh_is_idempotent(spark, tmp_path):
    """Index MERGE committed, cursor NOT advanced: the rerun must
    no-op through the batch ledger instead of double-applying."""
    emb = _mk_emb(spark, tmp_path, "cow")
    index = create_ann_index(spark, str(tmp_path / "idx"), CENTS, num_buckets=4)
    merge_into(emb, _src(spark, [
        dict(vec_id=1, embedding=_vec(0, 1), lsn=1, op="U"),
    ]), batch_key="c1")
    refresh_ann_index(emb, index)
    merge_into(emb, _src(spark, [
        dict(vec_id=2, embedding=_vec(1, 2), lsn=10, op="U"),
        dict(vec_id=1, embedding=None, lsn=11, op="D"),
    ]), batch_key="c2")
    s1 = refresh_ann_index(emb, index)
    write_cursor(
        os.path.join(index.root, "_ann_cursor.json"),
        "refreshed_version", s1["from_version"],
    )
    v_before = index.current_version()
    s2 = refresh_ann_index(emb, index)
    assert s2["mode"] == "incremental"
    assert index.current_version() == v_before  # ledger no-op
    assert read_cursor(
        os.path.join(index.root, "_ann_cursor.json"), "refreshed_version"
    ) == s1["to_version"]
    assert {(r["cell"], r["vec_id"]) for r in index.read().collect()} == {(1, 2)}


def test_full_width_probe_equals_brute_force(spark, tmp_path):
    """n_probe = #centroids makes every corpus vector a candidate —
    the probe must then equal exact brute-force cosine_topk."""
    emb = _mk_emb(spark, tmp_path, "cow")
    index = create_ann_index(spark, str(tmp_path / "idx"), CENTS, num_buckets=4)
    merge_into(emb, _src(spark, [
        dict(vec_id=i, embedding=_vec(i % 3, i), lsn=i + 1, op="U")
        for i in range(1, 13)
    ]), batch_key="c1")
    refresh_ann_index(emb, index)
    queries = _queries(spark, [
        dict(vec_id=100, embedding=_vec(1, 50)),
        dict(vec_id=101, embedding=_vec(2, 51)),
    ])
    got = _sorted(ann_batch(emb, index, queries, k=4, n_probe=len(CENTS)))
    release_caches()
    want = _sorted(cosine_topk(emb.read(), queries, k=4, dim=DIM))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="at least one"):
        create_ann_index(spark, str(tmp_path / "i0"), [])
    with pytest.raises(ValueError, match="equal-length"):
        create_ann_index(spark, str(tmp_path / "i1"), [[1.0], [1.0, 2.0]])
    with pytest.raises(ValueError, match="non-finite"):
        create_ann_index(spark, str(tmp_path / "i2"), [[float("nan")]])
    plain = LakeTable.create(
        spark, str(tmp_path / "plain"),
        [("cell", "long"), ("vec_id", "long"), ("member", "boolean")],
        ["cell", "vec_id"], "cell", num_buckets=4,
    )
    emb = _mk_emb(spark, tmp_path, "cow")
    with pytest.raises(ValueError, match="no stored IVF centroids"):
        refresh_ann_index(emb, plain)
    index = create_ann_index(spark, str(tmp_path / "idx"), CENTS, num_buckets=4)
    q = _queries(spark, [dict(vec_id=1, embedding=_vec(0, 1))])
    with pytest.raises(ValueError, match="n_probe"):
        ann_batch(emb, index, q, n_probe=0)
    with pytest.raises(ValueError, match="n_probe"):
        ann_batch(emb, index, q, n_probe=len(CENTS) + 1)


def test_trained_centroids_end_to_end(spark, tmp_path):
    """The production path: kmeans_train -> create_ann_index ->
    change-feed refresh -> ann_batch, equal to an ivf_topk recompute
    with the same trained centroids (the collected k x dim doubles
    feed both sides exactly)."""
    from etl_spark.operators.similarity import kmeans_train

    emb = _mk_emb(spark, tmp_path, "cow")
    merge_into(emb, _src(spark, [
        dict(vec_id=i, embedding=_vec(i % 3, i), lsn=i + 1, op="U")
        for i in range(1, 13)
    ]), batch_key="c1")
    trained = sorted(
        kmeans_train(emb.read(), k=2, n_iters=2, dim=DIM, exact_fold=True)
        .collect(),
        key=lambda r: r["cell"],
    )
    cents = [[float(x) for x in r["centroid"]] for r in trained]
    index = create_ann_index(spark, str(tmp_path / "idx"), cents, num_buckets=4)
    refresh_ann_index(emb, index)
    # a post-training change window keeps the refresh honest
    merge_into(emb, _src(spark, [
        dict(vec_id=13, embedding=_vec(1, 13), lsn=20, op="U"),
        dict(vec_id=2, embedding=None, lsn=21, op="D"),
    ]), batch_key="c2")
    assert refresh_ann_index(emb, index)["mode"] == "incremental"

    queries = _queries(spark, [
        dict(vec_id=100, embedding=_vec(0, 40)),
        dict(vec_id=101, embedding=_vec(2, 41)),
    ])
    got = _sorted(ann_batch(emb, index, queries, k=3, n_probe=1))
    release_caches()
    cents_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "vec_id long, embedding array<double>",
    )
    want = _sorted(ivf_topk(emb.read(), queries, cents_df, k=3, dim=DIM))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_vector_guards_fail_loudly(spark, tmp_path):
    """A dim-mismatched or non-finite vector must FAIL the refresh or
    probe, not silently poison it: element_at past the array end is
    NULL (junk cell), longer vectors silently truncate the dot, and a
    NaN coordinate would rank 1 for every query probing its cell
    (Spark orders NaN above all doubles)."""
    emb = _mk_emb(spark, tmp_path, "cow")
    index = create_ann_index(spark, str(tmp_path / "idx"), CENTS, num_buckets=4)
    merge_into(emb, _src(spark, [
        dict(vec_id=1, embedding=_vec(0, 1), lsn=1, op="U"),
        dict(vec_id=2, embedding=[1.0, 0.5], lsn=2, op="U"),  # dim 2
    ]), batch_key="c1")
    with pytest.raises(Exception, match="finite array of dim 4"):
        refresh_ann_index(emb, index)

    emb2 = _mk_emb(spark, tmp_path, "mor")
    merge_into(emb2, _src(spark, [
        dict(vec_id=1, embedding=_vec(0, 1), lsn=1, op="U"),
        dict(vec_id=2, embedding=[1.0, 0.0, 0.0, float("nan")], lsn=2, op="U"),
    ]), batch_key="c1")
    index2 = create_ann_index(spark, str(tmp_path / "idx2"), CENTS, num_buckets=4)
    with pytest.raises(Exception, match="finite array of dim 4"):
        refresh_ann_index(emb2, index2)

    # clean corpus, bad QUERY vector: probe must raise too
    emb3 = LakeTable.create(
        spark, str(tmp_path / "emb3"), FIELDS, ["vec_id"],
        "vec_id", num_buckets=4, write_mode="cow",
    )
    merge_into(emb3, _src(spark, [
        dict(vec_id=i, embedding=_vec(i % 3, i), lsn=i, op="U")
        for i in range(1, 5)
    ]), batch_key="c1")
    index3 = create_ann_index(spark, str(tmp_path / "idx3"), CENTS, num_buckets=4)
    refresh_ann_index(emb3, index3)
    bad_q = _queries(spark, [dict(vec_id=100, embedding=[1.0, 0.0])])
    with pytest.raises(Exception, match="finite array of dim 4"):
        ann_batch(emb3, index3, bad_q).collect()
    release_caches()


def test_duplicate_query_ids_raise(spark, tmp_path):
    emb = _mk_emb(spark, tmp_path, "cow")
    index = create_ann_index(spark, str(tmp_path / "idx"), CENTS, num_buckets=4)
    merge_into(emb, _src(spark, [
        dict(vec_id=1, embedding=_vec(0, 1), lsn=1, op="U"),
    ]), batch_key="c1")
    refresh_ann_index(emb, index)
    dupq = _queries(spark, [
        dict(vec_id=100, embedding=_vec(0, 40)),
        dict(vec_id=100, embedding=_vec(1, 41)),
    ])
    with pytest.raises(ValueError, match="duplicate query ids"):
        ann_batch(emb, index, dupq)


def test_probe_pins_refreshed_snapshot(spark, tmp_path):
    """Corpus advances AFTER the last refresh: the probe must answer
    against the refreshed version on BOTH tables (posting lists AND
    candidate vectors), not mix stale cells with live vectors."""
    emb = _mk_emb(spark, tmp_path, "cow")
    index = create_ann_index(spark, str(tmp_path / "idx"), CENTS, num_buckets=4)
    merge_into(emb, _src(spark, [
        dict(vec_id=i, embedding=_vec(i % 3, i), lsn=i + 1, op="U")
        for i in range(1, 10)
    ]), batch_key="c1")
    refresh_ann_index(emb, index)
    pinned = emb.current_version()
    # un-refreshed churn: vec 4 moves cell 1 -> 2, vec 5 deleted,
    # vec 20 inserted
    merge_into(emb, _src(spark, [
        dict(vec_id=4, embedding=_vec(2, 4), lsn=30, op="U"),
        dict(vec_id=5, embedding=None, lsn=31, op="D"),
        dict(vec_id=20, embedding=_vec(1, 20), lsn=32, op="U"),
    ]), batch_key="c2")
    queries = _queries(spark, [
        dict(vec_id=100, embedding=_vec(1, 40)),
        dict(vec_id=101, embedding=_vec(2, 41)),
    ])
    got = _sorted(ann_batch(emb, index, queries, k=3, n_probe=1))
    release_caches()
    want = _sorted(ivf_topk(
        emb.read(version=pinned), queries, _cents_df(spark), k=3, dim=DIM
    ))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # after a refresh the probe answers against the new version again
    refresh_ann_index(emb, index)
    _assert_probe_equals_recompute(spark, emb, index, queries)
