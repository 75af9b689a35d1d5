"""Incrementally-maintained MinHash/LSH NEAR-dup index over a
documents lake table — the near-duplicate twin of the exact index in
`lake/dedup_index.py`, and the other operation a 100 TB training
pipeline runs daily: find which documents of a NEW batch are
near-duplicates of the persisted corpus in O(batch + touched LSH
buckets) instead of re-signaturing the corpus.

The index rows are the corpus's LSH band keys — (bkey, band, doc_id)
keyed on all three and BUCKETED BY bkey — so same-band-key rows
co-locate in one bucket and a probe reads only the probed keys'
buckets/files (`read(where_in={"bkey": ...})` — bucket pruning plus
Bloom sidecars if built). Because the index is itself a lake table,
every lake capability applies for free: ledgered idempotent commits,
time travel, compaction, write-time Blooms.

Signature purity is the load-bearing design rule: a persisted
signature must be a pure per-document function of the text, or corpus
changes would silently invalidate every stored row. That is why the
index pipeline applies NO corpus-frequency shingle cap (the
`max_shingle_freq` guard in `minhash_lsh_pairs` is a function of the
whole corpus). The mega-bucket/skew guard moves where it belongs at
probe time: `max_bucket_size` skips stopword-like band buckets whose
membership exceeds the cap — bounding join fan-out by a constant per
probed key, the same guard class, applied to the materialized bucket
instead of the shingle frequency.

- `refresh_neardup_index` folds the documents table's change feed
  (lake/changes.py) into band-row MERGEs. The feed's signed algebra
  collapses per (doc_id, text): inserts/update-post-images count +1,
  deletes/update-pre-images -1; per doc at most one net-+1 text (the
  window-final text, if alive at the end) and one net--1 text (the
  window-start text, if alive at the start) survive — intermediates
  cancel. Shingling therefore touches O(changed docs), never the
  corpus. Band rows from the added and removed texts are then
  collapsed AGAIN per (bkey, band, doc_id): an update whose old and
  new text agree on some band nets 0 there and touches nothing.
- Merge LSNs are the refresh window's end version and the MERGE is
  ledgered under a window-derived batch_key — identical crash posture
  to `dedup_index.refresh_index` (see that module's docstring).
- `neardup_batch` is the daily probe: band-key the incoming batch,
  read ONLY the probed keys' buckets, collide, then verify by EXACT
  Jaccard — reading only the candidate corpus docs' buckets from the
  documents table (point-lookup class IO on both tables). Intra-batch
  near-dups resolve in the same pass. Driver transfer is O(batch x
  bands) keys plus O(candidates) ids — the same bounded-metadata
  class as the where_in path it feeds.
- `neardup_pairs` is the corpus-wide view (index-driven candidates,
  exact verify): the golden tests prove it equals a from-scratch
  `minhash_lsh_pairs` recompute (cap disabled) after any mix of
  inserts / fingerprint-moving updates / deletes.

The reference has nothing comparable (its sink is append-only JDBC);
this composes the repo's change feed with its MinHash-LSH operator.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from etl_spark.lake.index_common import probe_version, refresh_derived_index
from etl_spark.lake.table import LakeTable
from etl_spark.operators.dedup import (
    _track_persist,
    band_keys,
    minhash_signatures,
    shingles,
    verify_pairs_exact,
)

INDEX_FIELDS = [
    ("bkey", "string"),
    ("band", "int"),
    ("doc_id", "long"),
    ("member", "boolean"),
]
INDEX_KEY = ["bkey", "band", "doc_id"]

# manifest prop stamping the signature params the stored keys were
# built with — a probe/refresh under different params would silently
# miss every near-dup (wrong hash space), so mismatches must raise
_PARAMS_PROP = "neardup_params"


def _params_guard(
    index: LakeTable, n: int, num_hashes: int, bands: int,
    stamp: bool = False,
) -> None:
    """Raise if the index was built with different (n, num_hashes,
    bands) than the caller is using. Unstamped indexes (created
    outside `create_neardup_index`) are stamped on first refresh when
    `stamp=True`, tolerated read-only otherwise."""
    want = f"{n}:{num_hashes}:{bands}"
    have = index.manifest().props.get(_PARAMS_PROP)
    if have is None:
        if stamp:
            index._set_props({_PARAMS_PROP: want})
        return
    if have != want:
        raise ValueError(
            f"near-dup index at {index.root} stores band keys built "
            f"with (n:num_hashes:bands) = {have}; called with {want} "
            "— a different hash space would silently miss every "
            "near-duplicate"
        )


def create_neardup_index(
    spark: SparkSession,
    root: str,
    num_buckets: int = 16,
    write_mode: str = "cow",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> LakeTable:
    """Create the (empty) band-key index table, bucketed by bkey, and
    stamp the signature params into its manifest props so later
    refreshes/probes under different params fail loudly."""
    table = LakeTable.create(
        spark, root, INDEX_FIELDS, INDEX_KEY, "bkey",
        num_buckets=num_buckets, write_mode=write_mode,
    )
    table._set_props({_PARAMS_PROP: f"{n}:{num_hashes}:{bands}"})
    return table


def _cursor_path(index: LakeTable) -> str:
    return os.path.join(index.root, "_neardup_cursor.json")


def _band_rows(
    d: DataFrame, n: int, num_hashes: int, bands: int
) -> DataFrame:
    """(id, text) -> (bkey, band, doc_id): the pure per-doc signature
    pipeline (shingles -> minhash -> band keys), NO corpus-frequency
    cap (see module docstring on signature purity)."""
    sh = shingles(d, "id", "text", n)
    banded = band_keys(minhash_signatures(sh, num_hashes), num_hashes, bands)
    return banded.select("bkey", "band", F.col("id").alias("doc_id"))


def refresh_neardup_index(
    docs: LakeTable,
    index: LakeTable,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> dict:
    """Bring the band-key index up to the documents table's current
    version. Returns {"from_version", "to_version", "mode"} with mode
    in noop | full | incremental (full on first refresh). The
    (n, num_hashes, bands) signature parameters must be held constant
    across a given index's lifetime — they define the stored keys
    (enforced via the manifest-props stamp: a mismatch raises). Shared
    scaffold:
    lake/index_common.refresh_derived_index; `persist=True` because
    the signature pipeline is expensive (the duplicated-subtree cost
    the band_keys docstring measured at 4x+). Per doc at most one
    net>0 text and one net<0 text survive the first collapse (module
    docstring), so ids are unique within each side and the signature
    groupBy stays per-document."""
    _params_guard(index, n, num_hashes, bands, stamp=True)
    return refresh_derived_index(
        docs, index,
        id_col=id_col, value_col=text_col,
        row_fn=lambda d: _band_rows(
            d.select("id", F.col("val").alias("text")), n, num_hashes, bands
        ),
        index_key=INDEX_KEY,
        prefix="neardup", cursor_path=_cursor_path(index),
        persist=True,
    )


def neardup_batch(
    docs: LakeTable,
    index: LakeTable,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup an incoming batch against the persisted index WITHOUT
    re-signaturing the corpus: band-key the batch, read only the
    probed keys' index buckets, collide, verify candidates by exact
    Jaccard reading only those corpus docs. Returns
    (id_a, id_b, shared, n_a, n_b) — the `minhash_lsh_pairs` shape —
    covering batch-vs-corpus AND intra-batch pairs at `threshold`
    (corpus-vs-corpus pairs were emitted when those docs were batched).

    `max_bucket_size` (off by default) skips probed band buckets whose
    corpus membership exceeds the cap — the probe-time mega-bucket
    guard (module docstring); skipped buckets only prune CANDIDATES,
    verification stays exact.

    Corpus texts are read at the index cursor's refreshed version
    (`index_common.probe_version`), NOT the documents table's current
    one: stored band keys reflect the last refresh, so verifying a
    candidate against a text that changed since would mix snapshots —
    found under its stale bands, Jaccard-verified with its new text."""
    _params_guard(index, n, num_hashes, bands)
    pin = probe_version(index, _cursor_path(index))
    b = batch.select(
        F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("text")
    )
    # persisted intermediates are tracked like every dedup operator's:
    # the caller releases them via operators.dedup.release_caches()
    # after consuming the (lazy) result
    sh_b = _track_persist(shingles(b, "id", "text", n))
    banded_b = _track_persist(
        band_keys(minhash_signatures(sh_b, num_hashes), num_hashes, bands)
    )
    keys = [r[0] for r in banded_b.select("bkey").distinct().collect()]

    intra = (
        banded_b.select(F.col("id").alias("id_a"), "band", "bkey")
        .join(
            banded_b.select(F.col("id").alias("id_b"), "band", "bkey"),
            ["band", "bkey"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if keys:
        idx = index.read(where_in={"bkey": keys}).select(
            "band", "bkey", F.col("doc_id").alias("cid")
        )
        if max_bucket_size is not None:
            counts = idx.groupBy("band", "bkey").agg(F.count("*").alias("_bn"))
            idx = idx.join(
                counts.filter(F.col("_bn") <= max_bucket_size)
                .select("band", "bkey"),
                ["band", "bkey"],
                "left_semi",
            )
        cross = (
            banded_b.join(idx, ["band", "bkey"])
            .filter(F.col("cid") != F.col("id"))
            .select(
                F.least("id", "cid").alias("id_a"),
                F.greatest("id", "cid").alias("id_b"),
            )
        )
        cand = intra.unionByName(cross).distinct()
    else:
        cand = intra.distinct()
    cand = _track_persist(cand)

    batch_ids = {r[0] for r in b.select("id").distinct().collect()}
    cids = [
        r[0]
        for r in cand.select(
            F.explode(F.array("id_a", "id_b")).alias("id")
        )
        .distinct()
        .collect()
        if r[0] not in batch_ids
    ]
    if cids:
        corpus_docs = docs.read(version=pin, where_in={id_col: cids}).select(
            F.col(id_col).cast("long").alias("id"),
            F.col(text_col).alias("text"),
        )
        sh_all = sh_b.unionByName(shingles(corpus_docs, "id", "text", n))
    else:
        sh_all = sh_b
    return verify_pairs_exact(sh_all, cand, threshold)


def neardup_pairs(
    docs: LakeTable,
    index: LakeTable,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Corpus-wide near-dup pairs driven by the PERSISTED index (band
    buckets come from stored rows, not a fresh signature pass), exact
    Jaccard verify. Equals a from-scratch `minhash_lsh_pairs` with the
    frequency cap disabled — the golden tests prove it across change
    windows. Shape (id_a, id_b, shared, n_a, n_b). Persisted
    intermediates (the index scan consumed by both sides of its
    self-join; the candidate set consumed twice inside the verify) are
    tracked like every dedup operator's — the caller releases them via
    operators.dedup.release_caches() after consuming the result.
    Corpus texts read at the cursor's refreshed version — see
    `neardup_batch` on snapshot consistency."""
    _params_guard(index, n, num_hashes, bands)
    pin = probe_version(index, _cursor_path(index))
    idx = _track_persist(
        index.read().select("band", "bkey", F.col("doc_id").alias("id"))
    )
    cand = _track_persist(
        idx.select(F.col("id").alias("id_a"), "band", "bkey")
        .join(idx.select(F.col("id").alias("id_b"), "band", "bkey"), ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    base = docs.read(version=pin).select(
        F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("text")
    )
    return verify_pairs_exact(shingles(base, "id", "text", n), cand, threshold)
