"""Incrementally-maintained IVF ANN index over an embeddings lake
table — the similarity member of the persisted-index family (exact
dedup: lake/dedup_index.py; near-dup: lake/neardup_index.py): answer
"which corpus vectors are nearest to this NEW batch of query
embeddings" in O(batch + probed cells) instead of re-assigning the
corpus per search — the third operation a 100 TB training pipeline
runs daily.

The index rows are the corpus's IVF cell assignments — (cell, vec_id)
keyed on both and BUCKETED BY cell — so a cell's posting list
co-locates in one bucket and a probe reads only the probed cells'
buckets/files (`read(where_in={"cell": ...})`). Because the index is
itself a lake table, every lake capability applies for free: ledgered
idempotent commits, time travel, compaction, write-time Blooms.

The coarse centroids (trained via `operators.similarity.kmeans_train`
or caller-provided) are stamped into the index manifest props at
CREATE time — JSON round-trips Python floats via shortest repr, so
the stored values are exact. That makes the index self-describing:
refreshes and probes always score against the stored centroids, so
the mismatched-CONFIG failure class the MinHash index guards against
(`neardup_index._params_guard`) cannot arise here. Mismatched DATA
still can — a corpus or query vector whose dim differs from the
stored centroids', or one carrying NaN/inf — so every vector is
dim/finiteness-checked (`_checked_vec`) before it is assigned or
scored; a violation fails the job instead of silently poisoning
results.

- `refresh_ann_index` folds the embeddings table's change feed into
  posting-list MERGEs with the same double signed collapse as the
  near-dup index: first per (vec_id, embedding) — only window-net
  added/removed vectors are ever assigned, intermediates cancel —
  then per (cell, vec_id), so an update whose old and new vector land
  in the same cell nets 0 and touches nothing. Assignment is the
  literal-centroid projection (`similarity._kmeans_assign`): zero
  join operators, scores bit-identical to `ivf_assign` and to the SQL
  oracle. Refresh MERGEs are ledgered under a window-derived
  batch_key — identical crash posture to the sibling indexes.
- `ann_batch` is the search: assign each query to its `n_probe`
  nearest cells (sort/slice of the SAME literal struct array the
  argmax assignment uses), read ONLY those cells' index buckets, then
  score candidates by exact cosine reading only the candidate corpus
  vectors (point-lookup-class IO on both tables). Driver transfer is
  O(probed cells + candidate ids) — the bounded-metadata class the
  where_in path it feeds is built on. n_probe = num centroids turns
  the probe into exact brute force (equals `cosine_topk` — property-
  tested); n_probe = 1 equals `ivf_topk` bit-for-bit (golden-tested
  across insert / cell-moving update / delete windows).

The reference has nothing comparable (its sink is append-only JDBC);
this composes the repo's change feed with its IVF operators.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from etl_spark.lake.index_common import probe_version, refresh_derived_index
from etl_spark.lake.table import LakeTable
from etl_spark.operators.common import spread
from etl_spark.operators.dedup import _track_persist
from etl_spark.operators.similarity import (
    _kmeans_assign,
    as_double,
    cell_score_structs,
    cosine,
    rank_topk,
)

INDEX_FIELDS = [
    ("cell", "long"),
    ("vec_id", "long"),
    ("member", "boolean"),
]
INDEX_KEY = ["cell", "vec_id"]

# manifest prop holding the coarse centroids the stored cells were
# assigned against — the index is unusable without them, and scoring
# against different centroids would silently probe the wrong cells
_CENTROIDS_PROP = "ivf_centroids"

_RESULT_SCHEMA = "query_id long, neighbor_id long, rank int"


def create_ann_index(
    spark: SparkSession,
    root: str,
    centroids: list[list[float]],
    num_buckets: int = 16,
    write_mode: str = "cow",
) -> LakeTable:
    """Create the (empty) posting-list index table, bucketed by cell,
    and stamp the coarse centroids into its manifest props. Centroids
    are fixed for the index's lifetime — retraining means a new index
    (cells are meaningless across centroid sets)."""
    cents = [[float(x) for x in c] for c in centroids]
    if not cents:
        raise ValueError("need at least one centroid")
    dim = len(cents[0])
    if dim == 0 or any(len(c) != dim for c in cents):
        raise ValueError("centroids must be non-empty and equal-length")
    if any(not math.isfinite(x) for c in cents for x in c):
        raise ValueError("non-finite centroid coordinate")
    table = LakeTable.create(
        spark, root, INDEX_FIELDS, INDEX_KEY, "cell",
        num_buckets=num_buckets, write_mode=write_mode,
    )
    table._set_props({_CENTROIDS_PROP: cents})
    return table


def _centroids(index: LakeTable) -> list[list[float]]:
    cents = index.manifest().props.get(_CENTROIDS_PROP)
    if not cents:
        raise ValueError(
            f"table at {index.root} has no stored IVF centroids — "
            "create it via create_ann_index"
        )
    return cents


def _cursor_path(index: LakeTable) -> str:
    return os.path.join(index.root, "_ann_cursor.json")


def _checked_vec(vec, id_c, dim: int, what: str):
    """Fail the job loudly if a vector is not a finite double array of
    the stored centroids' dim. Without the guard a dim mismatch or NaN
    coordinate silently poisons results: element_at past the array end
    is NULL (every cell score NULL -> deterministic junk cell), a
    longer vector silently truncates the dot product, and Spark orders
    NaN above all doubles so one NaN corpus vector would rank 1 for
    every query probing its cell. assert_true is a JVM-side projection
    — no extra job, one pass over the array per row."""
    ok = (F.size(vec) == dim) & F.forall(
        vec,
        lambda x: x.isNotNull()
        & ~F.isnan(x)
        & (F.abs(x) < F.lit(float("inf"))),
    )
    msg = F.concat(
        F.lit(f"{what} vector must be a finite array of dim {dim} "
              "(the stored centroids'); got id="),
        F.coalesce(id_c.cast("string"), F.lit("NULL")),
        F.lit(" size="),
        F.coalesce(F.size(vec).cast("string"), F.lit("NULL")),
    )
    return F.when(F.assert_true(ok, msg).isNull(), vec)


def _assigned(
    d: DataFrame, cents: list[list[float]], id_col: str, vec_col: str
) -> DataFrame:
    """(id_col, vec_col) -> (cell, vec_id): nearest-centroid cell via
    the literal projection (no join operator; `spread` so a few-file
    scan doesn't serialize the k*dim scoring onto one core). Vectors
    are dim/finiteness-checked against the stored centroids — a
    mismatch fails the refresh instead of poisoning the index."""
    dim = len(cents[0])
    v = spread(d).select(
        F.col(id_col).cast("long").alias("id"),
        _checked_vec(
            as_double(F.col(vec_col)), F.col(id_col), dim, "corpus"
        ).alias("_v"),
    )
    return _kmeans_assign(v, cents, dim).select(
        "cell", F.col("id").alias("vec_id")
    )


def refresh_ann_index(
    emb: LakeTable,
    index: LakeTable,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Bring the posting-list index up to the embeddings table's
    current version (shared scaffold:
    lake/index_common.refresh_derived_index; `persist=True` because
    the k*dim centroid scoring is the expensive derivation). Returns
    {"from_version", "to_version", "mode"} with mode in
    noop | full | incremental (full on first refresh)."""
    cents = _centroids(index)
    return refresh_derived_index(
        emb, index,
        id_col=id_col, value_col=vec_col,
        row_fn=lambda d: _assigned(d, cents, "id", "val"),
        index_key=INDEX_KEY,
        prefix="ann", cursor_path=_cursor_path(index),
        persist=True,
    )


def ann_batch(
    emb: LakeTable,
    index: LakeTable,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_probe: int = 1,
) -> DataFrame:
    """ANN top-k for a batch of query vectors against the persisted
    index WITHOUT re-assigning the corpus: score each query against
    the stored centroids, take its `n_probe` best cells (sort/slice
    of the SAME literal struct array the assignment argmaxes over —
    identical scores and (s DESC, cell DESC) tie-break), read only
    those cells' index buckets, then exact-cosine the candidates
    reading only their vectors from the embeddings table. Returns
    (query_id, neighbor_id, rank) — the `ivf_topk`/`cosine_topk`
    shape. A query that is itself a corpus member never matches
    itself (same id exclusion as `ivf_topk`).

    Candidate vectors are read at the index cursor's refreshed version
    (`index_common.probe_version`), NOT the embeddings table's current
    one: posting lists reflect the last refresh, so scoring a stored
    candidate with a vector that changed since would mix snapshots —
    the probe answers "nearest corpus neighbors as of the last
    refresh", one consistent version.

    Query ids must be distinct (one vector per id): the probe dedups
    candidates per (query_id, cand_id), which is only well-defined
    when a query id carries one vector — duplicates raise.

    Persisted intermediates are tracked like every dedup/similarity
    operator's — the caller releases them via
    operators.dedup.release_caches() after consuming the result."""
    cents = _centroids(index)
    dim = len(cents[0])
    if not 1 <= n_probe <= len(cents):
        raise ValueError(f"n_probe must be in [1, {len(cents)}]")
    pin = probe_version(index, _cursor_path(index))
    spark = queries.sparkSession
    q = spread(queries).select(
        F.col(id_col).cast("long").alias("query_id"),
        _checked_vec(
            as_double(F.col(vec_col)), F.col(id_col), dim, "query"
        ).alias("_qv"),
    )
    n_q, n_ids = q.agg(
        F.count(F.lit(1)), F.count_distinct("query_id")
    ).first()
    if n_q != n_ids:
        raise ValueError(
            f"query batch carries {n_q} rows over {n_ids} distinct "
            f"{id_col} values — duplicate query ids make the per-"
            "(query, candidate) dedup nondeterministic"
        )
    structs = cell_score_structs(cents, dim, vec="_qv")
    # natural struct order sorts (s ASC, cell ASC); reversed = the
    # argmax's (s DESC, cell DESC) — element 1 IS the assignment cell
    qc = _track_persist(
        q.withColumn(
            "_pc",
            F.expr(
                f"slice(reverse(array_sort(array({structs}))), 1, {n_probe})"
            ),
        )
        .select("query_id", "_qv", F.explode("_pc").alias("_c"))
        .select("query_id", "_qv", F.col("_c.cell").alias("cell"))
    )
    cells = [r[0] for r in qc.select("cell").distinct().collect()]
    if not cells:
        return spark.createDataFrame([], _RESULT_SCHEMA)

    idx = index.read(where_in={"cell": cells}).select(
        "cell", F.col("vec_id").alias("cand_id")
    )
    # a candidate can surface from several probed cells of one query
    # (n_probe > 1) — dedup on ids only; _qv is constant per query_id
    cand = _track_persist(
        qc.join(idx, "cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "cand_id"])
        .select("query_id", "_qv", "cand_id")
    )
    cids = [r[0] for r in cand.select("cand_id").distinct().collect()]
    if not cids:
        return spark.createDataFrame([], _RESULT_SCHEMA)
    vecs = emb.read(version=pin, where_in={id_col: cids}).select(
        F.col(id_col).cast("long").alias("cand_id"),
        as_double(F.col(vec_col)).alias("_v"),
    )
    scored = cand.join(vecs, "cand_id").withColumn(
        "score", cosine(F.col("_qv"), F.col("_v"), dim)
    )
    return rank_topk(scored, k, "cand_id")
