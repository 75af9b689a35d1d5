"""Out-of-order resolution: keep only the max-LSN event per key.

The reference applies change events in file-listing order and lets the
last-listed blindly overwrite (per-row ALTER ... UPDATE loop,
/root/reference/src/pipeline/core/spark.py:157-177) — event order is
whatever the object-store listing says. Here order is defined by the
log-sequence-number: within a micro-batch, for each (conv_id, turn_idx)
only the event with the highest LSN can affect final state (ops are
full-image I/U/D, last-writer-wins), so we reduce the batch to one row
per key before the MERGE.

Implemented as a hash aggregation (`max_by(struct(*), lsn)`), which
Catalyst runs as partial (map-side) + final aggregate — each map task
emits at most one row per key, so a hot conversation's events collapse
before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _lineage_count_aggs(
    lsn_col: str,
    with_counts: bool,
    covered_lsn_ranges: list[tuple[int, int]] | None,
) -> list:
    """Per-key lineage tallies that ride the resolve aggregation
    (shared by the full-image and patch resolvers): `_nev` raw events,
    `_nlsn` distinct LSNs, and — given the prior batches' covered
    [lo, hi] LSN intervals — `_nnew` distinct LSNs OUTSIDE all of
    them, which counts each log event exactly once across the replay
    even under at-least-once re-delivery and out-of-LSN-order batch
    arrival. collect_set state is bounded by events-per-key within one
    micro-batch; LSNs are unique per event, so per-key sets are
    disjoint across keys."""
    if not with_counts:
        return []
    aggs = [
        F.count("*").alias("_nev"),
        F.size(F.collect_set(F.col(lsn_col))).alias("_nlsn"),
    ]
    if covered_lsn_ranges is not None:
        covered = F.lit(False)
        for lo, hi in covered_lsn_ranges:
            covered = covered | (
                (F.col(lsn_col) >= F.lit(int(lo)))
                & (F.col(lsn_col) <= F.lit(int(hi)))
            )
        # collect_set skips nulls, so this is distinct-outside-coverage
        aggs.append(
            F.size(F.collect_set(F.when(~covered, F.col(lsn_col)))).alias("_nnew")
        )
    return aggs


def resolve_max_lsn(
    df: DataFrame,
    key: list[str],
    lsn_col: str = "lsn",
    with_counts: bool = False,
    covered_lsn_ranges: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """One row per `key`: the full row carrying the highest `lsn`.

    Exact-duplicate events (same key and lsn — at-least-once re-emits)
    collapse too, since tied rows are identical by construction.

    `with_counts=True` adds `_nev` (raw events for the key) and
    `_nlsn` (distinct LSNs for the key) columns, computed inside the
    same hash aggregation — zero extra shuffles. Summing them yields
    exact batch raw/distinct event totals for lineage, replacing a
    separate full-batch count_distinct action. (`collect_set` state is
    bounded by events-per-key within one micro-batch, which the
    key-grain — e.g. (conv_id, turn_idx) — keeps small even for hot
    conversations; LSNs are unique per event so per-key sets are
    disjoint across keys.)

    `covered_lsn_ranges` (with with_counts) additionally emits `_nnew`:
    the per-key count of distinct LSNs OUTSIDE the given [lo, hi]
    intervals. With the intervals set to the prior batches' covered
    LSN ranges (merged; typically one span), summing _nnew counts each
    log event exactly once across the whole replay: an at-least-once
    re-delivery falls inside a prior batch's range and is excluded,
    while a genuinely new event is outside every prior range even when
    the source delivers batches out of LSN order. Pass `[]` for "no
    prior coverage" (count all distinct LSNs as new).
    """
    others = [c for c in df.columns if c not in key]
    packed = F.struct(*[F.col(c) for c in others]).alias("_row")
    final = df.groupBy(*key).agg(
        F.max_by(packed, F.col(lsn_col)).alias("_row"),
        *_lineage_count_aggs(lsn_col, with_counts, covered_lsn_ranges),
    )

    extra = ["_nev", "_nlsn"] if with_counts else []
    if with_counts and covered_lsn_ranges is not None:
        extra.append("_nnew")
    return final.select(*key, "_row.*", *extra)


def resolve_patch_fold(
    df: DataFrame,
    key: list[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
    with_counts: bool = False,
    covered_lsn_ranges: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Partial-image (patch) variant of `resolve_max_lsn`: one row per
    `key` folding full-image events (op I/U/D) AND patch events
    (op 'P' — Debezium partial row image / MySQL minimal binlog row
    image) in LSN order, inside ONE hash aggregation.

    Input contract: `df` carries the key columns, `lsn_col`, `op_col`,
    the payload columns, and one boolean `_set_<col>` per payload
    column — true iff the event assigns that column (always true for
    I/U/D full images; for 'P' only the columns the patch carries, as
    decoded from the payload's `_changed` mask by
    `engine.apply.parse_batch(with_set_flags=True)`). Patches target
    live rows: the log never emits 'P' for a key between its 'D' and
    the next 'I' (gen/binlog.py enforces this; a violator would
    surface as a resurrected row in the replay-oracle diff).

    Fold semantics, per key within the batch: the latest full image
    (if any) establishes every column; any patch with a higher LSN
    overrides exactly the columns it carries. Patches below the latest
    full image lose wholesale (the full image rewrote the row). This
    collapses to per-column `max(struct(lsn, value)) FILTER (WHERE
    _set_col)` — the full image participates for every column, each
    patch only for its carried columns, so the per-column maximum IS
    the fold. The struct-max form (not max_by) is deliberate: both
    Spark and DuckDB exclude rows where the aggregated struct is null
    (the WHEN miss) but keep a null VALUE carried by the winning LSN,
    so a patch that sets a column to NULL folds identically in engine
    and oracle.

    Output: key + payload columns + `_set_<col>` flags + `op`
    ('D' = delete wins; 'P' = patch-only key, the MERGE must coalesce
    unset columns from the target row; 'U' otherwise) + `lsn` = max
    LSN for the key (drives the MERGE monotonicity guard), plus the
    same optional `_nev`/`_nlsn`/`_nnew` lineage counts as
    `resolve_max_lsn` — zero extra shuffles vs the full-image path.

    The reference has no partial-image handling at all — its updates
    blindly overwrite whole rows in listing order
    (/root/reference/src/pipeline/core/spark.py:157-177)."""
    set_cols = [c for c in df.columns if c.startswith("_set_")]
    payload = [
        c
        for c in df.columns
        if c not in key
        and c not in (lsn_col, op_col)
        and not c.startswith("_set_")
    ]
    missing = [c for c in payload if f"_set_{c}" not in set_cols]
    if missing:
        raise ValueError(f"resolve_patch_fold: no _set_ flag for {missing}")
    is_full = F.col(op_col) != F.lit("P")
    lsn, op = F.col(lsn_col), F.col(op_col)
    # fold state: boundary struct + one struct-max per payload column
    fold_aggs = [
        F.max(F.when(is_full, F.struct(lsn.alias("l"), op.alias("o")))).alias("_b"),
        F.max(lsn).alias("_max_lsn"),
    ]
    for c in payload:
        fold_aggs.append(
            F.max(
                F.when(F.col(f"_set_{c}"), F.struct(lsn.alias("l"), F.col(c).alias("v")))
            ).alias(f"_f_{c}")
        )
    final = df.groupBy(*key).agg(
        *fold_aggs, *_lineage_count_aggs(lsn_col, with_counts, covered_lsn_ranges)
    )

    is_del = F.col("_b").isNotNull() & (F.col("_b.o") == F.lit("D"))
    out_cols = [F.col(k) for k in key]
    for c in payload:
        out_cols.append(F.when(~is_del, F.col(f"_f_{c}.v")).alias(c))
        # boundary I/U sets every column; D output is a tombstone whose
        # columns all "apply" (merge nulls them); patch-only keys set
        # exactly the columns some patch carried
        out_cols.append(
            (is_del | F.col(f"_f_{c}").isNotNull()).alias(f"_set_{c}")
        )
    out_cols.append(
        F.when(is_del, F.lit("D"))
        .when(F.col("_b").isNull(), F.lit("P"))
        .otherwise(F.lit("U"))
        .alias(op_col)
    )
    out_cols.append(F.col("_max_lsn").alias(lsn_col))
    extra = ["_nev", "_nlsn"] if with_counts else []
    if with_counts and covered_lsn_ranges is not None:
        extra.append("_nnew")
    return final.select(*out_cols, *extra)
