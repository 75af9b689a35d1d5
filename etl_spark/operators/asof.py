"""As-of (temporal nearest) join — an operator Spark's DataFrame API
lacks natively.

Semantics: for every left row, attach the single right row with the
greatest `right_ts <= left_ts` (direction="backward", inclusive; the
DuckDB/pandas `ASOF JOIN ... ON l.k = r.k AND l.ts >= r.ts` contract)
or the smallest `right_ts >= left_ts` (direction="forward"), matching
on equality keys first. Unmatched left rows keep nulls (left join).

Scale design (10^10 events):
- The naive formulations are both scale-killers: an inequality join
  (`l.k = r.k AND r.ts <= l.ts` + argmax) materializes the full
  per-key pair space — O(n_l * n_r) per key — and a per-key
  `collect_list` + UDF search holds whole keys in memory.
- This implementation is the union + window trick: tag the two inputs,
  union them, and run ONE window (`last(right_payload, ignorenulls)`)
  partitioned by the keys and ordered by (ts, side). Every right row's
  payload is visible to exactly the left rows that follow it in the
  per-key timeline, so the match is a running carry-forward — cost is
  one shuffle of (left + right) keyed rows and a per-partition sort,
  the same price as any groupBy over the union. No pair space, no
  per-key memory blowup; a hot key degrades to the same single-key
  sort any windowed op pays.
- Ordering is total and deterministic: (ts, side, right payload
  struct), with the right row sorting BEFORE the left row at equal ts
  so backward matches are inclusive, and the greatest right payload
  winning when several right rows share (keys, ts) — engine-portable
  results for any orderable payload types. (A payload containing a
  non-orderable column, e.g. a map, is rejected by the analyzer —
  project it out of `right_cols`, or pre-serialize it to an orderable
  form.)

The reference has no as-of operator (its joins are equality-only
LEFT ANTI/SEMI batch diffs, /root/reference/src/pipeline/core/
spark.py:391-417); this is training-pipeline surface beyond it —
"nearest prior context" joins (event -> latest config, turn -> most
recent tool result) are a standard transcript-enrichment step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str | None = None,
    right_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_us: int | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Left as-of join: every `left` row plus the payload of its
    nearest `right` row (per `direction`) among rows sharing the `on`
    keys. Right payload columns are suffixed with `suffix`; unmatched
    rows carry nulls.

    `tolerance_us` (microseconds) optionally voids matches further
    than the tolerance from the left timestamp, like pandas
    `merge_asof(tolerance=...)` — the match is still the nearest row,
    it just must also be within the band.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    right_ts = right_ts or left_ts
    right_cols = right_cols or [
        c for c in right.columns if c not in on and c != right_ts
    ]

    # Pack each side's payload into one struct so the union schema is
    # two fixed columns regardless of the input shapes. The right
    # struct carries its own event time for the tolerance check.
    r_payload = F.struct(
        F.col(right_ts).cast("timestamp").alias("_rts"),
        *[F.col(c) for c in right_cols],
    )
    r2 = right.select(
        *[F.col(k) for k in on],
        F.col(right_ts).cast("timestamp").alias("_ts"),
        F.lit(0).alias("_side"),
        r_payload.alias("_r"),
    )
    r_type = r2.schema["_r"].dataType
    l2 = left.select(
        *[F.col(k) for k in on],
        F.col(left_ts).cast("timestamp").alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r_type).alias("_r"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
    )
    u = r2.withColumn("_l", F.lit(None).cast(l2.schema["_l"].dataType)).unionByName(
        l2
    )

    # Backward: ascending timeline, right rows sort before left rows at
    # equal ts (inclusive match), carry the last right payload forward.
    # Forward: the mirror — descending timeline, so "last" is the
    # nearest following right row.
    # The trailing `_r` term totalizes the order when several RIGHT
    # rows share (keys, ts): structs compare lexicographically, so the
    # greatest right payload wins deterministically in both directions
    # (asc + carry-last == max). Without it the carried match at a
    # duplicated right timestamp is partition-sort luck. Left rows all
    # have null `_r` and are already separated by `_side`, so the term
    # only ever orders rights among themselves.
    if direction == "backward":
        order = [F.col("_ts").asc(), F.col("_side").asc(), F.col("_r").asc()]
    else:
        order = [F.col("_ts").desc(), F.col("_side").asc(), F.col("_r").asc()]
    w = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        u.withColumn("_m", F.last("_r", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    if tolerance_us is not None:
        gap = F.abs(
            F.unix_micros(F.col("_ts")) - F.unix_micros(F.col("_m._rts"))
        )
        matched = matched.withColumn(
            "_m", F.when(gap <= F.lit(tolerance_us), F.col("_m"))
        )

    out = [F.col(f"_l.{c}").alias(c) for c in left.columns]
    out += [F.col("_m._rts").alias(f"{right_ts}{suffix}")]
    out += [F.col(f"_m.{c}").alias(f"{c}{suffix}") for c in right_cols]
    return matched.select(*out)
