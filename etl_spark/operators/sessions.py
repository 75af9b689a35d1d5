"""Sessionization — gap-based session assignment over an event stream.

`sessionize` is the window-function form: a lag-gap indicator
cumulatively summed per key. One shuffle on the key; the window never
materializes the pair space. SQL-expressible, so the contract checks
it hash-exact against DuckDB.

The reference has no sessionization; this is training-pipeline
surface (conversation/agent-trace segmentation before packing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def sessionize(
    df: DataFrame,
    key_col: str,
    order_col: str,
    ts_col: str,
    gap_seconds: int = 60,
    carry: tuple[Column, ...] = (),
) -> DataFrame:
    """Assign a 0-based session index per key: a new session starts
    when the gap to the previous event (ordered by `order_col`)
    exceeds `gap_seconds`. Returns the input keys + order + session_idx,
    plus any `carry` columns — the window output preserves input rows,
    so callers needing more columns carry them through this projection
    instead of re-joining the event stream afterwards (a second full
    shuffle at 10^10-event scale).
    """
    # NULL event times are excluded up front: a null gap would
    # otherwise silently classify as same-session
    df = df.filter(F.col(ts_col).isNotNull())
    w = Window.partitionBy(key_col).orderBy(order_col)
    epoch = F.col(ts_col).cast("timestamp_ltz").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap > gap_seconds, 1).otherwise(0)
    return df.select(
        F.col(key_col),
        F.col(order_col),
        F.sum(new_sess).over(w).cast("int").alias("session_idx"),
        *carry,
    )


def session_summaries(
    df: DataFrame,
    key_col: str,
    order_col: str,
    ts_col: str,
    gap_seconds: int = 60,
) -> DataFrame:
    """One row per (key, session): event count and LSN/ts bounds.

    Single pass: the epoch column rides through `sessionize`'s window
    projection (`carry`), so the summary aggregation consumes the
    window output directly — one key shuffle for the window, one
    (mostly map-side-collapsed) shuffle for the group-by, and no join
    back against the event stream.
    """
    epoch = F.col(ts_col).cast("timestamp_ltz").cast("long")
    s = sessionize(
        df, key_col, order_col, ts_col, gap_seconds,
        carry=(epoch.alias("_es"),),
    )
    return s.groupBy(key_col, "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min(order_col).alias("first_id"),
        F.max(order_col).alias("last_id"),
        F.min("_es").alias("start_s"),
        F.max("_es").alias("end_s"),
    )
