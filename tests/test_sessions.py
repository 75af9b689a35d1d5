"""Sessionization: the window-function form assigns gap-based session
indexes per key."""

from __future__ import annotations

import pandas as pd

from etl_spark.operators.sessions import sessionize


def test_sessionize_batch_shape(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 4 + ["b"] * 2,
            "i": [1, 2, 3, 4, 1, 2],
            "ts": pd.to_datetime(
                ["2026-01-01 00:00:00", "2026-01-01 00:00:10",
                 "2026-01-01 00:10:00", "2026-01-01 00:10:05",
                 "2026-01-01 00:00:00", "2026-01-01 02:00:00"]
            ),
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        sessionize(df, "k", "i", "ts", gap_seconds=60)
        .toPandas()
        .sort_values(["k", "i"])
        .reset_index(drop=True)
    )
    assert out["session_idx"].tolist() == [0, 0, 1, 1, 0, 1]
