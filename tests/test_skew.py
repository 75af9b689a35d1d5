"""Hot-key skew: a stream dominated by one conversation must replay to
the oracle's final state. Map-side partial aggregation collapses the
hot key's events before the resolve shuffle; the write-skew guard in
`LakeTable._stage_dataframe` spreads its bucket over the write tasks."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark.config import EngineConfig
from etl_spark.engine.apply import apply_batch
from etl_spark.gen.binlog import GenConfig, gen_base, gen_binlog, gen_schema_ops
from etl_spark.gen.oracle import replay_oracle
from etl_spark.pipeline import bootstrap, final_state
from tests.util import assert_frames_equal


def test_hot_key_replay_matches_oracle(spark, tmp_path):
    # steep Zipf -> one conversation dominates the event stream
    g = GenConfig(n_convs=6, n_events=150, zipf_alpha=2.5, dup_rate=0.1,
                  disorder_window=8, segment_size=50)
    base, ops = gen_base(g), gen_schema_ops(g)
    binlog = gen_binlog(g, base, ops)
    top_share = binlog["conv_id"].value_counts().iloc[0] / len(binlog)
    assert top_share > 0.5  # the skew is real

    cfg = EngineConfig(
        table_root=str(tmp_path / "t"), manifest_dir=str(tmp_path / "m"),
        checkpoint_dir=str(tmp_path / "c"), num_buckets=4,
    )
    bootstrap(spark, cfg, base)
    for batch_id, (_, seg) in enumerate(binlog.groupby("_seg")):
        df = spark.createDataFrame(seg.drop(columns="_seg"))
        df = df.withColumn("turn_idx", F.col("turn_idx").cast("int")).withColumn(
            "schema_version", F.col("schema_version").cast("int")
        )
        apply_batch(spark, cfg, ops, df, batch_id)
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))
