"""Micro-batch parse: the one-pass plan shape, loud failure on
undecodable schema versions, and the normalize UDF's parity with the
oracle's pure-Python normalization."""

from __future__ import annotations

import json
import os
import random
import re
import sys
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.cdc_schema import TRANSCRIPTS
from etl_spark.engine.apply import (
    _batch_files_from_checkpoint,
    _stats_from_footers,
    apply_batch,
    parse_batch,
)
from etl_spark.engine.normalize import normalize_text, normalize_text_py
from etl_spark.engine.quarantine import read_quarantine
from etl_spark.gen.binlog import (
    GenConfig,
    gen_base,
    gen_binlog,
    gen_schema_ops,
    write_segments,
)
from etl_spark.gen.oracle import replay_oracle
from etl_spark.lake.merge import merge_into
from etl_spark.pipeline import bootstrap, final_state
from tests.test_streaming import make_cfg
from tests.util import assert_frames_equal


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _nodes(plan: str, name: str) -> int:
    # formatted explain lists each node twice (tree line + detail
    # header) — count detail headers only
    return len(re.findall(rf"^\(\d+\) {name}\b", plan, re.M))


def _corpus(n_events=100):
    g = GenConfig(
        n_convs=6, n_events=n_events, dup_rate=0.0, disorder_window=4,
        segment_size=n_events, schema_op_fracs=(0.2, 0.5, 0.8),
    )
    base, ops = gen_base(g), gen_schema_ops(g)
    return base, ops, gen_binlog(g, base, ops)


def test_parse_plan_is_one_pass(spark, tmp_path):
    """A batch spanning all four schema versions parses in one pass:
    one scan, no Union, no exchange (parse runs in the source's
    partitioning), one normalize UDF stage and exactly one from_json
    per version (CollapseProject must not inline a version's decode
    into each routed column)."""
    _, ops, binlog = _corpus(n_events=200)
    assert sorted(binlog["schema_version"].unique()) == [1, 2, 3, 4]
    seg_dir = str(tmp_path / "segments")
    write_segments(binlog, seg_dir)
    batch_df = spark.read.schema(TRANSCRIPTS.binlog_schema()).parquet(seg_dir)
    parsed = parse_batch(batch_df, ops, 4, [1, 2, 3, 4])

    p = _plan(parsed)
    assert _nodes(p, "Scan parquet") == 1
    assert "Union" not in p
    assert _nodes(p, "ArrowEvalPython") == 1
    assert _nodes(p, "Exchange") == 0
    decodes = Counter(re.findall(r"schema_version#\d+ = (\d+)\) THEN from_json\(", p))
    assert decodes == {"1": 1, "2": 1, "3": 1, "4": 1}
    assert p.count("from_json(") == 4


def _apply_frame(spark, tmp_path, binlog, **cfg_kw):
    """Write `binlog` as one parquet file and return (cfg, frame) for a
    direct apply_batch call on a bootstrapped table."""
    seg_dir = str(tmp_path / "segments")
    write_segments(binlog, seg_dir)
    cfg = make_cfg(tmp_path, **cfg_kw)
    return cfg, spark.read.schema(TRANSCRIPTS.binlog_schema()).parquet(seg_dir)


def test_batch_shuffles_once(spark, tmp_path, monkeypatch):
    """The resolved frame `apply_batch` hands to the MERGE carries the
    batch's only shuffle: one hash exchange on the key, fed by the
    resolve's partial aggregation — no round-robin or raw-payload
    exchange ahead of parse, even for a one-file batch."""
    from etl_spark.engine import apply as apply_mod

    base, ops, binlog = _corpus()
    cfg, frame = _apply_frame(spark, tmp_path, binlog)
    assert len(frame.inputFiles()) == 1
    bootstrap(spark, cfg, base)
    plans = []

    def spy(table, resolved, **kw):
        plans.append(_plan(resolved))
        return merge_into(table, resolved, **kw)

    monkeypatch.setattr(apply_mod, "merge_into", spy)
    apply_batch(spark, cfg, ops, frame, 0)

    (p,) = plans
    assert _nodes(p, "Exchange") == 1
    # the exchange's detail block: its input columns, then partitioning
    ((cols, how),) = re.findall(
        r"^\(\d+\) Exchange\nInput \[\d+\]: \[(.*)\]\nArguments: (.*)$", p, re.M
    )
    assert re.match(r"hashpartitioning\(conv_id#\d+, turn_idx#\d+, \d+\)", how)
    assert "payload" not in cols and "valueWithExtremumOrdering" in cols
    assert "roundrobin" not in p.lower()
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, binlog, ops))


def _with_versions(binlog, picks: slice, version) -> tuple[pd.DataFrame, set[int]]:
    """Set the schema_version of the `picks` slice of UPDATE events
    (the corpus has no duplicated LSNs)."""
    out = binlog.copy()
    out["schema_version"] = out["schema_version"].astype("Int32")
    upd = out.index[out["op"] == "U"].tolist()[picks]
    out.loc[upd, "schema_version"] = version
    return out, set(out.loc[upd, "lsn"].astype(int))


def write_offset_log(checkpoint_dir: str, batch_id: int, files: list[str]) -> None:
    """Record `files` as micro-batch `batch_id` in a file-source offset
    log (`<checkpoint_dir>/sources/0/<batch_id>`), the way a streaming
    query does."""
    d = os.path.join(checkpoint_dir, "sources", "0")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, str(batch_id)), "w") as fh:
        fh.write("v1\n")
        for f in files:
            fh.write(json.dumps({"path": f, "timestamp": 1, "batchId": batch_id}) + "\n")


@pytest.mark.parametrize("footer_stats", [True, False])
def test_null_schema_version_fails_loud(spark, tmp_path, footer_stats):
    """Without a quarantine_dir, NULL-version events must fail the
    batch — the parse filter would otherwise drop them silently — from
    footer stats (the frame's file is in the offset log) and from the
    aggregation (it is not) alike."""
    base, ops, binlog = _corpus()
    poisoned, _ = _with_versions(binlog, slice(3, 6), None)
    cfg, frame = _apply_frame(spark, tmp_path, poisoned)
    if footer_stats:
        write_offset_log(cfg.checkpoint_dir, 0, frame.inputFiles())
        files = _batch_files_from_checkpoint(cfg.checkpoint_dir, 0)
        assert _stats_from_footers(files)["vnull"] == 3
    bootstrap(spark, cfg, base)
    with pytest.raises(ValueError, match="3 of 100 events have NULL schema_version"):
        apply_batch(spark, cfg, ops, frame, 0)


def test_out_of_range_schema_version_fails_loud(spark, tmp_path):
    """A version past the schema-op track fails loud (and at once: the
    decode list is bounded by the known versions, never 1..2^31-1)."""
    base, ops, binlog = _corpus()
    poisoned, _ = _with_versions(binlog, slice(-1, None), 2**31 - 1)
    cfg, frame = _apply_frame(spark, tmp_path, poisoned)
    bootstrap(spark, cfg, base)
    with pytest.raises(ValueError, match=r"range \[1, 2147483647\] exceeds"):
        apply_batch(spark, cfg, ops, frame, 0)


def test_poison_versions_quarantine(spark, tmp_path):
    """With a quarantine_dir, NULL and 2^31-1 versions go to the DLQ and
    the rest of the batch applies: state equals the oracle over the
    valid events."""
    base, ops, binlog = _corpus()
    poisoned, null_lsns = _with_versions(binlog, slice(3, 6), None)
    poisoned, big_lsns = _with_versions(poisoned, slice(-1, None), 2**31 - 1)
    cfg, frame = _apply_frame(spark, tmp_path, poisoned, quarantine_dir=str(tmp_path / "dlq"))
    bootstrap(spark, cfg, base)
    apply_batch(spark, cfg, ops, frame, 0)

    bad = null_lsns | big_lsns
    assert len(bad) == 4
    valid = binlog[~binlog["lsn"].isin(bad)]
    assert_frames_equal(final_state(spark, cfg), replay_oracle(base, valid, ops))
    dlq = read_quarantine(spark, cfg.quarantine_dir).toPandas()
    assert set(dlq["lsn"].astype(int)) == bad
    assert set(dlq["q_reason"]) == {"unknown_schema_version"}


def test_normalize_udf_matches_python(spark):
    """The Arrow pandas UDF and the oracle's `normalize_text_py` agree
    on seeded random strings over every `str.isspace()` code point,
    combining marks and Hangul jamo, plus empty, all-whitespace and
    NULL values."""
    spaces = [chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()]
    assert len(spaces) == 29
    # combining acute/diaeresis/cedilla, leading and trailing jamo,
    # precomposed forms, a CJK ideograph and an astral emoji
    marks = ["\u0301", "\u0308", "\u0327", "\u1100", "\u1161", "\u11a8", "\u00e9", "\uac00"]
    alphabet = spaces + marks + list("aeZ0.") + ["\u4e2d", "\U0001f600"]
    rng = random.Random(7)
    values = [None, "", " ", "".join(spaces), "cafe\u0301", "\u1100\u1161\u11a8"]
    values += ["".join(rng.choices(alphabet, k=rng.randint(0, 24))) for _ in range(600)]

    pdf = pd.DataFrame({"i": range(len(values)), "s": values})
    got = (
        spark.createDataFrame(pdf, "i long, s string")
        .select("i", normalize_text(F.col("s")).alias("n"))
        .toPandas()
        .sort_values("i")["n"]
        .tolist()
    )
    exp = [normalize_text_py(v) for v in values]
    assert got == exp
    assert exp[:6] == [None, "", "", "", "caf\u00e9", "\uac01"]
