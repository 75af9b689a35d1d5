"""Measure the per-batch cost of stream-maintained derived state
(engine/indexes.py): replay the SAME documents-shaped CDC stream twice
— once bare, once with dedup-index + near-dup-index + MV specs — and
report wall times plus the per-batch refresh breakdown, so the
"O(batch + touched index buckets) per batch" claim carries a number.

Usage: python scripts/bench_stream_indexes.py [n_docs] [n_segments]
(defaults 50000 x 10). Corpus is deterministic (splitmix64 over the
doc position — the repo's established seeding pattern), a mix of
exact dups (~12%), near-dups (~12%), and unique tails, text ~40-60
tokens so shingling has real work. Prints one JSON line.

Measurement discipline (NOTES.md): probe host steal first; run the
two arms back-to-back so they share a window; don't run other Spark
jobs concurrently.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_spark.config import EngineConfig  # noqa: E402
from etl_spark.engine.indexes import IndexSpec, MVSpec  # noqa: E402
from etl_spark.lake.dedup_index import create_index  # noqa: E402
from etl_spark.lake.neardup_index import create_neardup_index  # noqa: E402
from etl_spark.pipeline import bootstrap, replay  # noqa: E402
from etl_spark.session import get_spark  # noqa: E402

MASK = (1 << 64) - 1


def _mix(z: int) -> int:
    z = (z + 0x9E3779B97F4A7C15) & MASK
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
    return z ^ (z >> 31)


WORDS = [f"tok{i:03d}" for i in range(500)]


def _text(i: int) -> str:
    r = _mix(i)
    kind = r % 100
    if kind < 12:  # exact dup family: one of 40 shared base texts
        seed = r % 40
    elif kind < 24:  # near-dup: 48 shared tokens + a unique tail pair
        seed = r % 40
        base = [WORDS[_mix(seed * 1000 + j) % len(WORDS)] for j in range(48)]
        return " ".join(base) + f" variant {i}"
    else:
        seed = i
    n = 40 + (_mix(seed) % 20)
    return " ".join(WORDS[_mix(seed * 1000 + j) % len(WORDS)] for j in range(n))


def _write_segments(spark, seg_dir: str, n_docs: int, n_segments: int):
    import glob

    os.makedirs(seg_dir)
    per = n_docs // n_segments
    # the last segment absorbs the remainder so every doc is written
    bounds = [s * per for s in range(n_segments)] + [n_docs]
    for s in range(n_segments):
        rows = [
            (i + 1, "U", i, None, 1, json.dumps({"text": _text(i)}))
            for i in range(bounds[s], bounds[s + 1])
        ]
        tmp = os.path.join(seg_dir, f"._tmp{s}")
        spark.createDataFrame(
            rows,
            "lsn long, op string, doc_id long, op_ts timestamp_ltz, "
            "schema_version int, payload string",
        ).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.rename(part, os.path.join(seg_dir, f"s{s:04d}.parquet"))
        shutil.rmtree(tmp)


def _specs(root: str):
    return (
        (
            IndexSpec("dedup", os.path.join(root, "didx"), "doc_id", "text"),
            IndexSpec("neardup", os.path.join(root, "ndidx"), "doc_id", "text"),
        ),
        (MVSpec(os.path.join(root, "mv"), ("text",), (("sum_ids", "doc_id"),)),),
    )


def _run(spark, work: str, seg: str, spec, tag: str, with_derived: bool,
         cadence: int = 1) -> float:
    root = os.path.join(work, tag)
    kw = {}
    if with_derived:
        kw["index_specs"], kw["mv_specs"] = _specs(root)
        kw["index_refresh_every_batches"] = cadence
        create_index(spark, os.path.join(root, "didx"), num_buckets=8)
        create_neardup_index(spark, os.path.join(root, "ndidx"), num_buckets=8)
    cfg = EngineConfig(
        table_root=os.path.join(root, "tbl"),
        manifest_dir=os.path.join(root, "manifest"),
        checkpoint_dir=os.path.join(root, "ckpt"),
        num_buckets=8,
        max_files_per_trigger=1,
        **kw,
    )
    bootstrap(spark, cfg, None, spec=spec)
    t = time.perf_counter()
    replay(spark, cfg, seg, ops=[], spec=spec)
    return time.perf_counter() - t


def _end_refresh(spark, work: str, bare_tag: str) -> float:
    """The nightly-maintenance baseline: one from-scratch refresh of
    the same three derived states over the bare run's final table."""
    from etl_spark.engine.indexes import refresh_indexes, refresh_mvs
    from etl_spark.lake.table import LakeTable

    root = os.path.join(work, "endref")
    idx_specs, mv_specs = _specs(root)
    create_index(spark, os.path.join(root, "didx"), num_buckets=8)
    create_neardup_index(spark, os.path.join(root, "ndidx"), num_buckets=8)
    table = LakeTable(spark, os.path.join(work, bare_tag, "tbl"))
    t = time.perf_counter()
    refresh_indexes(spark, table, idx_specs)
    refresh_mvs(table, mv_specs)
    return time.perf_counter() - t


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    n_segments = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    t = time.perf_counter()
    x = 0
    for i in range(20_000_000):
        x += i
    probe = time.perf_counter() - t

    from etl_spark.cdc_schema import SourceSpec

    docs = SourceSpec(
        "documents", (("doc_id", "long"), ("text", "string")), ("doc_id",), "doc_id"
    )
    work = tempfile.mkdtemp(prefix="etl_sidx_bench_")
    spark = get_spark("bench_stream_indexes")
    try:
        seg = os.path.join(work, "segments")
        _write_segments(spark, seg, n_docs, n_segments)
        bare = _run(spark, work, seg, docs, "bare", with_derived=False)
        end = _end_refresh(spark, work, "bare")
        derived = _run(spark, work, seg, docs, "derived", with_derived=True)
        # a cadence that divides n_segments keeps every refresh window
        # the same size (a bounded replay folds a shorter tail window
        # once at the end)
        cadence = max(2, n_segments // 2)
        while n_segments % cadence:
            cadence -= 1
        amortized = _run(
            spark, work, seg, docs, "amortized", with_derived=True,
            cadence=cadence,
        )
        print(json.dumps({
            "metric": "stream_derived_state_overhead",
            "n_docs": n_docs,
            "n_segments": n_segments,
            "probe_s": round(probe, 2),
            "bare_replay_s": round(bare, 2),
            "end_refresh_once_s": round(end, 2),
            "derived_replay_s": round(derived, 2),
            "amortized_replay_s": round(amortized, 2),
            "amortized_cadence": cadence,
            "overhead_s_per_batch": round((derived - bare) / n_segments, 3),
            "overhead_vs_end_refresh": round((derived - bare) / end, 2),
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
