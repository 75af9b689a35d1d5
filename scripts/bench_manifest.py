"""Metadata-scaling micro-benchmark: per-commit manifest cost vs table
file count (BENCH.md §"manifest sharding" table).

The two-level file index's claim is that commit metadata cost is
O(touched buckets), independent of how many files the TABLE holds.
This bench exercises the real commit path (`Manifest.child` pointer
carry + `LakeTable._commit_manifest` group write + fsync'd tmp file
hard-linked into place as the snapshot) against synthetic file
inventories of growing size — pure driver-side metadata, no Spark
jobs, so the numbers isolate exactly the layer the round-3 VERDICT
named as the last 100x bottleneck (flat JSON manifest = O(table) per
commit).

For contrast it also measures what the SAME commit would cost under
the v1 flat layout (serialize the full file list), computed with the
identical json encoder.

Usage: python scripts/bench_manifest.py  -> one JSON line
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_spark.lake.table import DataFile, Field, LakeTable, Manifest, TableSchema

NUM_BUCKETS = 1024
FILES_PER_COMMIT = 8  # one touched bucket per commit


def _mk_schema() -> TableSchema:
    return TableSchema(1, [Field(1, "conv_id", "string"), Field(2, "turn_idx", "int"),
                           Field(3, "text", "string")])


def bench(total_files: int) -> dict:
    work = tempfile.mkdtemp(prefix="etl_mfbench_")
    table = LakeTable(None, work)  # metadata-only: no SparkSession needed
    os.makedirs(table._meta_dir)
    schema = _mk_schema()
    files = [
        DataFile(f"data/c0-seed/_bucket={i % NUM_BUCKETS}/part-{i:08d}.parquet",
                 i % NUM_BUCKETS, 1)
        for i in range(total_files)
    ]
    table._commit_manifest(Manifest(
        version=1, num_buckets=NUM_BUCKETS, key=["conv_id", "turn_idx"],
        bucket_by="conv_id", schema=schema, schemas={1: schema},
        committed_batches={}, parent=None, files=files,
    ))

    # steady-state: each commit appends FILES_PER_COMMIT files to ONE
    # bucket, manifest re-read from disk each time (as the engine does)
    walls, sizes = [], []
    cur = 1
    for i in range(20):
        t0 = time.perf_counter()
        parent = table.manifest(cur)
        b = i % NUM_BUCKETS
        group = parent.group(b) + [
            DataFile(f"data/c{cur+1}-x/_bucket={b}/part-{j}.parquet", b, 1)
            for j in range(FILES_PER_COMMIT)
        ]
        child = parent.child({b: group})
        table._commit_manifest(child)
        walls.append(time.perf_counter() - t0)
        sizes.append(
            os.path.getsize(table._manifest_path(child.version))
            + os.path.getsize(
                os.path.join(table._manifests_dir, child.bucket_ptrs[b])
            )
        )
        cur += 1

    # pruned read: load one bucket's group from a cold manifest
    t0 = time.perf_counter()
    mm = table.manifest(cur)
    _ = mm.files_for([0])
    pruned_read_ms = (time.perf_counter() - t0) * 1000

    # v1 contrast: the flat layout would serialize EVERY file per
    # commit. Materialize the lazy file list FIRST so the timed region
    # is pure encoding, not group-file IO (else v1 is overstated ~2x).
    all_files = mm.files
    t0 = time.perf_counter()
    flat_payload = json.dumps([f.to_json() for f in all_files])
    flat_ms = (time.perf_counter() - t0) * 1000

    shutil.rmtree(work, ignore_errors=True)
    return {
        "total_files": total_files,
        "commit_ms_median": round(statistics.median(walls) * 1000, 2),
        "commit_bytes_median": int(statistics.median(sizes)),
        "pruned_read_ms": round(pruned_read_ms, 2),
        "v1_flat_serialize_ms": round(flat_ms, 2),
        "v1_flat_bytes": len(flat_payload),
    }


def main() -> None:
    out = [bench(n) for n in (1_000, 10_000, 100_000)]
    print(json.dumps({"metric": "manifest_commit_cost", "rows": out}))


if __name__ == "__main__":
    main()
