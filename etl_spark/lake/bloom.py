"""Per-file Bloom filters for equality file skipping — the Iceberg
Puffin blob / Delta bloom-filter-index analog. Zone maps
(`DataFile.ranges`) prune files for RANGE predicates; hash-bucketed
keys are uniform across a bucket's files, so they never help a point
lookup inside a bucket, and unsorted columns give no useful
[min, max] either. A per-file Bloom filter over a column does:
`LakeTable.read(where_in={col: values})` drops every file whose filter
proves none of the probed values is present (false positives keep the
file — pruning is only ever an optimization, never the semantics).
`LakeTable.lookup(values)` is `read(where_in={bucket_by: values})`.

Like a Puffin blob, every filter is addressed by the FIELD ID of the
column it covers: the manifest records `DataFile.col_blooms[fid]`,
and the bucket key's filter is just the entry under its own field ID.

The reference has no file statistics of any kind (full scans per
query: /root/reference/src/pipeline/core/spark.py:87 reads whole
buckets); this module is new-engine surface for the 10^10-row point-
lookup path.

Why a BUCKET-KEY probe is sound under merge-on-read without the
zone-map bucket-granularity rule: range pruning can drop a file that
CONTAINS the key (holding its max-LSN image whose value is out of
range), resurrecting a stale in-range image — hence the single-commit
rule. Bloom pruning on the key only drops files that contain NO row
of any probed key, so a probed key's LSN contest sees exactly its
full row set; other keys' resolutions may run over partial file sets
but are filtered out by the equality predicate before anyone sees
them. Delete tombstones and patch deltas carry the key column, so
they are always in their file's filter. Any other column gives no
such completeness guarantee, so its probe follows the zone-map rule
(per-file only within single-commit buckets).

Hashing: classic double hashing (Kirsch-Mitzenmacher) over the JVM's
`xxhash64` — bit_i = (h1 + i*h2) mod m with h1 = xxhash64(v),
h2 = xxhash64(v, 1). Build and probe evaluate the SAME Spark
expression (`position_columns`), so the Python side never
re-implements the hash (a driver-side reimplementation drifting from
the JVM would silently prune wrong files — same discipline as
`_buckets_for_values`). Values are cast to the CURRENT field type
first: a post-widen probe (long literal) then hashes identically to a
pre-widen file's int column, and renames don't matter because the
value, not the name, is hashed.

Sidecar format: raw little-endian packed bit array of ceil(m/8)
bytes next to the data file, written executor-side tmp+rename. One
naming rule covers every column: `<file>.bloom<fid>-<m>-<k>`. The
manifest's `DataFile.col_blooms[fid]` records {path, m, k, t}. The
parameters are part of the FILENAME so two maintenance builders
racing with different (m, k) configs can never leave the manifest's
recorded parameters disagreeing with the bytes on disk (same-path
replacement would: k=7 positions probed against a k=5 bit pattern
"proves" present keys absent and silently drops rows) — each config
writes its own sidecar, the annotation commit points at the file its
own build wrote, and the loser's sidecars are orphans the vacuum
reclaims. Probing seeks to the k byte offsets instead of reading the
whole filter — O(k) byte reads per (file, value).
"""
from __future__ import annotations

import os
import uuid

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_K = 7
DEFAULT_BITS_PER_ROW = 10  # ~1% false-positive rate at k=7
MIN_BITS = 1 << 13  # 1 KiB sidecar floor
MAX_BITS = 1 << 23  # 1 MiB sidecar ceiling


def size_bits(max_rows: int, bits_per_row: int = DEFAULT_BITS_PER_ROW) -> int:
    """Filter width for the largest file in a build call (one width
    per call keeps the position job a single expression). Clamped so a
    tiny file still gets a useful filter and a huge one can't bloat
    the metadata path.

    Width is quantized UP to the next power of two: probing runs one
    position job per distinct (m, k, type) config across the probed
    files, so raw per-batch widths on a table whose commits carry
    diverse batch sizes would make point-lookup latency grow with
    commit-size diversity — quantization caps the distinct configs at
    log2(MAX/MIN) + 1 (= 11) table-wide, and rounding UP only lowers
    the false-positive rate. Mixed widths from older builds stay
    probeable (each file's meta records its own m)."""
    want = bits_per_row * max(1, max_rows)
    bits = MIN_BITS
    while bits < want and bits < MAX_BITS:
        bits <<= 1
    return bits


def position_columns(col: Column, m_bits: int, k: int) -> Column:
    """Array of the k bit positions for `col` — THE hash definition,
    evaluated JVM-side for both the build job and the probe job.
    Intermediate sums stay far below 2^63 (positions < 2^23, k <= 64),
    so ANSI overflow checking never trips."""
    h1 = F.pmod(F.xxhash64(col), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(col, F.lit(1)), F.lit(m_bits))
    return F.array(
        *[F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)]
    )


def sidecar_name(data_path: str, m_bits: int, k: int, fid: int) -> str:
    """Sidecar path for a data file's filter over field `fid` under a
    (m, k) config — the parameters ride the name (see module
    docstring), and the field id lets one data file carry one sidecar
    per bloomed column without collisions."""
    return f"{data_path}.bloom{int(fid)}-{m_bits}-{k}"


def pack_and_write_sidecars(
    positions: DataFrame, root: str, m_bits: int, k: int, fid: int,
) -> list[tuple[str, int]]:
    """Consume a distinct (_f: file URI, _p: bit position) frame and
    write one packed-bit sidecar per file, executor-side (tmp+rename so
    a concurrent probe never reads a partial filter; on an object
    store this helper would go through the FS client instead of
    open()). Returns [(data-file path relative to root, n_bits_set)].

    applyInPandas streams one file's positions per group — bounded by
    m_bits entries after the distinct — rather than collect_set-ing
    multi-megabyte arrays through a single row."""
    import numpy as np
    import pandas as pd

    n_bytes = (m_bits + 7) // 8

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        uri = pdf["_f"].iloc[0]
        abspath = uri[len("file:"):] if uri.startswith("file:") else uri
        pos = pdf["_p"].to_numpy(dtype=np.int64)
        bits = np.zeros(n_bytes, dtype=np.uint8)
        np.bitwise_or.at(
            bits, pos // 8, np.left_shift(1, (pos % 8).astype(np.uint8))
        )
        final = sidecar_name(abspath, m_bits, k, fid)
        tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as fh:
            fh.write(bits.tobytes())
        os.replace(tmp, final)
        rel = os.path.relpath(abspath, root)
        return pd.DataFrame({"path": [rel], "n": [len(pos)]})

    out = positions.groupBy("_f").applyInPandas(pack, "path string, n long")
    return [(r["path"], r["n"]) for r in out.collect()]


def probe_sidecar(path: str, positions_by_value: dict) -> bool:
    """True iff ANY probed value may be present: for some value, all k
    of its bit positions are set. Seeks to each needed byte instead of
    reading the filter body. An unreadable sidecar returns True (file
    stays unprunable — same failure posture as missing footer stats)."""
    try:
        with open(path, "rb") as fh:
            for positions in positions_by_value.values():
                hit = True
                for p in positions:
                    fh.seek(p // 8)
                    b = fh.read(1)
                    if not b:
                        # short sidecar (corruption): absence is no
                        # longer provable — keep the file
                        return True
                    if not (b[0] >> (p % 8)) & 1:
                        hit = False
                        break
                if hit:
                    return True
        return False
    except OSError:
        return True
