"""Deterministic seeded binlog generator (FIXTURES.md §§1-3).

Engine-independent (pandas/pyarrow only — the generator is the *mock
producer*, analogous to the reference's
tests/e2e/mock_data_producer.py:11-42, generalized from one golden
record to a full perturbed change log). Everything is a pure function
of the seed: no wall clock, no process entropy.

Perturbations (all seeded, FIXTURES.md §2):
- hot keys: conversation pick is Zipf-weighted -> a few conv_ids carry
  a large share of events (hot-key skew tests);
- multi-event keys: several U for one (conv_id, turn_idx), U-after-D,
  I-after-D;
- duplicates: `dup_rate` of events re-emitted later *within the same
  segment* with identical (key, lsn) — at-least-once delivery;
- out-of-order: emit order locally shuffled within `disorder_window`
  positions, within a segment (bounded lag, watermark-safe);
- schema evolution: canonical op script at configurable LSN fractions.

Segment files are the unit the streaming file source tails; keeping
dups/disorder within a segment keeps per-batch LSN ranges disjoint,
which the lineage invariant checker asserts.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from etl_spark.cdc_schema import (
    SchemaOp,
    canonical_ops,
    payload_fields,
    version_at_lsn,
)

BASE_EPOCH = pd.Timestamp("2026-01-01T00:00:00Z").tz_localize(None)  # UTC wall time
# bump when generated bytes change for the same GenConfig (draw order,
# payload encoding): consumers caching corpora key on it
GEN_VERSION = 2
VOCAB = (
    "the a spark stream merge table row column key value batch window "
    "join filter sort agg data query fast slow big small order part "
    "customer line vector hash scan dup tool turn reply plan act"
).split()
ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "python", "browser", "none"]


@dataclass
class GenConfig:
    seed: int = 42
    n_convs: int = 10
    max_turns: int = 8  # base turns per conversation (upper bound)
    n_events: int = 200
    p_insert: float = 0.40
    p_update: float = 0.45
    p_delete: float = 0.15
    dup_rate: float = 0.05
    # fraction of UPDATE events emitted as partial-image patches
    # (op='P'): payload carries only a seeded non-empty subset of the
    # version's payload fields plus a `_changed` name mask (Debezium
    # partial row image). Patches only ever target live rows — the
    # generator draws them from the same live set as U, so 'P' never
    # lands between a key's D and its next I.
    patch_rate: float = 0.0
    disorder_window: int = 8
    segment_size: int = 50
    zipf_alpha: float = 1.2
    messy_text: bool = True  # inject whitespace/NFD mess into event text
    # fractions of n_events where the canonical schema ops land; empty -> no evolution
    schema_op_fracs: tuple = field(default_factory=tuple)


def _text(rng: np.random.Generator, lo: int = 5, hi: int = 40) -> str:
    n = int(rng.integers(lo, hi))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _text_pool(rng: np.random.Generator, size: int, messy: bool) -> list[str]:
    """Pre-generated distinct texts; per-row text is a vectorized pool
    pick (per-row scalar RNG calls are the generation bottleneck at
    bench scale: 10^6+ events)."""
    pool = [_text(rng) for _ in range(size)]
    if messy:
        pool = [_mess(rng, t) for t in pool]
    return pool


def _mess(rng: np.random.Generator, s: str) -> str:
    """Denormalize: random double spaces / tabs / NFD 'é' — the
    normalization UDF must map it back to canonical form."""
    toks = s.split()
    out = []
    for t in toks:
        out.append(t)
        r = rng.random()
        if r < 0.1:
            out.append("")  # double space
        elif r < 0.15:
            out[-1] = t + "\t"
    if rng.random() < 0.3:
        out.append("café")  # NFD é -> NFC 'café'
    return "  ".join(out) + ("  " if rng.random() < 0.3 else "")


def payload_templates(
    ops: list, versions: list[int]
) -> tuple[dict[int, list[tuple[str, str]]], dict[int, list[str]]]:
    """Per-version payload JSON templates: {version: [(json-key prefix,
    value kind)]} plus {version: [json-quoted field names]}. Kinds map
    stable field ids to value pools (role/text/tool/lang/ts_num/ts_iso;
    unknown added columns null-backfill). Shared by the driver-side
    and Spark-distributed generators so the payload encoding has one
    definition."""
    tmpl: dict[int, list[tuple[str, str]]] = {}
    names_json: dict[int, list[str]] = {}
    for v in versions:
        fields = payload_fields(ops, v)
        parts = []
        for f in fields:
            base_name = {3: "role", 4: "text", 5: "tool", 6: "ts"}.get(f.id, f.name)
            if f.id == 6:
                kind = "ts_iso" if f.type == "string" else "ts_num"
            elif base_name in ("role", "text", "tool", "lang"):
                kind = base_name
            else:
                kind = "null"  # unknown added column -> null backfill
            parts.append((json.dumps(f.name) + ": ", kind))
        tmpl[v] = parts
        names_json[v] = [json.dumps(f.name) for f in fields]
    return tmpl, names_json


def gen_base(cfg: GenConfig) -> pd.DataFrame:
    """Initial transcripts state (already in normalized text form).
    Fully vectorized (numpy draws + pool texts) so multi-100k-row base
    states generate in seconds."""
    rng = np.random.default_rng(cfg.seed)
    n_turns = rng.integers(1, cfg.max_turns + 1, size=cfg.n_convs)
    total = int(n_turns.sum())
    conv_idx = np.repeat(np.arange(cfg.n_convs), n_turns)
    turn = np.concatenate([np.arange(k) for k in n_turns]) if total else np.array([], dtype=int)
    jitter = rng.integers(0, 2, size=total)
    role_idx = (turn + jitter) % 3
    pool = _text_pool(rng, min(max(64, total), 20000), messy=False)
    text_idx = rng.integers(0, len(pool), size=total)
    tool_idx = rng.integers(0, len(TOOLS), size=total)
    epoch0 = int((BASE_EPOCH - pd.Timestamp(0)).total_seconds())
    df = pd.DataFrame(
        {
            "conv_id": [f"conv-{i:08d}" for i in conv_idx],
            "turn_idx": turn.astype("int32"),
            "role": [ROLES[r] for r in role_idx],
            "text": [pool[i] for i in text_idx],
            "tool": [
                TOOLS[ti] if ROLES[r] == "tool" else None
                for r, ti in zip(role_idx, tool_idx)
            ],
            "ts": (epoch0 + turn).astype("int64"),
        }
    )
    return df


def gen_schema_ops(cfg: GenConfig) -> list[SchemaOp]:
    return canonical_ops(
        [max(1, int(f * cfg.n_events)) for f in cfg.schema_op_fracs]
    )


def gen_binlog(
    cfg: GenConfig, base: pd.DataFrame, ops: list[SchemaOp]
) -> pd.DataFrame:
    """Emit-ordered change events. Columns =
    `SourceSpec.binlog_schema()`; `ts` inside the payload JSON (long
    epoch-sec pre-widen, ISO string post-widen).

    Vectorized assembly (round-4): the only genuinely sequential state
    is the per-conversation live-turn simulation (I/U/D legality), so
    the hot loop does ONLY that — payload fields per schema version
    are memoized (they were recomputed per event: 35% of generation
    time), payload JSON is template concatenation over PRE-ESCAPED
    value pools instead of per-event dict+json.dumps, the ISO
    timestamp column is one vectorized strftime, and the emit-order
    perturbation (dups + bounded disorder) permutes INDEX arrays, with
    the final frame gathered by one fancy-index per column. ~12x over
    the round-3 per-event loop at bench scale (8M events: ~4 min ->
    ~20 s), same FIXTURES.md §2 semantics and still a pure function of
    the seed (draw order differs from round 3, so corpora cached by
    the old generator are invalidated via GEN_VERSION)."""
    rng = np.random.default_rng(cfg.seed + 1)
    convs = sorted(base["conv_id"].unique().tolist())
    # live-turn mirror (list + position map for O(1) random pick and
    # swap-pop removal — keeps generation O(n_events) at bench scale)
    live: dict[str, list[int]] = {c: [] for c in convs}
    live_pos: dict[str, dict[int, int]] = {c: {} for c in convs}
    for c, t in zip(base["conv_id"].tolist(), base["turn_idx"].tolist()):
        live_pos[c][int(t)] = len(live[c])
        live[c].append(int(t))
    next_turn = {c: (max(v) + 1 if v else 0) for c, v in live.items()}
    # Zipf-ish conversation weights (hot keys); conv picks pre-drawn
    # vectorized (per-event choice with p= is O(n_convs) each)
    w = 1.0 / np.arange(1, len(convs) + 1) ** cfg.zipf_alpha
    w /= w.sum()
    conv_picks = rng.choice(len(convs), size=cfg.n_events, p=w)
    op_draws = rng.random(cfg.n_events)
    role_picks = rng.integers(0, 3, size=cfg.n_events)
    tool_picks = rng.integers(0, len(TOOLS), size=cfg.n_events)
    lang_picks = rng.integers(0, 3, size=cfg.n_events)
    pool = _text_pool(
        rng, min(max(64, cfg.n_events), 20000), messy=cfg.messy_text
    )
    text_picks = rng.integers(0, len(pool), size=cfg.n_events)
    patch_draws = rng.random(cfg.n_events)
    # per-event field-subset selector for patches: bit i keeps payload
    # field i; drawn over a wide range so any field count is covered
    patch_bits = rng.integers(1, 1 << 16, size=cfg.n_events)

    pick_u = rng.random(cfg.n_events)  # one live-pick draw per event

    n = cfg.n_events
    epoch0 = int((BASE_EPOCH - pd.Timestamp(0)).total_seconds())

    # schema version per lsn, vectorized (|ops| is tiny)
    versions = np.full(n, 1, dtype="int32")  # BASE_VERSION
    for op_ in sorted(ops, key=lambda o: o.lsn):
        versions[op_.lsn - 1 :] = op_.version
    distinct_versions = sorted(set(versions.tolist()))

    # per-version payload template: (json key prefix, value kind) per
    # field, memoized ONCE — round 3 recomputed payload_fields per
    # event (35% of generation). Kinds map stable field ids to the
    # pre-escaped value pools below.
    LANGS_J = [json.dumps(x) for x in ("en", "es", "zh")]
    ROLES_J = [json.dumps(x) for x in ROLES]
    TOOLS_J = [json.dumps(x) for x in TOOLS]
    pool_json = [json.dumps(t) for t in pool]
    ts_num_json = None  # '"ts": <epoch long>' pre-widen
    ts_iso_json = None  # '"ts": "<ISO>"' post-widen
    tmpl, names_json = payload_templates(ops, distinct_versions)
    for v in distinct_versions:
        parts = tmpl[v]
        if any(k == "ts_num" for _, k in parts) and ts_num_json is None:
            ts_num_json = (epoch0 + 10_000 + 1 + np.arange(n)).astype(str).tolist()
        if any(k == "ts_iso" for _, k in parts) and ts_iso_json is None:
            iso = (
                BASE_EPOCH + pd.to_timedelta(10_000 + 1 + np.arange(n), unit="s")
            ).strftime("%Y-%m-%d %H:%M:%S")
            ts_iso_json = ['"' + s + '"' for s in iso]

    # hot loop: ONLY the sequential live-set simulation + template
    # concatenation (plain-list indexing beats numpy scalar access)
    conv_l = conv_picks.tolist()
    opd_l = op_draws.tolist()
    role_l = role_picks.tolist()
    tool_l = tool_picks.tolist()
    lang_l = lang_picks.tolist()
    text_l = text_picks.tolist()
    patchd_l = patch_draws.tolist()
    bits_l = patch_bits.tolist()
    pick_l = pick_u.tolist()
    p_ins, p_cum = cfg.p_insert, cfg.p_insert + cfg.p_update
    patch_rate = cfg.patch_rate
    ops_out: list[str] = []
    turns_out: list[int] = []
    payloads_out: list = []
    for i in range(n):
        conv = convs[conv_l[i]]
        lst = live[conv]
        r = opd_l[i]
        if not lst or r < p_ins:
            op, turn = "I", next_turn[conv]
            next_turn[conv] += 1
            live_pos[conv][turn] = len(lst)
            lst.append(turn)
        elif r < p_cum:
            turn = lst[int(pick_l[i] * len(lst))]
            op = "P" if patch_rate and patchd_l[i] < patch_rate else "U"
        else:
            op = "D"
            turn = lst[int(pick_l[i] * len(lst))]
            pos = live_pos[conv]
            j = pos.pop(turn)
            last = lst.pop()
            if last != turn:
                lst[j] = last
                pos[last] = j
        ops_out.append(op)
        turns_out.append(turn)
        if op == "D":
            payloads_out.append(None)
            continue
        role_i = role_l[i]
        parts = tmpl[versions[i]]
        segs = []
        for prefix, kind in parts:
            if kind == "text":
                segs.append(prefix + pool_json[text_l[i]])
            elif kind == "role":
                segs.append(prefix + ROLES_J[role_i])
            elif kind == "tool":
                segs.append(prefix + (TOOLS_J[tool_l[i]] if role_i == 2 else "null"))
            elif kind == "ts_num":
                segs.append(prefix + ts_num_json[i])
            elif kind == "ts_iso":
                segs.append(prefix + ts_iso_json[i])
            elif kind == "lang":
                segs.append(prefix + LANGS_J[lang_l[i]])
            else:
                segs.append(prefix + "null")
        if op == "P":
            # partial image: keep a seeded non-empty subset of the
            # version's payload fields and name them in `_changed`
            bits = bits_l[i]
            keep = [k for k in range(len(parts)) if bits >> k & 1]
            if not keep:
                keep = [bits % len(parts)]
            nj = names_json[versions[i]]
            segs = [segs[k] for k in keep] + [
                '"_changed": [' + ", ".join(nj[k] for k in keep) + "]"
            ]
        payloads_out.append("{" + ", ".join(segs) + "}")

    # ---- perturb per segment: duplicates then bounded disorder, as
    # INDEX permutations (dups/disorder stay inside a segment — the
    # `_seg` tag carries the boundary to write_segments — so per-batch
    # LSN ranges stay disjoint). Columns gather once at the end.
    gather: list[np.ndarray] = []
    seg_ids: list[np.ndarray] = []
    for seg_id, s0 in enumerate(range(0, n, cfg.segment_size)):
        m_seg = min(cfg.segment_size, n - s0)
        n_dup = int(cfg.dup_rate * m_seg)
        if n_dup:
            # re-emit each chosen event at a later position; built via
            # one keyed sort (repeated list insertion is O(seg^2))
            idxs = rng.choice(m_seg, size=n_dup, replace=False)
            extra_idx, extra_keys = [], []
            for rank, i in enumerate(sorted(int(x) for x in idxs)):
                pos = int(rng.integers(i, m_seg))
                extra_idx.append(i)
                extra_keys.append(pos + 0.5 + 1e-9 * rank)
            keys = np.concatenate([np.arange(m_seg, dtype=float), np.array(extra_keys)])
            local = np.concatenate([np.arange(m_seg), np.array(extra_idx, dtype=int)])
            local = local[np.argsort(keys, kind="stable")]
        else:
            local = np.arange(m_seg)
        if cfg.disorder_window > 1:
            keys2 = np.arange(len(local)) + rng.uniform(0, cfg.disorder_window, len(local))
            local = local[np.argsort(keys2, kind="stable")]
        gather.append(local + s0)
        seg_ids.append(np.full(len(local), seg_id, dtype="int64"))

    gi = np.concatenate(gather) if gather else np.array([], dtype=int)
    conv_names = np.array(convs, dtype=object)
    df = pd.DataFrame(
        {
            "lsn": (gi + 1).astype("int64"),
            "op": np.array(ops_out, dtype=object)[gi],
            "conv_id": conv_names[conv_picks[gi]],
            "turn_idx": np.array(turns_out, dtype="int32")[gi],
            "op_ts": BASE_EPOCH + pd.to_timedelta(np.arange(len(gi)), unit="s"),
            "schema_version": versions[gi],
            "payload": np.array(payloads_out, dtype=object)[gi],
            "_seg": np.concatenate(seg_ids) if seg_ids else np.array([], dtype="int64"),
        }
    )
    return df[
        ["lsn", "op", "conv_id", "turn_idx", "op_ts", "schema_version", "payload", "_seg"]
    ]


def write_segments(
    binlog: pd.DataFrame, out_dir: str, segment_size: int | None = None
) -> list[str]:
    """LSN-segment parquet files the streaming file source tails.
    Splits on the generator's `_seg` tag when present (keeps dups and
    disorder inside one file), else slices by `segment_size`."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    if "_seg" in binlog.columns:
        groups = [(int(k), g.drop(columns="_seg")) for k, g in binlog.groupby("_seg")]
    else:
        assert segment_size, "segment_size required without _seg tags"
        groups = [
            (i // segment_size, binlog.iloc[i : i + segment_size])
            for i in range(0, len(binlog), segment_size)
        ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    for seg_id, seg in groups:
        p = os.path.join(out_dir, f"binlog-{seg_id:06d}.parquet")
        # micros on disk: Spark's vectorized reader rejects pandas'
        # default nanosecond timestamps. zstd over default snappy:
        # segment bytes are the serial-IO term of replay ingest, and
        # decompression parallelizes while the disk queue does not.
        tbl = pa.Table.from_pandas(seg, preserve_index=False)
        pq.write_table(tbl, p, coerce_timestamps="us", allow_truncated_timestamps=True,
                       row_group_size=20_000, compression="zstd", compression_level=3)
        paths.append(p)
    return paths
