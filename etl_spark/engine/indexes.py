"""Streaming maintenance of persisted derived state: keep the
exact-dedup / near-dup / ANN indexes (lake/dedup_index.py,
lake/neardup_index.py, lake/ann_index.py) and materialized aggregates
(lake/mv.py) fresh FROM INSIDE the CDC replay loop, instead of as
separate maintenance jobs someone has to schedule.

Each index/MV refresh is already an incremental change-feed fold with
its own cursor (indexes add ledgered MERGEs; MVs a two-phase
state-file swap), so wiring them into the apply loop needs no new
machinery — after a micro-batch's MERGE commits, the refresh folds
exactly that batch's changes into the derived state
(O(batch + touched index buckets) / O(changed rows) per batch, the
same cost class as the MERGE itself). Crash anywhere in the window
and the contract composes: a crash before the refresh leaves the
cursor behind — the next batch's refresh covers both versions; a
replayed batch's MERGE no-ops through the table ledger, so the
refresh sees no new version and no-ops through its cursor.
`index_refresh_every_batches` amortizes the per-batch fixed cost
(a few jobs per index) when batches are small.

Index tables are CREATED by the caller (create_index /
create_neardup_index / create_ann_index — the ANN centroids and
near-dup signature params are design-time choices stamped into the
index manifests); the stream only maintains them. Supported source
shape: a single key column castable to long (the documents/embeddings
shape) — the transcripts flagship's composite (conv_id, turn_idx) key
has no per-row long id for index rows to reference, so its indexes
remain external maintenance. MVs have no such constraint (the
signed-delta fold never references row ids), so mv_specs apply to any
table shape, composite keys included (routed golden in
tests/test_route.py).

The reference has nothing comparable (its sink is append-only JDBC);
this composes the repo's streaming engine with its index family.
"""

from __future__ import annotations

from dataclasses import dataclass

from etl_spark.lake.table import LakeTable

KINDS = ("dedup", "neardup", "ann")


@dataclass(frozen=True)
class IndexSpec:
    """One stream-maintained index: which kind, where it lives, and
    which source columns feed its derivation. `n`/`num_hashes`/`bands`
    apply to kind="neardup" only (and must match the params stamped
    into the index manifest — a mismatch raises at refresh time)."""

    kind: str  # dedup | neardup | ann
    root: str  # index lake-table root
    id_col: str  # source's long key column
    value_col: str  # text (dedup/neardup) or embedding (ann) column
    n: int = 3
    num_hashes: int = 8
    bands: int = 4

    def __post_init__(self):
        if self.kind not in KINDS:
            raise ValueError(
                f"unknown index kind {self.kind!r}; expected one of {KINDS}"
            )


@dataclass(frozen=True)
class MVSpec:
    """One stream-maintained materialized aggregate (lake/mv.py): the
    state directory, the GROUP BY dims, and the additive metrics as
    (output_name, long SQL expr) pairs — a tuple, not a dict, so the
    spec stays immutable/hashable like the config that carries it."""

    mv_dir: str
    dims: tuple  # of column names
    sums: tuple = ()  # of (name, sql_expr)

    def __post_init__(self):
        # misconfigs must fail at CONFIG-BUILD time, not K committed
        # batches into the stream: dims="role" is iterable (would
        # group by columns 'r','o','l','e'), and sums=(("n","e"))
        # without the trailing comma is a 2-tuple of strings
        if isinstance(self.dims, str) or not all(
            isinstance(d, str) for d in self.dims
        ) or not self.dims:
            raise ValueError(
                f"MVSpec.dims must be a non-empty tuple of column "
                f"names, got {self.dims!r}"
            )
        if isinstance(self.sums, str) or not all(
            isinstance(p, (tuple, list)) and len(p) == 2
            and all(isinstance(x, str) for x in p)
            for p in self.sums
        ):
            raise ValueError(
                f"MVSpec.sums must be (name, sql_expr) pairs — note "
                f"the trailing comma for a single pair — got "
                f"{self.sums!r}"
            )


def _refuse_shared(values, what: str, fix: str) -> None:
    vals = list(values)
    if len(set(vals)) != len(vals):
        dupes = sorted({v for v in vals if vals.count(v) > 1})
        raise ValueError(f"{what} {dupes}: {fix}")


def validate_disjoint_derived_state(cfgs) -> None:
    """Refuse derived-state dirs shared ACROSS configs, between the
    index and MV namespaces, or with a target table root: two writers
    in one directory (concurrent routed applies, or one config's index,
    MV and table commits) interleave commits / state-file sweeps into
    a plausible-looking but garbage derived state with a valid cursor
    and no error anywhere. Called once at stream start by run_replay
    and run_replay_routed — the per-call refusals inside
    refresh_indexes/refresh_mvs only see one namespace of one config.
    Each table root enters the checked set once: whether routes may
    share a target table is not a derived-state question."""
    cfgs = list(cfgs)
    _refuse_shared(
        [
            p
            for cfg in cfgs
            for p in (
                [s.root for s in getattr(cfg, "index_specs", ())]
                + [s.mv_dir for s in getattr(cfg, "mv_specs", ())]
            )
        ]
        + sorted({cfg.table_root for cfg in cfgs}),
        "derived-state dirs are shared across route configs, "
        "namespaces or table roots",
        "each index root and MV dir must be disjoint from every other "
        "one and from every target table root",
    )


def refresh_mvs(table: LakeTable, specs) -> list[dict]:
    """Bring every spec'd materialized aggregate up to `table`'s
    current version — one incremental signed-delta fold each (full
    recompute on first refresh or rollback-in-window, per lake/mv.py).
    Same main-thread placement and crash composition as
    refresh_indexes."""
    from etl_spark.lake import mv as _mv

    _refuse_shared(
        (s.mv_dir for s in specs),
        "mv_specs share a state dir",
        "one MV directory holds one aggregate — give each spec its "
        "own mv_dir",
    )
    return [
        {
            "mv_dir": s.mv_dir,
            **_mv.refresh(table, s.mv_dir, list(s.dims), dict(s.sums)),
        }
        for s in specs
    ]


def refresh_indexes(spark, table: LakeTable, specs) -> list[dict]:
    """Bring every spec'd index up to `table`'s current version (one
    incremental change-feed fold each; see the index modules for the
    full/incremental/rollback contract). Runs in the apply loop's MAIN
    thread: refreshes commit versions on the INDEX tables only, so
    they serialize naturally with each other and can never race the
    target table's merges."""
    from etl_spark.lake import ann_index, dedup_index, neardup_index

    _refuse_shared(
        (s.root for s in specs),
        "index_specs share a root",
        "one index table can hold one derivation — give each spec "
        "its own root",
    )
    out = []
    for s in specs:
        idx = LakeTable(spark, s.root)
        if s.kind == "dedup":
            r = dedup_index.refresh_index(
                table, idx, id_col=s.id_col, text_col=s.value_col
            )
        elif s.kind == "neardup":
            r = neardup_index.refresh_neardup_index(
                table, idx, id_col=s.id_col, text_col=s.value_col,
                n=s.n, num_hashes=s.num_hashes, bands=s.bands,
            )
        else:  # "ann" — IndexSpec rejects anything else at construction
            r = ann_index.refresh_ann_index(
                table, idx, id_col=s.id_col, vec_col=s.value_col
            )
        out.append({"kind": s.kind, "root": s.root, **r})
    return out


def refresh_derived(spark, cfg, table: LakeTable | None = None) -> None:
    """Bring every index and MV spec'd on `cfg` (an EngineConfig) up to
    its table's current version. `apply_batch` calls it on the refresh
    cadence; a bounded replay calls it once more at the end of the
    stream, so the batches after the last cadence point are folded
    too. A no-op when nothing is spec'd, and a cursor no-op when the
    derived state is already current."""
    if not (cfg.index_specs or cfg.mv_specs):
        return
    if table is None:
        table = LakeTable(spark, cfg.table_root, branch=cfg.branch)
    if cfg.index_specs:
        refresh_indexes(spark, table, cfg.index_specs)
    if cfg.mv_specs:
        refresh_mvs(table, cfg.mv_specs)
