"""Change-data-feed read over the lake table's version history — the
lake does not just INGEST CDC, it can EMIT it downstream (the
Delta-CDF / Iceberg-changelog-scan counterpart for this format).

`read_changes(table, v_from, v_to)` returns one row per logical
change committed in versions (v_from, v_to]:

    <current logical columns> + _change_type + _commit_version
                              + _change_lsn

with `_change_type` ∈ insert | update_preimage | update_postimage |
delete. Delete and pre-image rows carry the OLD row's column values
(the tombstone itself stores null payloads); insert/post-image rows
carry the new values and the new LSN.

Scale design (10^10-row table, 10^10-event history):
- Each commit's diff is bounded by that commit's FOOTPRINT, not the
  table: the manifests pin exact file lists, so the changed buckets
  are (files added ∪ files removed) — the same buckets the MERGE that
  created the commit touched — and both sides of the diff scan only
  those buckets' files (bucket pruning, same path the MERGE reads).
- Per commit the classification is ONE per-bucket equi-join on the
  table key; change rows are derived in a single pass over the join
  via an array-of-structs + filter + explode (no N filtered re-scans
  of the join for the N change types).
- Carried-over rows (a CoW bucket rewrite copies untouched neighbors
  of a hot key) classify as unchanged through the LSN guard — equal
  `_lsn` on both sides emits nothing — so compaction and skew-split
  rewrites produce EMPTY feeds, as they must (verified in tests).
- Schema evolution is handled by reading BOTH sides under the newer
  manifest's field-ID mapping (`LakeTable._read_files` maps any
  historical schema_id forward), so a feed spanning an add/rename/
  widen commit still yields rows in one consistent schema.
- Consumers should read bounded version windows (the union plan grows
  with commit count); the checkpoint-style pattern is to persist
  `table.current_version()` after each consumed window, exactly like
  the engine's own batch ledger.

The reference has no change feed (its sink is append-only JDBC,
/root/reference/src/pipeline/core/client_clickhouse.py); this is the
downstream half of the CDC story the north rule's ingest half implies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from etl_spark.lake.table import (
    SYS_DELETED,
    SYS_LSN,
    LakeTable,
    absent_column_expr,
    spark_type,
)

CHANGE_TYPE = "_change_type"
COMMIT_VERSION = "_commit_version"
CHANGE_LSN = "_change_lsn"

INSERT = "insert"
UPDATE_PRE = "update_preimage"
UPDATE_POST = "update_postimage"
DELETE = "delete"


def _commit_changes(
    table: LakeTable, v: int, include_pre_images: bool,
    _manifest=None,
) -> DataFrame | None:
    """Diff version v against v-1, restricted to the buckets v touched;
    None when the commit changed no data files — or when the commit is
    a self-declared maintenance reorganization (compaction, bucket
    evolution: version-stamped `maintenance_commit` prop), whose file
    churn is 100% carried-over rows. The LSN guard would classify all
    of them as unchanged anyway; the marker saves the full two-sided
    diff scan, which otherwise makes the feed's cost grow with
    maintenance frequency instead of change volume."""
    mf = _manifest or table.manifest
    m_new = mf(v)
    if m_new.props.get("maintenance_commit") == v:
        return None
    is_erase = m_new.props.get("erase_commit") == v
    m_old = mf(v - 1)
    # touched-bucket discovery is pure POINTER comparison: a bucket's
    # group pointer changes iff the commit touched it (group files are
    # immutable and uniquely named), so the diff costs O(num_buckets)
    # string compares with zero group loads for carried-over buckets
    buckets = {
        b
        for b in m_new.buckets() | m_old.buckets()
        if m_new.bucket_ptrs.get(b) != m_old.bucket_ptrs.get(b)
    }
    if not buckets:
        return None

    def side(m_side, alias: str) -> DataFrame:
        # both sides read under m_new's schema and write mode
        df = table._scan(m_new, m_side.files_for(buckets))
        non_key = [c for c in df.columns if c not in m_new.key]
        return df.select(
            *m_new.key, F.struct(*[F.col(c) for c in non_key]).alias(alias)
        )

    o = side(m_old, "_o")
    n = side(m_new, "_n")
    j = o.join(n, list(m_new.key), "full_outer")

    def live(s: str):
        return F.col(s).isNotNull() & ~F.coalesce(
            F.col(f"{s}.{SYS_DELETED}"), F.lit(False)
        )
    o_live, n_live = live("_o"), live("_n")
    # a row CHANGED in this commit iff the new side exists and carries a
    # strictly newer LSN (carried-over rows in a CoW bucket rewrite and
    # compaction copies have equal LSNs → no emission)
    newer = F.col("_n").isNotNull() & (
        F.col("_o").isNull() | (F.col(f"_n.{SYS_LSN}") > F.col(f"_o.{SYS_LSN}"))
    )

    fields = [f.name for f in m_new.schema.fields]
    non_key = [c for c in fields if c not in m_new.key]

    def change(cond, ctype: str, src: str, lsn):
        # one candidate struct per change type; null when not applicable
        return F.when(
            cond,
            F.struct(
                *[F.col(f"{src}.{c}").alias(c) for c in non_key],
                F.lit(ctype).alias(CHANGE_TYPE),
                lsn.cast("long").alias(CHANGE_LSN),
            ),
        )

    n_lsn, o_lsn = F.col(f"_n.{SYS_LSN}"), F.col(f"_o.{SYS_LSN}")
    candidates = [
        # first live appearance of the key (fresh insert or a
        # resurrection over a tombstone)
        change(~o_live & n_live & newer, INSERT, "_n", n_lsn),
        change(o_live & n_live & newer, UPDATE_POST, "_n", n_lsn),
        # pre-image/delete carry the OLD values (tombstone payloads are
        # null); the delete's LSN is the tombstone's (the change event),
        # falling back to the old row's if the row was physically
        # dropped rather than tombstoned. Erase commits
        # (`LakeTable.erase_where`) waive the `newer` guard: they
        # tombstone while KEEPING the row's own LSN — so future
        # higher-LSN events stay applicable — and that equal-LSN
        # live->dead transition must still reach downstream as a
        # delete. Everywhere else the guard stands: a rollback commit
        # in the window stays silent (restored rows carry OLDER LSNs;
        # presenting them as new changes would corrupt consumers —
        # rollback() documents the required downstream resync).
        change(
            o_live & ~n_live & (newer | F.lit(is_erase)), DELETE, "_o",
            F.coalesce(n_lsn, o_lsn),
        ),
    ]
    if include_pre_images:
        candidates.insert(
            2, change(o_live & n_live & newer, UPDATE_PRE, "_o", o_lsn)
        )
    arr = F.filter(F.array(*candidates), lambda x: x.isNotNull())
    return (
        j.select(*m_new.key, F.explode(arr).alias("_ch"))
        .select(
            *m_new.key,
            *[F.col(f"_ch.{c}").alias(c) for c in non_key],
            F.col(f"_ch.{CHANGE_TYPE}").alias(CHANGE_TYPE),
            F.lit(v).alias(COMMIT_VERSION),
            F.col(f"_ch.{CHANGE_LSN}").alias(CHANGE_LSN),
        )
    )


def signed_deltas(changes: DataFrame, validate: bool = True) -> DataFrame:
    """Turn a change feed into signed delta rows for incremental
    (materialized-view) maintenance of ADDITIVE aggregates: inserts
    and update post-images get `_sign` = +1, deletes and update
    pre-images get `_sign` = -1. Any downstream
    `groupBy(dims).agg(sum(_sign), sum(_sign * metric))` applied on
    top of a base snapshot's aggregate then yields exactly the
    aggregate of the new snapshot — without rescanning the table.
    Requires the feed to have been read with
    `include_pre_images=True` (updates must subtract their old
    contribution); `validate=True` checks that with one small
    distinct-types aggregation and raises rather than corrupting
    counters — pass validate=False when the feed provenance is known
    to skip the extra scan.
    """
    if validate:
        types = [
            r[0] for r in changes.select(CHANGE_TYPE).distinct().collect()
        ]
        if UPDATE_POST in types and UPDATE_PRE not in types:
            raise ValueError(
                "feed has update post-images but no pre-images; read "
                "the feed with include_pre_images=True for delta "
                "maintenance"
            )
    return changes.withColumn(
        "_sign",
        F.when(
            F.col(CHANGE_TYPE).isin(INSERT, UPDATE_POST), F.lit(1)
        ).otherwise(F.lit(-1)),
    )


def read_changes(
    table: LakeTable,
    from_version,
    to_version=None,
    include_pre_images: bool = False,
    manifest_cache: dict | None = None,
) -> DataFrame:
    """All logical changes committed in versions (from_version,
    to_version] (to_version defaults to the current version), in the
    to_version logical schema plus (_change_type, _commit_version,
    _change_lsn). Either bound may be a datetime — resolved to the
    greatest snapshot committed at or before it (`version_at`, the
    as-of-timestamp form: "changes since yesterday 02:00").

    A window may span schema evolution: each commit's changes are
    emitted in that commit's own schema, then aligned onto the
    to_version schema BY FIELD ID before the union — rename-safe
    (a renamed column's history appears under its current name, not as
    two half-null columns) and widen-casting, with the field's initial
    default — or NULL — for columns that did not yet exist
    (`absent_column_expr`). The same field-ID mapping the table's
    read path uses for old data files (`_read_files`)."""
    import datetime as _dt

    if isinstance(from_version, _dt.datetime):
        from_version = table.version_at(from_version)
    if isinstance(to_version, _dt.datetime):
        to_version = table.version_at(to_version)
    to_version = (
        to_version if to_version is not None else table.current_version()
    )
    if to_version < from_version:
        raise ValueError(f"to_version {to_version} < from_version {from_version}")

    # one driver-side parse per manifest in the window (each pins the
    # FULL file list; re-parsing it ~3x per version — as m_new, as the
    # next commit's m_old, and again in align — is real driver cost at
    # large-table scale). A caller that already parsed some of the
    # window (e.g. an index refresh's rollback probe) shares its cache
    # via `manifest_cache` instead of re-parsing.
    _cache: dict[int, object] = (
        manifest_cache if manifest_cache is not None else {}
    )

    def mf(v: int):
        if v not in _cache:
            _cache[v] = table.manifest(v)
        return _cache[v]

    target = mf(to_version).schema

    def align(df: DataFrame, v: int) -> DataFrame:
        ws = mf(v).schema
        if ws.to_json() == target.to_json():
            return df
        written = ws.by_id()
        cols = []
        for fld in target.fields:
            w = written.get(fld.id)
            if w is None:  # column added after commit v: initial
                # default (or NULL) — same backfill as the read path
                cols.append(absent_column_expr(fld))
            else:
                c = F.col(w.name)
                if w.type != fld.type:  # widened since commit v
                    c = c.cast(spark_type(fld.type))
                cols.append(c.alias(fld.name))
        return df.select(*cols, CHANGE_TYPE, COMMIT_VERSION, CHANGE_LSN)

    parts = [
        align(d, v)
        for v in range(from_version + 1, to_version + 1)
        if (d := _commit_changes(table, v, include_pre_images, _manifest=mf))
        is not None
    ]
    if not parts:
        m = mf(to_version)
        empty = T.StructType(
            list(m.schema.struct())
            + [
                T.StructField(CHANGE_TYPE, T.StringType(), False),
                T.StructField(COMMIT_VERSION, T.LongType(), False),
                T.StructField(CHANGE_LSN, T.LongType(), True),
            ]
        )
        return table.spark.createDataFrame([], empty)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
