"""Dataset-curation operators: deterministic train-val-test
splitting and token-budget shard packing over a documents table — the
two bookend operations of a training-data pipeline (what rows go into
the run, and how the survivors are physically laid out for the
trainer).

Scale design (100 TB corpus, 10^9+ docs):
- splitting is a PURE per-row function of (seed, key): a
  32-bit md5-prefix uniform compared against integer thresholds. No
  shuffle, no state, no RNG stream — the assignment is reproducible
  from the key alone, stable under any repartitioning or re-run, and
  exactly mirrorable in SQL (the repo's established md5 cross-engine
  pattern, e.g. dedup.simhash64's md5 mode). Spark's own
  df.sample/randomSplit are seed-deterministic only per partitioning,
  which makes splits silently unstable under AQE/repartition — the
  hash split is the production-correct tool. NULL keys have no
  identity to hash, so they fail LOUDLY (a row-level raise_error)
  instead of silently pooling into one split;
- shard packing needs a GLOBAL exclusive prefix sum of token counts in
  a deterministic key order. A bare `Window.orderBy(key)` with no
  partitionBy collapses the whole table into ONE task — the classic
  scale cliff — so `pack_shards` runs the textbook distributed prefix
  sum instead: key-range groups (cumsum within each group in
  parallel) + a tiny per-group totals frame whose own prefix sum
  provides each group's offset, broadcast back. Range bounds are
  REFINED iteratively from observed per-range row counts (each
  iteration is one small aggregate over a persisted 2-column
  projection), so a sparse key space with outliers — snowflake-style
  ids with timestamps in the high bits — still parallelizes instead
  of collapsing every real row into one range. Duplicate keys get
  IDENTICAL shard ids (the cumsum frame is RANGE-based: strictly
  smaller keys only), so the assignment is deterministic even when
  the key is not unique.

The reference has no curation surface (its pipeline forwards rows
as-is); these are engine extensions for the training-data tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

_U32 = 1 << 32
# internal working columns — underscored + prefixed so a caller
# column can only collide on purpose (and then we refuse, below)
_SZ, _GRP, _GOFF, _EXCL = "__ps_sz", "__ps_grp", "__ps_goff", "__ps_excl"


def hash_uniform(key: Column, seed: int) -> Column:
    """Deterministic uniform in [0, 2^32): the first 8 hex chars of
    md5(seed ':' key) as a long. Pure function of (seed, key) — the
    DuckDB mirror is CAST(('0x' || substr(md5(...),1,8)) AS BIGINT).
    A NULL key raises at row level (it has no identity: hashing it
    would silently pool every NULL into one split and drop them from
    every sample — eval contamination with no error anywhere)."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string")))
    u = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    return F.when(
        key.isNull(),
        F.raise_error(F.lit("hash_uniform: NULL key has no identity")).cast(
            "long"
        ),
    ).otherwise(u)


def _pct_threshold(pct: int) -> int:
    # integer threshold so both engines compare exactly (no float)
    return (pct * _U32) // 100


def hash_split(
    df: DataFrame, key_col: str, splits, seed: int, out_col: str = "split"
) -> DataFrame:
    """Assign every row to exactly one named split by integer-percent
    weights, e.g. (("train", 80), ("val", 10), ("test", 10)).
    Deterministic per key: a document can never migrate between train
    and test across re-runs or repartitionings — the property that
    makes the split auditable (train/eval contamination is checkable
    from keys alone, see operators/dedup.contamination_overlap)."""
    bad = [(n, w) for n, w in splits if not (isinstance(w, int) and 0 < w)]
    if bad:
        raise ValueError(f"split weights must be positive ints, got {bad}")
    total = sum(w for _, w in splits)
    if total != 100:
        raise ValueError(f"split weights must sum to 100, got {total}")
    u = hash_uniform(F.col(key_col), seed)
    expr = None
    cum = 0
    for name, w in splits[:-1]:
        cum += w
        cond = u < F.lit(_pct_threshold(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = splits[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def pack_shards(
    df: DataFrame,
    key_col: str,
    size_col: Column,
    shard_budget: int,
    n_groups: int | None = None,
    out_col: str = "shard_id",
    refine_rounds: int = 3,
) -> DataFrame:
    """Assign rows to contiguous shards of ~`shard_budget` total
    `size_col` (token counts, byte lengths), in deterministic
    ascending `key_col` order: shard_id = (exclusive running size)
    DIV budget, so a row that starts before a budget boundary belongs
    to the shard it starts in (shards overshoot by at most one row,
    like real shard writers). The cumsum frame is RANGE-based
    (strictly smaller keys), so duplicate keys share one exclusive
    sum and one shard id — deterministic without requiring unique
    keys (tied rows are indivisible: they land in the shard where
    their common start falls).

    Distributed prefix sum (no single-partition global window over
    the data): rows are grouped by key ranges; the exclusive cumsum
    runs per-group in parallel, and each group's global offset comes
    from the per-group totals frame (one row per range — bounded
    metadata), prefix-summed and broadcast back. Range bounds start
    uniform over [min, max] and are refined from observed per-range
    row counts, so sparse/outlier key spaces still parallelize.

    NOTE this is an EAGER operator: it runs a handful of bounded
    metadata jobs at call time (min/max + one small count aggregate
    per refinement round, all against a persisted 2-column
    projection of the input) before returning the lazy result. A NULL
    `key_col` raises ValueError in the first of those jobs."""
    if shard_budget <= 0:
        raise ValueError(f"shard_budget must be positive, got {shard_budget}")
    clash = {_SZ, _GRP, _GOFF, _EXCL} & set(df.columns)
    if clash:
        raise ValueError(
            f"pack_shards reserves columns {sorted(clash)}; rename them"
        )
    spark = df.sparkSession
    if n_groups is None:
        n_groups = int(spark.conf.get("spark.sql.shuffle.partitions"))
    k = F.col(key_col)

    # all metadata jobs run against this 2-column projection, read once
    slim = df.select(k.alias(key_col), size_col.cast("long").alias(_SZ)).persist()
    try:
        # min/max skip NULLs, so the NULL-key count rides the same job
        lo, hi, n_rows, n_keyed = slim.agg(
            F.min(key_col), F.max(key_col), F.count("*"), F.count(key_col)
        ).first()
        if n_rows != n_keyed:
            raise ValueError(
                f"pack_shards: {n_rows - n_keyed} rows have a NULL "
                f"{key_col!r}; a NULL key has no place in the key order"
            )
        if lo is None:
            return df.withColumn(out_col, F.lit(None).cast("long"))
        lo, hi = int(lo), int(hi)

        def uniform(a: int, b: int, parts: int) -> list[int]:
            g = max(1, -((a - b - 1) // parts))  # ceil((b-a+1)/parts)
            return list(range(a, b + 1, g))

        def grp_of(starts: list[int]) -> Column:
            if len(starts) == 1:
                return F.lit(0).cast("long")
            step = starts[1] - starts[0]
            if starts == list(range(starts[0], starts[-1] + 1, step)):
                return F.expr(
                    f"CAST({key_col} - {starts[0]} AS BIGINT) DIV {step}"
                )
            arr = F.array(*[F.lit(int(s)) for s in starts[1:]])
            return F.aggregate(
                arr,
                F.lit(0).cast("long"),
                lambda acc, b: acc + F.when(k >= b, 1).otherwise(0).cast("long"),
            )

        # refine row-heavy ranges: one tiny aggregate per round; a
        # range holding > 2x its fair share of rows (and spanning > 1
        # key) splits into its own fair-share count of sub-ranges.
        # Bounded at 8x the requested group count.
        starts = uniform(lo, hi, n_groups)
        total = None
        for _ in range(max(0, refine_rounds)):
            cnt = {
                r[_GRP]: r["n"]
                for r in slim.groupBy(grp_of(starts).alias(_GRP))
                .agg(F.count("*").alias("n"))
                .collect()
            }
            if total is None:
                total = sum(cnt.values())
            target = max(1, total // n_groups)
            new_starts: list[int] = []
            changed = False
            for i, s in enumerate(starts):
                e = (starts[i + 1] - 1) if i + 1 < len(starts) else hi
                c = cnt.get(i, 0)
                if c > 2 * target and e > s:
                    sub = uniform(s, e, min(-(-c // target), n_groups))
                    new_starts.extend(sub)
                    changed = changed or len(sub) > 1
                else:
                    new_starts.append(s)
            if not changed or len(new_starts) > 8 * n_groups:
                break
            starts = new_starts

        grp = grp_of(starts)
        rows = df.withColumn(_SZ, size_col.cast("long")).withColumn(_GRP, grp)
        # RANGE frame: the exclusive sum covers STRICTLY smaller keys,
        # so tied keys share one value — determinism without a
        # uniqueness requirement
        w_in = (
            Window.partitionBy(_GRP)
            .orderBy(key_col)
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        # per-range totals (one row per non-empty range — bounded
        # driver metadata, the same transfer class as merge.py's
        # per-bucket counts): collect them, prefix-sum driver-side,
        # and ship the offsets back as a literal broadcast frame, so
        # the returned plan is independent of the unpersisted slim
        # projection (one data-pass scan at action time, not two)
        totals = sorted(
            (r[_GRP], r["_gt"])
            for r in slim.groupBy(grp.alias(_GRP))
            .agg(F.sum(_SZ).alias("_gt"))
            .collect()
        )
        off_rows, acc = [], 0
        for g, gt in totals:
            off_rows.append((int(g), int(acc)))
            acc += int(gt)
        offsets = spark.createDataFrame(
            off_rows, f"{_GRP} long, {_GOFF} long"
        )
        excl = F.coalesce(F.sum(_SZ).over(w_in), F.lit(0)) + F.col(_GOFF)
        # integer DIV, not floor(double /): a double mantissa loses
        # exactness past 2^53, i.e. at petascale token totals —
        # exactly where this operator is supposed to still be correct
        return (
            rows.join(F.broadcast(offsets), _GRP)
            .withColumn(_EXCL, excl)
            .withColumn(out_col, F.expr(f"{_EXCL} DIV {int(shard_budget)}"))
            .drop(_SZ, _GRP, _GOFF, _EXCL)
        )
    finally:
        slim.unpersist()
