"""spark-submit entry point: bounded CDC replay of a binlog into the
lake table, parameterized by parallelism for scaling evidence.

Cluster form (north rule):
    spark-submit --py-files etl_spark.zip -m etl_spark.jobs.replay ...
Sandbox form (two "cluster sizes" = two local parallelism levels on
identical input):
    python -m etl_spark.jobs.replay --work-dir /tmp/b --n-events 200000 \
        --parallelism 8
    python -m etl_spark.jobs.replay --work-dir /tmp/b --n-events 200000 \
        --parallelism 32

The binlog segments and base state are generated once per (seed,
n-events) into `work-dir` and reused byte-identical across runs; each
run replays into a fresh table/checkpoint so parallelism is the only
variable. Output: one JSON line with wall times, events/sec, final
row count and an order-insensitive state checksum (must be identical
across parallelism levels — asserted by scripts/bench_scaling.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time

from pyspark.sql import functions as F


def ensure_corpus(
    work_dir: str,
    seed: int,
    n_events: int,
    segment_size: int,
    zipf_alpha: float = 1.2,
    patch_rate: float = 0.0,
    routes: int = 0,
    gen: str | None = None,
):
    """Generate (or reuse) the deterministic binlog corpus.
    `zipf_alpha` > ~2 makes a handful of conversations carry most of
    the stream (the hot-key skew corpus).
    `gen` (or $SPARK_GRAFT_GEN): "driver" (default — the vectorized
    single-process generator, byte-stable with existing caches) or
    "spark" (gen/binlog_spark.py — the distributed path for corpora
    bigger than one process; same family semantics, different seeded
    draw stream, so it caches under its own tag)."""
    from etl_spark.gen.binlog import (
        GenConfig, gen_base, gen_binlog, gen_schema_ops, write_segments,
    )

    from etl_spark.gen.binlog import GEN_VERSION

    gen = gen or os.environ.get("SPARK_GRAFT_GEN", "driver")
    if gen not in ("driver", "spark"):
        raise ValueError(f"unknown generator mode {gen!r}")
    # GEN_VERSION busts corpora cached by an older generator (same
    # config, different bytes — e.g. the round-4 vectorized draw order)
    tag = f"seed{seed}_n{n_events}_seg{segment_size}_g{GEN_VERSION}"
    if zipf_alpha != 1.2:
        tag += f"_z{zipf_alpha}"
    if patch_rate:
        tag += f"_pr{patch_rate}"
    if routes:
        tag += f"_r{routes}"
    if gen == "spark":
        tag += "_sgen"
    root = os.path.join(work_dir, f"corpus_{tag}")
    seg_dir = os.path.join(root, "segments")
    base_path = os.path.join(root, "base.parquet")
    g = GenConfig(
        seed=seed,
        n_convs=max(10, n_events // 10),
        max_turns=6,
        n_events=n_events,
        segment_size=segment_size,
        dup_rate=0.03,
        disorder_window=16,
        schema_op_fracs=(0.25, 0.5, 0.75),
        zipf_alpha=zipf_alpha,
        patch_rate=patch_rate,
    )
    if not os.path.exists(os.path.join(root, "_DONE")):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        base = gen_base(g)
        ops = gen_schema_ops(g)
        if gen == "spark":
            from pyspark.sql import SparkSession

            from etl_spark.gen.binlog_spark import gen_binlog_spark
            from etl_spark.session import get_spark

            # if no session exists yet, the corpus-gen one must NOT
            # leak into the caller: run() builds its own with the
            # benchmark's --parallelism, and getOrCreate would
            # silently reuse this all-core session instead (the
            # scaling levels would then measure identical sessions)
            pre = SparkSession.getActiveSession()
            sgen = get_spark("corpus_gen")
            gen_binlog_spark(sgen, g, base, ops, seg_dir, routes=routes)
            if pre is None:
                sgen.stop()
        else:
            binlog = gen_binlog(g, base, ops)
            if routes:
                # shared multi-entity log: a conversation's events all
                # carry one entity tag (route = conv index mod N), the
                # reference's topic-per-table shape over ONE global LSN
                binlog["entity"] = (
                    "e" + (binlog["conv_id"].str[5:].astype(int) % routes).astype(str)
                )
            write_segments(binlog, seg_dir)
        base.to_parquet(base_path, index=False)
        with open(os.path.join(root, "_DONE"), "w") as fh:
            fh.write(tag)
    from etl_spark.gen.binlog import gen_schema_ops as _gso  # stable ops

    return seg_dir, base_path, _gso(g)


def run(args) -> dict:
    import pandas as pd

    from etl_spark.config import EngineConfig
    from etl_spark.engine import lineage
    from etl_spark.lake.table import LakeTable
    from etl_spark.pipeline import bootstrap, replay
    from etl_spark.session import get_spark

    zipf = getattr(args, "zipf_alpha", 1.2)
    patch_rate = getattr(args, "patch_rate", 0.0)
    routes_n = getattr(args, "routes", 0)
    seg_dir, base_path, ops = ensure_corpus(
        args.work_dir, args.seed, args.n_events, args.segment_size, zipf,
        patch_rate, routes_n, gen=getattr(args, "gen_mode", None),
    )

    run_dir = os.path.join(args.work_dir, f"run_p{args.parallelism}")
    shutil.rmtree(run_dir, ignore_errors=True)
    cfg = EngineConfig(
        table_root=os.path.join(run_dir, "tbl"),
        manifest_dir=os.path.join(run_dir, "manifest"),
        checkpoint_dir=os.path.join(run_dir, "ckpt"),
        num_buckets=args.num_buckets,
        max_files_per_trigger=args.max_files_per_trigger,
        # partial-image corpora fold patches in the resolve; CoW
        # coalesces in the MERGE, MoR defers the fold to read
        patch_ops=bool(patch_rate),
        write_mode=(
            getattr(args, "write_mode", "auto")
            if getattr(args, "write_mode", "auto") != "auto"
            else ("cow" if patch_rate else "mor")
        ),
    )
    spark = get_spark(
        f"cdc_replay_p{args.parallelism}",
        parallelism=args.parallelism,
        shuffle_partitions=args.parallelism,
    )

    t_w = time.time()
    if getattr(args, "warmup", True):
        # one tiny replay through the identical code path first: JVM
        # JIT + whole-stage-codegen compilation + Python worker pool
        # startup are one-off per-process costs a long-lived cluster
        # job amortizes to zero; the timed run measures steady state.
        wseg, wbase, wops = ensure_corpus(args.work_dir, 7, 2000, 1000)
        wcfg = EngineConfig(
            table_root=os.path.join(run_dir, "warmup", "tbl"),
            manifest_dir=os.path.join(run_dir, "warmup", "manifest"),
            checkpoint_dir=os.path.join(run_dir, "warmup", "ckpt"),
            num_buckets=args.num_buckets,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        bootstrap(spark, wcfg, pd.read_parquet(wbase))
        replay(spark, wcfg, wseg, wops)
    t_warm = time.time() - t_w

    def _checksum(final):
        canon = F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in sorted(final.columns)]
        )
        row = final.agg(
            F.count("*").alias("rows"), F.sum(F.crc32(canon)).alias("checksum")
        ).collect()[0]
        return int(row["rows"]), int(row["checksum"] or 0)

    if routes_n:
        # shared-log routed replay: one streaming query, one
        # checkpoint, routes_n ledgered tables (reference's 18-topic
        # shape). The lineage gap check runs on the UNION of route
        # manifests — each entity's ledger sees a sparse slice of the
        # single global LSN space (engine/route.py docstring).
        from etl_spark.cdc_schema import TRANSCRIPTS
        from etl_spark.engine.route import run_replay_routed

        base = pd.read_parquet(base_path)
        ent_of = base["conv_id"].str[5:].astype(int) % routes_n
        routes = {}
        t0 = time.time()
        for i in range(routes_n):
            name = f"e{i}"
            rcfg = EngineConfig(
                table_root=os.path.join(run_dir, name, "tbl"),
                manifest_dir=os.path.join(run_dir, name, "manifest"),
                checkpoint_dir=os.path.join(run_dir, name, "ckpt"),
                num_buckets=args.num_buckets,
                max_files_per_trigger=args.max_files_per_trigger,
                # same patch/write-mode resolution as the single-table
                # path: without patch_ops a routed --patch-rate corpus
                # would parse op='P' partial images as FULL images
                # (uncarried fields nulled) — deterministically wrong
                # on both levels, invisible to the checksum assert
                patch_ops=bool(patch_rate),
                write_mode=(
                    getattr(args, "write_mode", "auto")
                    if getattr(args, "write_mode", "auto") != "auto"
                    else ("cow" if patch_rate else "mor")
                ),
            )
            bootstrap(spark, rcfg, base[ent_of == i])
            routes[name] = (rcfg, ops, TRANSCRIPTS)
        t_boot = time.time() - t0

        t1 = time.time()
        run_replay_routed(
            spark, seg_dir, routes,
            checkpoint_dir=os.path.join(run_dir, "ckpt_shared"),
            max_files_per_trigger=args.max_files_per_trigger,
        )
        t_replay = time.time() - t1

        entity_checksums = {}
        total_rows, total_sum = 0, 0
        for name, (rcfg, _, _) in sorted(routes.items()):
            n_rows, cks = _checksum(LakeTable(spark, rcfg.table_root).read())
            entity_checksums[name] = cks
            total_rows += n_rows
            total_sum += cks
        lin = lineage.check_invariants(
            spark, [rcfg.manifest_dir for rcfg, _, _ in routes.values()]
        )
        out = {
            "job": "cdc_replay_routed",
            "routes": routes_n,
            "parallelism": args.parallelism,
            "n_events": args.n_events,
            "events_distinct": lin["events_distinct_total"],
            "batches": lin["batches"],
            "warmup_s": round(t_warm, 2),
            "bootstrap_s": round(t_boot, 2),
            "replay_s": round(t_replay, 2),
            "events_per_sec": round(lin["events_distinct_total"] / t_replay, 1),
            "final_rows": total_rows,
            "state_checksum": total_sum,
            "entity_checksums": entity_checksums,
        }
        if args.stop_session:
            spark.stop()
        return out

    t0 = time.time()
    bootstrap(spark, cfg, pd.read_parquet(base_path))
    t_boot = time.time() - t0

    t1 = time.time()
    replay(spark, cfg, seg_dir, ops)
    t_replay = time.time() - t1

    table = LakeTable(spark, cfg.table_root)
    rows_n, cks = _checksum(table.read())
    lin = lineage.check_invariants(spark, cfg.manifest_dir)

    out = {
        "job": "cdc_replay",
        "parallelism": args.parallelism,
        "n_events": args.n_events,
        "events_distinct": lin["events_distinct_total"],
        "batches": lin["batches"],
        "warmup_s": round(t_warm, 2),
        "bootstrap_s": round(t_boot, 2),
        "replay_s": round(t_replay, 2),
        "events_per_sec": round(lin["events_distinct_total"] / t_replay, 1),
        "final_rows": rows_n,
        "state_checksum": cks,
    }
    if args.stop_session:
        spark.stop()
    return out


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--work-dir", required=True)
    p.add_argument("--n-events", type=int, default=200_000)
    p.add_argument("--segment-size", type=int, default=25_000)
    p.add_argument("--parallelism", type=int, default=32)
    p.add_argument("--num-buckets", type=int, default=32)
    p.add_argument("--max-files-per-trigger", type=int, default=4)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--zipf-alpha", type=float, default=1.2)
    p.add_argument("--write-mode", choices=["auto", "mor", "cow"], default="auto",
                   help="lake write mode; auto = mor for full-image "
                        "corpora, cow when --patch-rate > 0 (both modes "
                        "support patches; cow folds in the MERGE, mor "
                        "defers the fold to read/compaction)")
    p.add_argument("--patch-rate", type=float, default=0.0,
                   help="fraction of updates emitted as partial-image "
                        "op='P' patches (engine runs patch_ops + CoW)")
    p.add_argument("--gen-mode", choices=["driver", "spark"], default=None,
                   help="corpus generator: driver (vectorized "
                        "single-process, default) or spark "
                        "(distributed, gen/binlog_spark.py)")
    p.add_argument("--routes", type=int, default=0,
                   help="N>0: shared multi-entity log routed into N "
                        "tables through one streaming query "
                        "(engine.route); per-entity checksums reported")
    p.add_argument(
        "--stop-session", action=argparse.BooleanOptionalAction, default=True
    )
    p.add_argument("--no-warmup", dest="warmup", action="store_false", default=True)
    print(json.dumps(run(p.parse_args())))


if __name__ == "__main__":
    main()
