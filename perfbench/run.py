"""CDC replay benchmark: a seeded corpus, one Spark session at
local[4], the engine driven through its public API and checked
against the sequential oracle.

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of stdout is one JSON
object {correct, attempted, failed, metrics}: with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Everything the run writes (corpora and oracle states cached per seed,
tables, the Spark event log, the per-run log `runs.jsonl`) stays under
perfbench/.work. perfbench/README.md describes the workloads and
metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from layers import STREAM_PHASES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

PARALLELISM = 4
NUM_BUCKETS = 32
N_EVENTS = 45_000
SEGMENT_SIZE = 15_000
PATCH_RATE = 0.3
LOOKUPS = 5
SCANS_MAX = 3

# max_files_per_trigger: the whole backlog in one micro-batch, or one
# micro-batch per segment
WORKLOADS = {"replay_bulk": 64, "replay_steady": 1}

# CPU seconds rather than wall seconds: on a shared 4-core host the
# wall time of the same replay drifts by 20-50% between runs while its
# CPU time drifts by 5-15% (perfbench/README.md); the wall figures are
# per-layer metrics of the traced run and lines of runs.jsonl
END_TO_END = {
    "setup_s": "s",
    "replay_cpu_s": "s",
    "events_per_cpu_s": "events/cpu-s",
}

PER_LAYER = {
    "host.noise_probe_s": "s",
    "host.peak_rss_mb": "MB",
    "wall.replay_s": "s",
    "wall.events_per_s": "events/s",
    "wall.batch_latency_p50_s": "s",
    **{f"stream.{k}_ms": "ms" for k in STREAM_PHASES},
    "stream.batches": "count",
    "apply.batch_s": "s",
    "apply.self_s": "s",
    "apply.evolve_s": "s",
    "apply.spark_jobs_per_batch": "count",
    "merge.s": "s",
    "merge.task_s": "s",
    "merge.cpu_s": "s",
    "merge.gc_s": "s",
    "merge.shuffle_write_mb": "MB",
    "merge.spill_mb": "MB",
    "merge.output_mb": "MB",
    "merge.output_files": "count",
    "merge.write_stage_tasks": "count",
    "normalize.udf_s": "s",
    "lineage.write_s": "s",
    "lineage.drain_wait_s": "s",
    "table.manifest_loads_per_batch": "count",
    "table.manifest_load_s": "s",
    "table.files_live": "count",
    "table.scan_s": "s",
    "table.scan_task_s": "s",
    "table.scan_input_mb": "MB",
    "changes.s": "s",
    "changes.jobs": "count",
    "changes.task_s": "s",
    "changes.input_mb": "MB",
    "lookup.p50_s": "s",
    "compact.s": "s",
    "compact.scan_after_s": "s",
    "compact.files_before": "count",
    "compact.files_after": "count",
    "compact.output_mb": "MB",
    "resolve.patch_fold_task_s": "s",
    "merge.cow_rewrite_mb": "MB",
    "scaling.bulk_1_to_4": "ratio",
    "trace.trigger_coverage": "ratio",
    "trace.addbatch_coverage": "ratio",
    "trace.overhead_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def busy_loop_s(n: int = 20_000_000) -> float:
    """Host noise probe: a pure-Python loop that takes ~1.1-1.4 s on a
    quiet host and ~2 s or more during a hypervisor steal window."""
    t = time.perf_counter()
    i = 0
    while i < n:
        i += 1
    return time.perf_counter() - t


# ---------------------------------------------------------------- corpus

def corpus(seed: int, n_events: int, segment_size: int, patch_rate: float):
    """Seeded binlog segments + base image through the engine's own
    corpus cache; returns (segments dir, base parquet, schema ops)."""
    from etl_spark.jobs.replay import ensure_corpus

    return ensure_corpus(
        os.path.join(WORK, "corpus"), seed, n_events, segment_size,
        patch_rate=patch_rate, gen="driver",
    )


def prepare(seed: int, n_events: int, segment_size: int, rates, ready: str) -> None:
    """Child process: generate each corpus (creating the file `ready`
    once the first exists) and the sequential oracle's final state for
    it, cached next to the corpus."""
    import pandas as pd

    from etl_spark.gen.oracle import replay_oracle

    for i, pr in enumerate(rates):
        seg_dir, base_path, ops = corpus(seed, n_events, segment_size, pr)
        if i == 0:
            open(ready, "w").close()
        root = os.path.dirname(seg_dir)
        meta_path = os.path.join(root, "perfbench_oracle.json")
        if os.path.exists(meta_path):
            continue
        base = pd.read_parquet(base_path)
        binlog = pd.read_parquet(seg_dir)
        exp = replay_oracle(base, binlog, ops)
        tmp = os.path.join(root, "perfbench_oracle.parquet.tmp")
        exp.to_parquet(
            tmp, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.replace(tmp, os.path.join(root, "perfbench_oracle.parquet"))
        meta = {
            "rows": len(exp),
            "base_rows": len(base),
            "distinct_events": int(binlog["lsn"].nunique()),
        }
        with open(meta_path + ".tmp", "w") as fh:
            json.dump(meta, fh)
        os.replace(meta_path + ".tmp", meta_path)


# ------------------------------------------------------------------ bench

class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.mft = WORKLOADS[args.workload]
        self.attempted = 0
        self.failed = 0
        self.info: dict = {"workload": args.workload, "seed": args.seed}
        self.run_dir = os.path.join(WORK, "run")
        self.spark = None
        self.progress = None
        self.tracer = None

    # ---- bookkeeping
    def op(self, name: str, fn, *a, **kw):
        """Run one operation; an exception counts as a failed operation.
        Returns (result, wall seconds)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn(*a, **kw)
        except Exception:
            self.failed += 1
            log(f"operation {name} failed:\n{traceback.format_exc()}")
            return None, time.perf_counter() - t
        return out, time.perf_counter() - t

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check {name} FAILED {detail}")

    # ---- session
    def start_session(self, parallelism: int, event_log: bool) -> None:
        from etl_spark.session import get_spark
        from layers import ProgressLog

        conf = {
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # the engine's GC choice, plus no JVM files outside the checkout
            # (-XX:-UsePerfData: no /tmp/hsperfdata_<user> entry)
            "spark.driver.extraJavaOptions": (
                "-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir="
                + os.path.join(WORK, "tmp")
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            elog = os.path.join(WORK, "eventlog")
            shutil.rmtree(elog, ignore_errors=True)
            os.makedirs(elog)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + elog,
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(
            "perfbench", parallelism=parallelism, shuffle_partitions=parallelism,
            extra_conf=conf,
        )
        self.progress = ProgressLog()
        self.spark.streams.addListener(self.progress)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # ---- tables
    def cfg(self, name: str, mft: int, **kw):
        from etl_spark.config import EngineConfig

        d = os.path.join(self.run_dir, name)
        shutil.rmtree(d, ignore_errors=True)
        return EngineConfig(
            table_root=os.path.join(d, "tbl"),
            manifest_dir=os.path.join(d, "manifest"),
            checkpoint_dir=os.path.join(d, "ckpt"),
            num_buckets=NUM_BUCKETS,
            max_files_per_trigger=mft,
            **kw,
        )

    def bootstrap(self, name: str, base, mft: int, **cfg_kw):
        from etl_spark.pipeline import bootstrap

        cfg = self.cfg(name, mft, **cfg_kw)
        self.op("bootstrap", bootstrap, self.spark, cfg, base)
        return cfg

    def clone(self, src, name: str, mft: int):
        """A fresh table holding the bootstrapped state of `src` (a file
        copy: manifests address data files relative to the table root)."""
        cfg = self.cfg(name, mft)
        shutil.copytree(src.table_root, cfg.table_root)
        return cfg

    # ---- correctness gate
    @staticmethod
    def state_checksum(df):
        """(rows, sum of crc32 over each row's sorted columns cast to
        string, columns): the `jobs.replay` state checksum."""
        from pyspark.sql import functions as F

        canon = F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in sorted(df.columns)]
        )
        r = df.agg(F.count("*").alias("n"), F.sum(F.crc32(canon)).alias("s")).collect()[0]
        return int(r["n"]), int(r["s"] or 0), sorted(df.columns)

    def expectations(self, seg_dir: str) -> dict:
        """Oracle state checksum and the seeded lookup keys' checksums,
        computed once per corpus with the engine side's expression."""
        from pyspark.sql import functions as F

        root = os.path.dirname(seg_dir)
        path = os.path.join(root, "perfbench_expect.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        with open(os.path.join(root, "perfbench_oracle.json")) as fh:
            exp = json.load(fh)
        o = self.spark.read.parquet(os.path.join(root, "perfbench_oracle.parquet"))
        n, s, cols = self.state_checksum(o)
        if n != exp["rows"]:
            raise RuntimeError(f"oracle parquet has {n} rows, expected {exp['rows']}")
        convs = sorted(r[0] for r in o.select("conv_id").distinct().collect())
        keys = random.Random(self.args.seed).sample(convs, min(LOOKUPS, len(convs)))
        canon = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])
        per_key = {
            r["conv_id"]: [int(r["n"]), int(r["s"])]
            for r in o.filter(F.col("conv_id").isin(keys))
            .groupBy("conv_id")
            .agg(F.count("*").alias("n"), F.sum(F.crc32(canon)).alias("s"))
            .collect()
        }
        exp.update({"checksum": s, "columns": cols, "keys": keys, "per_key": per_key})
        with open(path + ".tmp", "w") as fh:
            json.dump(exp, fh)
        os.replace(path + ".tmp", path)
        return exp

    def scan(self, table, exp: dict, name: str = "scan") -> float:
        """Full live-row scan, checked against the oracle state."""
        got, dt = self.op(name, lambda: self.state_checksum(table.read()))
        if got is not None:
            self.check(name, got == (exp["rows"], exp["checksum"], exp["columns"]),
                       f"engine {got[:2]} vs oracle {(exp['rows'], exp['checksum'])}")
        return dt

    # ---- workload steps
    def replay_once(self, cfg, seg_dir: str, ops, exp: dict):
        """Drain the whole backlog into the bootstrapped table of `cfg`
        (closed loop, availableNow) and gate the lineage ledger.
        Returns (table, replay wall s, data-batch progress, pre-replay
        table version)."""
        from etl_spark.engine import lineage
        from etl_spark.lake.table import LakeTable
        from etl_spark.pipeline import replay

        from layers import tree_cpu_s

        v0 = LakeTable(self.spark, cfg.table_root).current_version()
        self.progress.reset()
        cpu0 = tree_cpu_s()
        _, replay_s = self.op("replay", replay, self.spark, cfg, seg_dir, ops)
        self.info.setdefault("replay_cpu_s", []).append(tree_cpu_s() - cpu0)
        commits = os.path.join(cfg.checkpoint_dir, "commits")
        n_batches = sum(1 for f in os.listdir(commits) if f.isdigit())
        batches = self.progress.data_batches(n_batches)
        self.check("progress.batches", len(batches) == n_batches,
                   f"{len(batches)} progress events for {n_batches} batches")
        inv, _ = self.op("lineage.check_invariants", lineage.check_invariants,
                         self.spark, cfg.manifest_dir)
        if inv is not None:
            self.check(
                "lineage.events_distinct",
                inv["events_distinct_total"] == exp["distinct_events"],
                f"{inv['events_distinct_total']} vs {exp['distinct_events']}",
            )
        return LakeTable(self.spark, cfg.table_root), replay_s, batches, v0

    def reads(self, table, v0: int, exp: dict) -> dict:
        """Post-replay read sequence: full scan, change feed over the
        replay's commits, seeded point lookups, compact(1), full scan.
        Under a tracer each step runs in its own phase."""
        from etl_spark.lake.changes import read_changes

        tr = self.tracer
        out: dict = {}

        def phase(name):
            if tr is None:
                return contextlib.nullcontext()
            tr.phase = name
            return tr.span(name)

        with phase("op.scan"):
            out["scan_s"] = self.scan(table, exp)

        def changes():
            return {
                r[0]: r[1]
                for r in read_changes(table, v0).groupBy("_change_type").count().collect()
            }

        with phase("op.changes"):
            counts, out["changes_s"] = self.op("changes", changes)
        if counts is not None:
            # inserts minus deletes over the window telescope to the
            # change in live rows since the bootstrap
            net = counts.get("insert", 0) - counts.get("delete", 0)
            self.check("changes.net_rows", net == exp["rows"] - exp["base_rows"],
                       f"{counts} vs {exp['rows']} - {exp['base_rows']}")

        lookups = []
        with phase("op.lookup"):
            for k in exp["keys"]:
                got, dt = self.op(
                    "lookup", lambda k=k: self.state_checksum(table.lookup([k]))
                )
                lookups.append(dt)
                if got is not None:
                    self.check("lookup", list(got[:2]) == exp["per_key"][k],
                               f"key {k}: {got[:2]} vs {exp['per_key'][k]}")
        out["lookup_p50_s"] = statistics.median(lookups)

        out["files_before"] = len(table.manifest().files)
        with phase("op.compact"):
            _, out["compact_s"] = self.op("compact", table.compact, 1)
        out["files_after"] = len(table.manifest().files)
        with phase("op.scan_compacted"):
            out["scan_compacted_s"] = self.scan(table, exp, "scan_compacted")
        if tr is not None:
            tr.phase = "idle"
        return out

    def _replay(self, cfg, seg_dir: str, ops) -> None:
        from etl_spark.pipeline import replay

        replay(self.spark, cfg, seg_dir, ops)

    # ---- the run
    def run(self) -> dict:
        import pandas as pd

        from etl_spark.lake.table import LakeTable

        args = self.args
        trace = bool(args.trace)
        self.info["noise_probe_s"] = busy_loop_s()
        log(f"noise probe {self.info['noise_probe_s']:.3f} s")
        shutil.rmtree(self.run_dir, ignore_errors=True)

        # ---- set-up: corpus + oracle in a child process (cached per
        # seed) while the session starts; bootstrap; one untimed replay
        # of the real backlog in one batch (plus every read path when
        # tracing), so JIT, codegen and the Python workers are warm
        # before anything is timed
        t_setup = time.perf_counter()
        rates = [0.0, PATCH_RATE] if trace and args.workload == "replay_bulk" else [0.0]
        ready = os.path.join(WORK, "tmp", "corpus_ready")
        if os.path.exists(ready):
            os.remove(ready)
        child = subprocess.Popen(
            [sys.executable, "-c",
             f"import run; run.prepare({args.seed}, {args.events}, "
             f"{args.segment_size}, {rates!r}, {ready!r})"],
            env=dict(os.environ, PYTHONPATH=os.pathsep.join([HERE, ROOT])),
            stdout=subprocess.DEVNULL,
        )
        try:
            self.start_session(PARALLELISM, event_log=trace)
            self.info["session_s"] = time.perf_counter() - t_setup
            while not os.path.exists(ready):
                if child.poll() is not None:
                    raise RuntimeError("corpus generation failed")
                time.sleep(0.2)
            seg_dir, base_path, ops = corpus(args.seed, args.events, args.segment_size, 0.0)
            base_cfg = self.bootstrap("base", pd.read_parquet(base_path), self.mft)
            wcfg = self.clone(base_cfg, "warmup", WORKLOADS["replay_bulk"])
            self.op("warmup.replay", self._replay, wcfg, seg_dir, ops)
        finally:
            child.wait()
        if child.returncode != 0:
            raise RuntimeError(f"oracle preparation exited with {child.returncode}")
        corpora = {}
        for pr in rates:
            cseg, cbase, cops = corpus(args.seed, args.events, args.segment_size, pr)
            corpora[pr] = (cseg, cbase, cops, self.expectations(cseg))
        exp = corpora[0.0][3]
        if trace:
            v0 = LakeTable(self.spark, base_cfg.table_root).current_version()
            self.reads(LakeTable(self.spark, wcfg.table_root), v0, exp)
        setup_s = time.perf_counter() - t_setup
        self.info["setup_s"] = setup_s

        if trace:
            return self.traced(corpora, base_cfg)

        # ---- timed: one replay from a copy of the bootstrapped table,
        # then a full scan, repeated until --seconds have passed (at
        # most SCANS_MAX; with the default --seconds the replay alone
        # is longer, so every run reports the first scan after a replay)
        cfg = self.clone(base_cfg, "main", self.mft)
        self.spark._jvm.System.gc()
        t_timed = time.perf_counter()
        table, replay_s, batches, _ = self.replay_once(cfg, seg_dir, ops, exp)
        scans = [self.scan(table, exp)]
        while len(scans) < SCANS_MAX and time.perf_counter() - t_timed < args.seconds:
            scans.append(self.scan(table, exp))
        latencies = [b["ms"]["triggerExecution"] / 1e3 for b in batches]
        self.info.update({"replay_s": replay_s, "latencies": latencies, "scans": scans})
        cpu_s = self.info["replay_cpu_s"][-1]
        return {
            "setup_s": setup_s,
            "replay_cpu_s": cpu_s,
            "events_per_cpu_s": exp["distinct_events"] / cpu_s,
        }

    def traced(self, corpora: dict, base_cfg) -> dict:
        """Replay A (untraced) and B (traced, UDF profiler on), the
        traced read sequence on B's table, and for replay_bulk the CoW
        patch replay and the local[1] baseline of A."""
        import pandas as pd

        from layers import RssSampler, Tracer, dump_spans, fold_event_log, layer_metrics

        seg_dir, _, ops, exp = corpora[0.0]
        rss = RssSampler().start()
        _, replay_a, batches_a, _ = self.replay_once(
            self.clone(base_cfg, "untraced", self.mft), seg_dir, ops, exp
        )
        wall = {
            "wall.replay_s": replay_a,
            "wall.events_per_s": exp["distinct_events"] / replay_a,
            "wall.batch_latency_p50_s": statistics.median(
                b["ms"]["triggerExecution"] / 1e3 for b in batches_a
            ),
        }
        bcfg = self.clone(base_cfg, "traced", self.mft)
        tr = self.tracer = Tracer(self.spark)
        tr.install()
        cow = PATCH_RATE in corpora
        try:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            tr.phase = "replay"
            table, replay_b, batches, v0 = self.replay_once(bcfg, seg_dir, ops, exp)
            tr.phase = "idle"
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
            perf = self.spark.profile.profiler_collector._perf_profile_results
            udf_s = sum(st.total_tt for st in perf.values())
            files_live = len(table.manifest().files)
            reads = self.reads(table, v0, exp)
            if cow:
                cseg, cbase, cops, cexp = corpora[PATCH_RATE]
                ccfg = self.bootstrap(
                    "cow", pd.read_parquet(cbase), 1, patch_ops=True, write_mode="cow"
                )
                tr.phase = "cow"
                ctable, *_ = self.replay_once(ccfg, cseg, cops, cexp)
                tr.phase = "idle"
                self.scan(ctable, cexp, "cow.scan")
        finally:
            tr.uninstall()
        peak_rss_mb = rss.stop()
        self.stop_session()
        ev = fold_event_log(os.path.join(WORK, "eventlog"))
        dump_spans(tr.spans, os.path.join(WORK, "spans.jsonl"))

        scaling = 0.0
        if self.args.workload == "replay_bulk":
            # single-threaded baseline of replay A: a local[1] session in
            # the same (warm) JVM, after the local[4] one has stopped
            self.start_session(1, event_log=False)
            self.op("warmup.replay", self._replay,
                    self.clone(base_cfg, "p1_warmup", self.mft), seg_dir, ops)
            _, t1, _, _ = self.replay_once(
                self.clone(base_cfg, "p1", self.mft), seg_dir, ops, exp
            )
            scaling = t1 / (PARALLELISM * replay_a)
            self.info["replay_p1_s"] = t1
        self.info.update({"replay_untraced_s": replay_a, "replay_traced_s": replay_b})
        return wall | layer_metrics(
            tr.spans, batches, ev, replay_s=replay_b, untraced_replay_s=replay_a,
            udf_s=udf_s, files_live=files_live, reads=reads, cow=cow,
            scaling=scaling, noise=self.info["noise_probe_s"], peak_rss_mb=peak_rss_mb,
        )


# -------------------------------------------------------------- processes

def shutdown_processes(timeout_s: float = 30.0) -> None:
    """Stop the JVM gateway and wait for every process this run
    started (the JVM, the Python worker daemon and its workers)."""
    from layers import process_tree

    pids = process_tree()
    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=timeout_s)
                except Exception:
                    proc.kill()
                    proc.wait()
    except Exception:
        log(f"gateway shutdown: {traceback.format_exc()}")
    deadline, sig = time.time() + timeout_s, signal.SIGTERM
    while True:
        alive = [p for p in pids if _running(p)]
        if not alive:
            return
        if time.time() > deadline:
            if sig == signal.SIGKILL:
                return
            deadline, sig = time.time() + 5, signal.SIGKILL
        for p in alive:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        time.sleep(0.2)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=5.0,
                   help="after the replay, full scans repeat until the timed "
                        "region has lasted this long (1 to 3 scans)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--events", type=int, default=N_EVENTS)
    p.add_argument("--segment-size", type=int, default=SEGMENT_SIZE)
    args = p.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import etl_spark.pipeline  # noqa: F401
    except ImportError as e:
        log(f"the engine package is not next to the benchmark: {e}")
        return 2
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_MASTER", None)

    bench = Bench(args)
    try:
        metrics = bench.run()
    except Exception:
        log(f"run aborted:\n{traceback.format_exc()}")
        metrics = None
    finally:
        bench.stop_session()
        shutdown_processes()
    if metrics is None:
        return 1
    names = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in names.items()},
    }
    bench.info.update({"trace": args.trace, "result": result})
    with open(os.path.join(WORK, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(bench.info) + "\n")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
