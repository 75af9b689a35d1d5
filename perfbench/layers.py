"""Out-of-engine instrumentation for the benchmark.

Everything here observes the engine from outside; no engine source
is changed:

- `ProgressLog`: a `StreamingQueryListener` keeping every micro-batch's
  query progress (`durationMs` per trigger phase, input rows).
- `Tracer`: wraps the engine's public entry points under the names the
  engine imports them by. Each wrapper records an in-memory span and
  sets a thread-local Spark job group `perfbench phase=.. layer=..
  batch=..`, so jobs started inside it (main thread or the background
  lineage thread) are attributed to that layer.
- `fold_event_log`: folds the uncompressed Spark event log's
  `SparkListenerTaskEnd` metrics by job group and stage.
- `RssSampler`: peak resident set of this process and its descendants
  (the driver JVM and the Python workers), sampled from /proc.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

# query-progress durationMs keys, by per-layer metric stem
STREAM_PHASES = {
    "latest_offset": "latestOffset",
    "get_batch": "getBatch",
    "query_planning": "queryPlanning",
    "add_batch": "addBatch",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
}

GROUP_RE = re.compile(r"^perfbench phase=(\S+) layer=(\S+) batch=(\S+)$")


class ProgressLog(StreamingQueryListener):
    """Collects streaming query progress events (delivered
    asynchronously on Spark's listener bus)."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.events.append(
                {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def reset(self) -> None:
        with self._lock:
            self.events = []

    def data_batches(self, expect: int, timeout_s: float = 15.0) -> list[dict]:
        """Progress of the batches that read input; waits for the
        listener bus to deliver `expect` of them."""
        deadline = time.time() + timeout_s
        while True:
            with self._lock:
                got = [e for e in self.events if e["rows"] > 0]
            if len(got) >= expect or time.time() > deadline:
                return got
            time.sleep(0.05)


class Span:
    __slots__ = ("name", "phase", "t0", "t1", "parent", "batch", "thread", "info")

    def __init__(self, name, phase, parent, batch, thread):
        self.name, self.phase, self.parent = name, phase, parent
        self.batch, self.thread = batch, thread
        self.t0 = self.t1 = time.perf_counter()
        self.info: dict = {}

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Span recorder + job-group tagger around the engine's entry
    points. `install()` patches module attributes; `uninstall()`
    restores them."""

    JOB_GROUP = "spark.jobGroup.id"

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.phase = "idle"
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def begin(self, name: str, batch=None) -> tuple[Span, str | None]:
        st = self._stack()
        parent = st[-1] if st else None
        if batch is None and parent is not None:
            batch = parent.batch
        sp = Span(name, self.phase, parent, batch, threading.current_thread().name)
        st.append(sp)
        prev = self.sc.getLocalProperty(self.JOB_GROUP)
        self.sc.setLocalProperty(
            self.JOB_GROUP,
            f"perfbench phase={self.phase} layer={name} "
            f"batch={'-' if batch is None else batch}",
        )
        sp.t0 = time.perf_counter()
        return sp, prev

    def end(self, sp: Span, prev: str | None) -> None:
        sp.t1 = time.perf_counter()
        self.sc.setLocalProperty(self.JOB_GROUP, prev)
        self._stack().pop()
        with self._lock:
            self.spans.append(sp)

    @contextlib.contextmanager
    def span(self, name: str, batch=None):
        sp, prev = self.begin(name, batch)
        try:
            yield sp
        finally:
            self.end(sp, prev)

    # -- patching ------------------------------------------------------
    def _wrap(self, owner, attr: str, name: str, batch_arg=None, on_exit=None):
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            batch = None
            if batch_arg is not None:
                pos, kw = batch_arg
                batch = kwargs.get(kw, args[pos] if len(args) > pos else None)
            sp, prev = tracer.begin(name, batch)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.end(sp, prev)
                if on_exit is not None:
                    on_exit(sp, args)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from etl_spark.engine import apply as apply_mod
        from etl_spark.engine import lineage as lineage_mod
        from etl_spark.engine import stream as stream_mod
        from etl_spark.lake.table import LakeTable

        # apply_batch(spark, cfg, ops, batch_df, batch_id, ...)
        self._wrap(stream_mod, "apply_batch", "apply_batch", batch_arg=(4, "batch_id"))
        self._wrap(apply_mod, "evolve_due_ops", "evolve_due_ops")
        self._wrap(apply_mod, "merge_into", "merge_into", on_exit=self._merge_files)
        self._wrap(apply_mod, "drain_pending", "drain_pending")
        self._wrap(stream_mod, "drain_pending", "drain_pending")
        # write_batch_manifest(spark, manifest_dir, table, resolved, batch_id, ...)
        self._wrap(
            lineage_mod, "write_batch_manifest", "lineage.write_batch_manifest",
            batch_arg=(4, "batch_id"),
        )
        for meth in ("manifest", "read", "lookup", "compact"):
            self._wrap(LakeTable, meth, f"LakeTable.{meth}")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _merge_files(self, sp: Span, args) -> None:
        # files the merge committed: the new snapshot's file set minus
        # the previous one (read through the unwrapped manifest, after
        # the span is closed so it costs the span nothing)
        from etl_spark.lake.table import LakeTable

        table = args[0]
        load = LakeTable.manifest
        load = getattr(load, "__wrapped__", load)
        try:
            m = load(table)
            prev = load(table, m.version - 1) if m.version > 0 else None
        except OSError:
            return
        old = {f.path for f in prev.files} if prev is not None else set()
        sp.info["files_added"] = sum(1 for f in m.files if f.path not in old)


def dump_spans(spans: list[Span], path: str) -> None:
    """Write the spans out, one JSON object a line, times relative to
    the first span."""
    t0 = min((s.t0 for s in spans), default=0.0)
    with open(path, "w") as fh:
        for s in sorted(spans, key=lambda s: s.t0):
            fh.write(json.dumps({
                "name": s.name, "phase": s.phase, "batch": s.batch,
                "thread": s.thread, "parent": s.parent.name if s.parent else None,
                "start_s": s.t0 - t0, "end_s": s.t1 - t0, **s.info,
            }) + "\n")


def parse_group(group: str | None):
    m = GROUP_RE.match(group or "")
    return m.groups() if m else (None, None, None)


def fold_event_log(log_dir: str) -> dict:
    """Fold the event log of the (stopped) application in `log_dir`.

    Returns {"jobs": {job_id: {...}}, "stages": {stage_id: {...}}}
    where each stage carries its job group's (phase, layer, batch),
    task count and summed task metrics."""
    # newest application log: a single file, or a rolling (v2) log
    # directory of events_<n>_<app> parts
    path = max(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    parts = [path]
    if os.path.isdir(path):
        parts = sorted(
            glob.glob(os.path.join(path, "events_*")),
            key=lambda f: int(os.path.basename(f).split("_")[1]),
        )
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(
            sid,
            {
                "group": (None, None, None), "job": None, "tasks": 0,
                "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_write_b": 0, "spill_b": 0, "input_b": 0,
                "output_b": 0,
            },
        )

    for part in parts:
        with open(part) as fh:
            lines = fh.readlines()
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = parse_group((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                jid = ev["Job ID"]
                jobs[jid] = {"group": g}
                for sid in ev.get("Stage IDs", []):
                    st = stage(sid)
                    if st["job"] is None:
                        st["job"], st["group"] = jid, g
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                st = stage(ev["Stage ID"])
                st["tasks"] += 1
                st["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                st["spill_b"] += tm.get("Disk Bytes Spilled", 0)
                st["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["input_b"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                st["output_b"] += (tm.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
    return {"jobs": jobs, "stages": stages}


def process_tree(root: int | None = None) -> set[int]:
    """Pids of every live descendant of `root` (default: this process)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [root or os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by this process and its live descendants."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in f[11:15])
    return total / tick


class RssSampler:
    """Peak summed RSS of this process and all its descendants."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_b = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree() | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_b = max(self.peak_b, self._tree_rss())
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_b = max(self.peak_b, self._tree_rss())
        return self.peak_b / 2**20


def layer_metrics(spans, batches, ev, *, replay_s, untraced_replay_s, udf_s,
                  files_live, reads, cow, scaling, noise, peak_rss_mb) -> dict:
    """Per-layer metrics of a traced run: `spans` from the Tracer,
    `batches` the traced replay's query progress, `ev` the folded event
    log, `reads` the traced read sequence's timings."""
    replay_spans = [s for s in spans if s.phase == "replay"]
    stages = ev["stages"].values()
    jobs = ev["jobs"]
    nb = max(1, len(batches))
    mb = 2**20

    def stage_sum(key, pred):
        return sum(s[key] for s in stages if pred(s["group"]))

    def span_sum(name, phase="replay"):
        return sum(s.dur for s in spans if s.name == name and s.phase == phase)

    is_merge = lambda g: g[0] == "replay" and g[1] == "merge_into"  # noqa: E731

    # apply_batch minus its direct children (same thread)
    children: dict[int, float] = {}
    for s in replay_spans:
        if s.parent is not None:
            children[id(s.parent)] = children.get(id(s.parent), 0.0) + s.dur
    apply_spans = [s for s in replay_spans if s.name == "apply_batch"]
    apply_self = sum(s.dur - children.get(id(s), 0.0) for s in apply_spans)

    # tasks of the write stage(s) of each batch's merge: the stage that
    # produced output bytes
    write_tasks = {}
    for s in stages:
        g = s["group"]
        if is_merge(g) and s["output_b"] > 0:
            write_tasks[g[2]] = max(write_tasks.get(g[2], 0), s["tasks"])

    def mean_ms(key):
        return sum(b["ms"].get(key, 0) for b in batches) / nb

    add_batch_s = sum(b["ms"].get("addBatch", 0) for b in batches) / 1e3
    trigger_s = sum(b["ms"].get("triggerExecution", 0) for b in batches) / 1e3

    out = {"host.noise_probe_s": noise, "host.peak_rss_mb": peak_rss_mb}
    for k, key in STREAM_PHASES.items():
        out[f"stream.{k}_ms"] = mean_ms(key)
    out["stream.batches"] = len(batches)
    out["apply.batch_s"] = sum(s.dur for s in apply_spans)
    out["apply.self_s"] = apply_self
    out["apply.evolve_s"] = span_sum("evolve_due_ops")
    out["apply.spark_jobs_per_batch"] = sum(
        1 for j in jobs.values() if j["group"][0] == "replay" and j["group"][2] != "-"
    ) / nb
    out["merge.s"] = span_sum("merge_into")
    out["merge.task_s"] = stage_sum("run_s", is_merge)
    out["merge.cpu_s"] = stage_sum("cpu_s", is_merge)
    out["merge.gc_s"] = stage_sum("gc_s", is_merge)
    out["merge.shuffle_write_mb"] = stage_sum("shuffle_write_b", is_merge) / mb
    out["merge.spill_mb"] = stage_sum("spill_b", is_merge) / mb
    out["merge.output_mb"] = stage_sum("output_b", is_merge) / mb
    out["merge.output_files"] = sum(
        s.info.get("files_added", 0) for s in replay_spans if s.name == "merge_into"
    )
    out["merge.write_stage_tasks"] = (
        statistics.median(write_tasks.values()) if write_tasks else 0
    )
    out["normalize.udf_s"] = udf_s
    out["lineage.write_s"] = span_sum("lineage.write_batch_manifest")
    out["lineage.drain_wait_s"] = span_sum("drain_pending")
    out["table.manifest_loads_per_batch"] = sum(
        1 for s in replay_spans if s.name == "LakeTable.manifest"
    ) / nb
    out["table.manifest_load_s"] = span_sum("LakeTable.manifest")
    out["table.files_live"] = files_live
    in_phase = lambda p: (lambda g: g[0] == p)  # noqa: E731
    out["table.scan_s"] = reads["scan_s"]
    out["table.scan_task_s"] = stage_sum("run_s", in_phase("op.scan"))
    out["table.scan_input_mb"] = stage_sum("input_b", in_phase("op.scan")) / mb
    out["changes.s"] = reads["changes_s"]
    out["changes.jobs"] = sum(1 for j in jobs.values() if j["group"][0] == "op.changes")
    out["changes.task_s"] = stage_sum("run_s", in_phase("op.changes"))
    out["changes.input_mb"] = stage_sum("input_b", in_phase("op.changes")) / mb
    out["lookup.p50_s"] = reads["lookup_p50_s"]
    out["compact.s"] = reads["compact_s"]
    out["compact.scan_after_s"] = reads["scan_compacted_s"]
    out["compact.files_before"] = reads["files_before"]
    out["compact.files_after"] = reads["files_after"]
    out["compact.output_mb"] = stage_sum("output_b", in_phase("op.compact")) / mb

    fold_s, cow_mb = 0.0, 0.0
    if cow:
        # per batch, the merge's first job materializes the persisted
        # resolved frame (parse, normalize, patch fold); the rest is the
        # CoW bucket rewrite
        first_job: dict[str, int] = {}
        for jid, j in jobs.items():
            g = j["group"]
            if g[0] == "cow" and g[1] == "merge_into":
                first_job[g[2]] = min(first_job.get(g[2], jid), jid)
        firsts = set(first_job.values())
        fold_s = sum(s["run_s"] for s in stages if s["job"] in firsts)
        cow_mb = stage_sum(
            "output_b", lambda g: g[0] == "cow" and g[1] == "merge_into"
        ) / mb
    out["resolve.patch_fold_task_s"] = fold_s
    out["merge.cow_rewrite_mb"] = cow_mb
    out["scaling.bulk_1_to_4"] = scaling
    out["trace.trigger_coverage"] = trigger_s / replay_s if replay_s else 0.0
    out["trace.addbatch_coverage"] = (
        out["apply.batch_s"] / add_batch_s if add_batch_s else 0.0
    )
    out["trace.overhead_ratio"] = replay_s / untraced_replay_s
    return out
