"""Per-layer instruments, attached from outside the program under test.

Nothing here changes ``pipeline_spark``: module functions are re-registered
through the public ``registry.module`` decorator with a timing wrapper,
py4j round-trips are counted by wrapping ``GatewayClient.send_command``,
Spark's own event log is folded per module span after the session stops,
streaming progress comes from a ``StreamingQueryListener`` and lakehouse
counts from walking the table directories.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from py4j.java_gateway import GatewayClient
from pyspark.sql.streaming import StreamingQueryListener

from pipeline_spark import registry

LAKE_STEPS = ("write", "merge", "update", "delete", "compact")
LAKE_FORMATS = ("delta", "iceberg")
LAKE_FIELDS = ("commits", "metadata_bytes", "data_files_written",
               "bytes_written_per_input_byte", "live_bytes_per_input_byte")
SPARK_FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "gc_s", "shuffle_write_mb", "shuffle_read_mb", "input_mb",
                "output_mb", "spill_mb", "busy_frac")
STREAM_FIELDS = ("batches", "empty_batches", "add_batch_ms_p50",
                 "planning_ms_p50", "commit_ms_p50", "jobs_per_batch",
                 "py4j_calls_per_batch", "state_rows", "state_mem_mb")
KIND_LAYER = {registry.KIND_SOURCE: "sources",
              registry.KIND_TRANSFORM: "operators",
              registry.KIND_SINK: "sinks"}


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in a fixed order."""
    names = ["config.parse_ms", "executor.self_s",
             "sources.build_s", "sources.py4j_calls",
             "operators.build_s", "operators.py4j_calls", "operators.eager_jobs",
             "sinks.s", "sinks.py4j_calls", "sinks.jobs"]
    names += [f"sinks.{f}.{s}_s" for f in LAKE_FORMATS for s in LAKE_STEPS]
    names += [f"lakehouse.{f}.{k}" for f in LAKE_FORMATS for k in LAKE_FIELDS]
    names += [f"streaming.{k}" for k in STREAM_FIELDS]
    names += ["streaming.sink_coverage",
              "functions.python_run_s", "functions.python_start_s",
              "functions.python_mb"]
    names += [f"spark.{k}" for k in SPARK_FIELDS]
    names += ["py4j.calls", "trace.wall_s", "trace.untraced_wall_s",
              "trace.overhead_frac", "trace.reconcile_frac"]
    return names


def unit_of(name: str) -> str:
    """The unit a per-layer metric is reported in, from its name."""
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "_per_input_byte", "_coverage")):
        return "ratio"
    return "count"


class Py4jCounter:
    """Counts every driver→JVM command while installed."""

    def __init__(self) -> None:
        self.calls = 0
        self._lock = threading.Lock()
        self._orig = None

    def install(self) -> None:
        orig = self._orig = GatewayClient.send_command
        counter = self

        def send_command(client, *args, **kwargs):
            with counter._lock:
                counter.calls += 1
            return orig(client, *args, **kwargs)

        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            GatewayClient.send_command = self._orig
            self._orig = None


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's progress report."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.started = 0
        self.terminated = 0
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        report = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(report)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1

    def drain(self, timeout_s: float = 10.0) -> list[dict]:
        """Wait until every started query reported termination, then
        hand over (and forget) the collected reports."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    break
            time.sleep(0.02)
        with self._lock:
            out, self.progress = self.progress, []
            self.started = self.terminated = 0
        return out


@dataclass
class Span:
    """One module call: registry kind, module name, its ``mode`` parameter."""

    kind: str
    mode: str
    module: str
    start: float
    end: float = 0.0
    py4j: int = 0


@dataclass
class Trace:
    """One traced iteration: its pipeline runs' time windows and spans."""

    windows: list[tuple[float, float]] = field(default_factory=list)
    wall_s: float = 0.0
    parse_s: float = 0.0
    spans: list[Span] = field(default_factory=list)
    py4j_calls: int = 0
    tag_calls: int = 0
    progress: list[dict] = field(default_factory=list)


class ModuleTracer:
    """Wraps every registered module while active (a context manager)."""

    def __init__(self, spark, counter: Py4jCounter) -> None:
        self.spark = spark
        self.counter = counter
        self.trace = Trace()
        self._saved: list[registry.ModuleSpec] = []

    def _wrap(self, spec: registry.ModuleSpec):
        sc = self.spark.sparkContext
        tracer = self

        def traced(ctx):
            mode = str(ctx.params.get("mode", "")).lower()
            span = Span(spec.kind, mode, spec.name, time.time())
            # the tag labels the module's jobs for anyone reading the event
            # log; folding uses the span's time window instead, because
            # streaming micro-batch jobs carry Spark's own description
            tag0 = tracer.counter.calls
            sc.setJobDescription(f"module={ctx.name}")
            calls0 = tracer.counter.calls
            try:
                return spec.fn(ctx)
            finally:
                calls1 = tracer.counter.calls
                sc.setJobDescription(None)
                span.end = time.time()
                span.py4j = calls1 - calls0
                # the tagging calls are the benchmark's, not the program's
                tracer.trace.tag_calls += (calls0 - tag0) + (tracer.counter.calls - calls1)
                tracer.trace.spans.append(span)

        return traced

    def __enter__(self) -> "ModuleTracer":
        self._saved = registry.registered_modules()
        for spec in self._saved:
            registry.module(spec.name, spec.kind)(self._wrap(spec))
        self.counter.install()
        return self

    def __exit__(self, *exc) -> None:
        self.counter.uninstall()
        for spec in self._saved:
            registry.module(spec.name, spec.kind)(spec.fn)


# --- Spark event log ---------------------------------------------------------

_TASK_ACC = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1 / 2**20),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1 / 2**20),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1 / 2**20),
    "internal.metrics.input.bytesRead": ("input_mb", 1 / 2**20),
    "internal.metrics.output.bytesWritten": ("output_mb", 1 / 2**20),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 1 / 2**20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1 / 2**20),
}
# SQL metrics of the Python-worker exec nodes (ArrowEvalPython,
# FlatMapGroupsInPandasWithState, MapInArrow, BatchEvalPython ...)
_PY_ACC = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_start_s", 1e-3),
    "time to initialize Python workers": ("python_start_s", 1e-3),
    "data sent to Python workers": ("python_mb", 1 / 2**20),
    "data returned from Python workers": ("python_mb", 1 / 2**20),
}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> tuple[list[dict], dict[tuple[int, int], dict]]:
    """Jobs (id, submission time in epoch seconds, stage ids) and each
    completed stage attempt's folded accumulables, from the uncompressed
    event log(s) under ``log_dir``."""
    jobs: list[dict] = []
    stages: dict[tuple[int, int], dict] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"id": ev["Job ID"],
                                 "t": ev.get("Submission Time", 0) / 1000.0,
                                 "stages": ev.get("Stage IDs", [])})
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc: dict[str, float] = {"tasks": info.get("Number of Tasks", 0)}
                    for a in info.get("Accumulables", []):
                        name_ = a.get("Name", "")
                        target = _TASK_ACC.get(name_) or _PY_ACC.get(name_)
                        if target:
                            key, scale = target
                            acc[key] = acc.get(key, 0.0) + _num(a.get("Value")) * scale
                    stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = acc
    return jobs, stages


def fold_spark(jobs: list[dict], stages: dict, t0: float, t1: float) -> dict[str, float]:
    """Sum stage metrics of the jobs submitted inside [t0, t1]."""
    out = {k: 0.0 for k in ("jobs", "stages", "tasks", *(v[0] for v in _TASK_ACC.values()),
                            *(v[0] for v in _PY_ACC.values()))}
    for job in jobs:
        if not (t0 <= job["t"] <= t1):
            continue
        out["jobs"] += 1
        for (sid, _attempt), acc in stages.items():
            if sid in job["stages"]:
                out["stages"] += 1
                for k, v in acc.items():
                    out[k] = out.get(k, 0.0) + v
    return out


# --- lakehouse tables ---------------------------------------------------------


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


def _data_files(table: str) -> list[str]:
    out = []
    for root, dirs, files in os.walk(table):
        dirs[:] = [d for d in dirs if d not in ("_delta_log", "metadata")]
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def _delta_replay(table: str) -> tuple[int, dict[str, int]]:
    """(commit count, live data file -> size) from the JSON commits."""
    log = os.path.join(table, "_delta_log")
    commits = sorted(f for f in os.listdir(log) if f.endswith(".json"))
    live: dict[str, int] = {}
    for c in commits:
        with open(os.path.join(log, c)) as fh:
            for line in fh:
                act = json.loads(line)
                if "add" in act:
                    live[act["add"]["path"]] = int(act["add"].get("size", 0))
                elif "remove" in act:
                    live.pop(act["remove"]["path"], None)
    return len(commits), live


def delta_live_files(table: str) -> list[str]:
    """Absolute paths of the data files in the table's latest version."""
    from urllib.parse import unquote

    return [os.path.join(table, unquote(p)) for p in _delta_replay(table)[1]]


def delta_stats(table: str) -> dict[str, float]:
    """Commits, log bytes, data files ever written and live bytes."""
    commits, live = _delta_replay(table)
    written = _data_files(table)
    return {"commits": commits,
            "metadata_bytes": _dir_bytes(os.path.join(table, "_delta_log")),
            "data_files_written": len(written),
            "bytes_written": sum(os.path.getsize(p) for p in written),
            "live_bytes": sum(live.values())}


def iceberg_stats(table: str) -> dict[str, float]:
    """Snapshots, metadata bytes, data files ever written and live bytes."""
    from pipeline_spark.sources.iceberg_native import plan_files

    meta = os.path.join(table, "metadata")
    versions = [f for f in os.listdir(meta) if f.endswith(".metadata.json")]
    latest = max(versions, key=lambda f: os.path.getmtime(os.path.join(meta, f)))
    with open(os.path.join(meta, latest)) as fh:
        snapshots = json.load(fh).get("snapshots", [])
    written = _data_files(table)
    live = 0
    for entry in plan_files(table)[0]:
        path = str(entry["path"]).removeprefix("file:")
        live += os.path.getsize(path)
    return {"commits": len(snapshots), "metadata_bytes": _dir_bytes(meta),
            "data_files_written": len(written),
            "bytes_written": sum(os.path.getsize(p) for p in written),
            "live_bytes": live}


def lake_metrics(fmt: str, table: str, input_bytes: int) -> dict[str, float]:
    st = delta_stats(table) if fmt == "delta" else iceberg_stats(table)
    base = max(1, input_bytes)
    return {
        f"lakehouse.{fmt}.commits": st["commits"],
        f"lakehouse.{fmt}.metadata_bytes": st["metadata_bytes"],
        f"lakehouse.{fmt}.data_files_written": st["data_files_written"],
        f"lakehouse.{fmt}.bytes_written_per_input_byte": st["bytes_written"] / base,
        f"lakehouse.{fmt}.live_bytes_per_input_byte": st["live_bytes"] / base,
    }


# --- folding one traced run into the per-layer metrics ------------------------


def layer_metrics(tr: Trace, jobs: list[dict], stages: dict, cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced iteration (lakehouse and overhead
    entries are filled in by the caller)."""
    m = {k: 0.0 for k in per_layer_names()}
    wall = tr.wall_s
    m["config.parse_ms"] = tr.parse_s * 1e3
    module_s = 0.0
    for sp in tr.spans:
        layer = KIND_LAYER[sp.kind]
        dur = sp.end - sp.start
        module_s += dur
        key = "sinks.s" if layer == "sinks" else f"{layer}.build_s"
        m[key] += dur
        m[f"{layer}.py4j_calls"] += sp.py4j
        sp_jobs = fold_spark(jobs, stages, sp.start, sp.end)["jobs"]
        if layer == "operators":
            m["operators.eager_jobs"] += sp_jobs
        elif layer == "sinks":
            m["sinks.jobs"] += sp_jobs
            if sp.module in LAKE_FORMATS:
                step = "write" if sp.mode in ("", "overwrite", "append", "create") else sp.mode
                if step in LAKE_STEPS:
                    m[f"sinks.{sp.module}.{step}_s"] += dur
    m["executor.self_s"] = wall - tr.parse_s - module_s
    m["py4j.calls"] = tr.py4j_calls - tr.tag_calls

    sp_all: dict[str, float] = {}
    for t0, t1 in tr.windows:
        for k, v in fold_spark(jobs, stages, t0, t1).items():
            sp_all[k] = sp_all.get(k, 0.0) + v
    for k in SPARK_FIELDS:
        if k in sp_all:
            m[f"spark.{k}"] = sp_all[k]
    m["spark.busy_frac"] = sp_all["executor_run_s"] / max(1e-9, wall * cores)
    for k in ("python_run_s", "python_start_s", "python_mb"):
        m[f"functions.{k}"] = sp_all[k]

    if tr.progress:
        dur = [p.get("durationMs", {}) for p in tr.progress]
        m["streaming.batches"] = len(tr.progress)
        m["streaming.empty_batches"] = sum(1 for p in tr.progress if not p.get("numInputRows"))
        m["streaming.add_batch_ms_p50"] = statistics.median(d.get("addBatch", 0) for d in dur)
        m["streaming.planning_ms_p50"] = statistics.median(d.get("queryPlanning", 0) for d in dur)
        m["streaming.commit_ms_p50"] = statistics.median(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur)
        stream_spans = [sp for sp in tr.spans if sp.kind == registry.KIND_SINK
                        and any(sp.start <= _ts(p) <= sp.end for p in tr.progress)]
        stream_jobs = sum(fold_spark(jobs, stages, sp.start, sp.end)["jobs"] for sp in stream_spans)
        m["streaming.jobs_per_batch"] = stream_jobs / len(tr.progress)
        m["streaming.py4j_calls_per_batch"] = sum(sp.py4j for sp in stream_spans) / len(tr.progress)
        ops = [o for p in tr.progress for o in p.get("stateOperators", [])]
        if ops:
            m["streaming.state_rows"] = max(o.get("numRowsTotal", 0) for o in ops)
            m["streaming.state_mem_mb"] = max(o.get("memoryUsedBytes", 0) for o in ops) / 2**20
        sink_s = sum(sp.end - sp.start for sp in stream_spans)
        m["streaming.sink_coverage"] = sum(d.get("triggerExecution", 0) for d in dur) / 1e3 / max(1e-9, sink_s)
    return m


def _ts(progress: dict) -> float:
    """Epoch seconds of a progress report's trigger start."""
    stamp = progress.get("timestamp", "")
    try:
        return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()
    except ValueError:
        return 0.0
