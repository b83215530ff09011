"""Benchmark entry point: whole YAML pipelines, timed end to end.

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 10 --trace 0

Run from the repository root.  One driver process runs one workload in a
closed loop: the next pipeline run starts when the previous one finished.
The session is built the way the CLI builds it
(``pipeline_spark.__main__.build_session``) with ``local[<cores>]`` and
2 x cores shuffle partitions, where cores is half the CPUs the process may
use (see ``default_cores``).  Inputs are generated from ``--seed`` before
anything is timed, under ``perfbench/_work/`` (removed on exit), and the
first iteration on them (two on lakehouse_dml) is an untimed warm-up.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs an untraced, a traced and another untraced iteration
after the warm-up and prints the per-layer metrics (see ``layers.py``).
Spark's event log is on for that whole session, so all three iterations
pay for it: ``trace.overhead_frac`` is the cost of the module wrappers and
the py4j counter only, and the event log's share shows as
``trace.untraced_wall_s`` against a ``--trace 0`` run's ``wall_s``.  ``--smoke``
runs every workload on tiny inputs in one session, through every oracle,
and checks that every metric name is emitted.  ``--cores 1`` gives the
single-core scaling reference recorded in ``counters.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

import time

T_PROCESS = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import shlex  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {"setup_s": "s", "wall_s": "s", "rows_per_s": "1/s",
              "batch_ms_p50": "ms", "batch_ms_p90": "ms", "peak_rss_mb": "MB"}


def default_cores() -> int:
    """Half the CPUs this process may use, at least one.

    A Spark task that runs Python code keeps two processes busy, its
    executor thread and its Python worker, and the driver's Python process
    runs the streaming sinks' foreachBatch calls.  With one task slot per
    CPU those outnumber the CPUs, and times follow the scheduler and the
    load of other tenants: on a 4-vCPU Xeon VM, two busy processes started
    beside the benchmark slowed a stream_panes iteration by 31 % at
    ``local[4]`` and by 19 % at ``local[2]``, and lakehouse_dml by 20 % and
    12 %, while the unloaded iterations took as long at either setting.
    """
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default=None)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=default_cores())
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if args.workload is None and not args.smoke:
        ap.error("--workload is required")
    return args


def _environment(work: Path, trace: bool) -> None:
    """Keep every file Spark and Python workers write inside ``work``."""
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # beyond build_session's settings: no web UI (runs may overlap on one
    # host), UTC so window bounds match the oracle's, scratch dirs in work
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no hsperfdata file: the JVM writes it to the system temp dir,
        # whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": str(work / "eventlog"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm_end = stat.rfind(")")
        out[int(entry)] = (int(stat[comm_end + 2:].split()[1]),
                           stat[stat.find("(") + 1:comm_end])
    return out


def _descendants(pid: int) -> list[int]:
    procs = _processes()
    found, frontier = [], [pid]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, (pp, _) in procs.items() if pp == parent]
        found += kids
        frontier += kids
    return found


def _peak_rss_mb() -> float:
    """VmHWM of this driver process plus its JVM child."""
    me = os.getpid()
    jvms = [p for p, (pp, comm) in _processes().items() if pp == me and comm == "java"]
    return sum(_vm_hwm_kb(p) for p in (me, *jvms)) / 1024.0


def _stop(spark) -> None:
    """Stop the session, then end the JVM and its Python workers and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = _descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{c}") for c in children):
        time.sleep(0.05)
    for c in children:
        try:
            os.kill(c, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Runner:
    """Times pipeline runs and keeps one record per run."""

    def __init__(self, spark, listener) -> None:
        from pipeline_spark.config import parse_config
        from pipeline_spark.executor import run_pipeline

        self.spark = spark
        self.listener = listener
        self.parse_config = parse_config
        self.run_pipeline = run_pipeline
        self.records: list[dict] = []
        self.tracer = None  # a layers.ModuleTracer while tracing

    def run(self, text: str, finish=None):
        tr = self.tracer.trace if self.tracer else None
        calls0 = self.tracer.counter.calls if tr else 0
        w0 = time.time()
        t0 = time.perf_counter()
        cfg = self.parse_config(text)
        t1 = time.perf_counter()
        self.run_pipeline(self.spark, cfg)
        result = finish(self.spark) if finish else None
        t2 = time.perf_counter()
        w1 = time.time()
        progress = self.listener.drain()
        self.records.append({"wall_s": t2 - t0, "progress": progress})
        if tr is not None:
            tr.windows.append((w0, w1))
            tr.wall_s += t2 - t0
            tr.parse_s += t1 - t0
            tr.py4j_calls += self.tracer.counter.calls - calls0
            tr.progress += progress
        return result


def _iterate(wl, runner, k: int, stats: dict) -> float | None:
    """One closed-loop iteration, oracle included; its pipeline wall time."""
    n0 = len(runner.records)
    try:
        wl.iteration(k, runner.run)
    except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
        traceback.print_exc()
        stats["failed"] += max(1, len(runner.records) - n0)
        stats["attempted"] += max(1, len(runner.records) - n0)
        return None
    finally:
        if k > 0:
            wl.cleanup(k - 1)
    runs = runner.records[n0:]
    stats["attempted"] += len(runs)
    return sum(r["wall_s"] for r in runs)


def _units_ms(records: list[dict], walls: list[float]) -> list[float]:
    """Closed-loop units of work: each micro-batch of a stateful streaming
    query, or else each iteration.

    In stream_panes the units are the pane aggregation's micro-batches
    (about 2 s each on a 4-vCPU Xeon VM); the delta query's stateless ones
    (about 0.4 s) are timed in ``wall_s`` only.  Mixed, the two made up
    four and three of every seven samples, so the median fell on the
    fastest pane micro-batch, the one with no data, and not on a typical
    one.  An iteration of lakehouse_dml is one run per table format, and
    a delta run takes about 20 % less than an iceberg one, so per run the
    median fell between the two formats in the same way."""
    batches = [p["durationMs"]["triggerExecution"]
               for r in records for p in r["progress"] if p.get("stateOperators")]
    return batches or [w * 1e3 for w in walls]


def _log(what: str, since: float) -> float:
    now = time.perf_counter()
    print(f"perfbench: {what} {now - since:.2f}s", file=sys.stderr)
    return now


def _warm_up(wl, runner, stats: dict) -> int:
    """``wl.warm_up_iterations`` untimed iterations on the same inputs, so
    JIT, Python workers and lazy set-up are warm before anything is timed;
    the next k.  One on the smoke-sized inputs is cheaper but not enough:
    on a 4-vCPU Xeon VM, the next four lakehouse_dml iterations took
    9.9-11.2 s after it, and 6.4-9.6 s after one on the real inputs."""
    t = time.perf_counter()
    k = 0
    while k < wl.warm_up_iterations and stats["failed"] == 0:
        _iterate(wl, runner, k, stats)
        k += 1
    _log("warm-up", t)
    return k


def measure(wl, runner, seconds: float, stats: dict, warm_up: bool = True,
            min_iterations: int = 2) -> dict:
    """Warm-up, then timed iterations until the next one would end more
    than ``seconds`` after the first began, judged by the last one's
    length, and at least ``min_iterations`` so every median has more than
    one sample; end-to-end metrics.  The first failed iteration ends the
    loop: the run is incorrect then, and its times are NaN if no
    iteration succeeded."""
    k = _warm_up(wl, runner, stats) if warm_up else 0
    first = len(runner.records)
    walls: list[float] = []
    t_start = time.monotonic()
    while stats["failed"] == 0:
        t_it = time.monotonic()
        w = _iterate(wl, runner, k, stats)
        k += 1
        if w is not None:
            walls.append(w)
        now = time.monotonic()
        if now + (now - t_it) - t_start > seconds and len(walls) >= min_iterations:
            break
    wl.cleanup(k - 1)
    units = _units_ms(runner.records[first:], walls)
    nan = float("nan")
    wall = statistics.median(walls) if walls else nan
    return {"wall_s": wall,
            "rows_per_s": wl.inputs.rows * wl.runs_per_iteration / wall,
            "batch_ms_p50": percentile(units, 0.5) if units else nan,
            "batch_ms_p90": percentile(units, 0.9) if units else nan,
            "samples": {"iterations": len(walls), "units": len(units),
                        "walls_s": [round(w, 3) for w in walls],
                        "units_ms": [round(u) for u in units]}}


def _wait_event_log(log_dir: Path, timeout_s: float = 10.0) -> None:
    """The listener bus writes the event log asynchronously: wait until
    every started job's end is on disk."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        starts = ends = 0
        for f in log_dir.iterdir():
            text = f.read_text()
            starts += text.count('"Event":"SparkListenerJobStart"')
            ends += text.count('"Event":"SparkListenerJobEnd"')
        if starts == ends:
            return
        time.sleep(0.1)


def trace_layers(wl, runner, stats: dict, work: Path, cores: int,
                 untraced: float | None = None) -> dict:
    """Warm-up, then untraced, traced and untraced iterations; per-layer
    metrics.  The traced wall time is compared with the mean of the two
    untraced ones around it, so the warm-up trend cancels; the event log
    is on for all three, so its cost is not in the overhead.  ``untraced``
    passes in an untraced wall time measured already (smoke mode)."""
    import layers as tr_mod

    before = after = untraced
    k = 2
    if untraced is None:
        k = _warm_up(wl, runner, stats)
        before = _iterate(wl, runner, k, stats)
        k += 1
    counter = tr_mod.Py4jCounter()
    with tr_mod.ModuleTracer(runner.spark, counter) as tracer:
        runner.tracer = tracer
        try:
            traced = _iterate(wl, runner, k, stats)
        finally:
            runner.tracer = None
    if traced is None:
        wl.cleanup(k)
        return {}
    lake = {}
    for fmt, table in wl.lake_tables(k):
        lake.update(tr_mod.lake_metrics(fmt, table, wl.inputs.bytes))
    if untraced is None:
        after = _iterate(wl, runner, k + 1, stats)
        wl.cleanup(k + 1)
    wl.cleanup(k)
    _wait_event_log(work / "eventlog")
    jobs, stages = tr_mod.read_event_log(str(work / "eventlog"))
    m = tr_mod.layer_metrics(tracer.trace, jobs, stages, cores)
    m.update(lake)
    base = (before + after) / 2 if before and after else 0.0
    m["trace.wall_s"] = traced
    m["trace.untraced_wall_s"] = base
    m["trace.overhead_frac"] = traced / base - 1.0 if base else 0.0
    # share of the traced wall time that parse and module spans account
    # for; executor.self_s is the rest, so a value above 1 means spans
    # overlap or were counted twice
    modules = m["sources.build_s"] + m["operators.build_s"] + m["sinks.s"]
    m["trace.reconcile_frac"] = (m["config.parse_ms"] / 1e3 + modules) / traced
    return m


def percentile(values: list[float], q: float) -> float:
    """Linearly interpolated quantile ``q`` (0..1) of ``values``."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _result(correct: bool, stats: dict, metrics: dict, units: dict) -> str:
    return json.dumps({
        "correct": correct, "attempted": stats["attempted"], "failed": stats["failed"],
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()},
    })


def main(argv=None) -> int:
    args = _parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "pipeline_spark" / "__init__.py").is_file():
        print(f"no pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = HERE / "_work" / f"{args.workload or 'smoke'}-{os.getpid()}"
    _environment(work, trace=bool(args.trace) or args.smoke)
    os.chdir(ROOT)
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        return _main(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run still uses it


def _main(args, work: Path) -> int:
    from pipeline_spark.__main__ import build_session

    spark = build_session(f"local[{args.cores}]", 2 * args.cores)
    setup_s = time.perf_counter() - T_PROCESS
    try:
        spark.sparkContext.setLogLevel("ERROR")
        import layers as tr_mod
        from workloads import WORKLOADS

        listener = tr_mod.ProgressListener()
        spark.streams.addListener(listener)
        names = [args.workload] if args.workload else list(WORKLOADS)
        if args.workload not in (None, *WORKLOADS):
            print(f"unknown workload {args.workload}; have {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        stats = {"attempted": 0, "failed": 0}
        if args.smoke:
            return _smoke(names, spark, listener, work, args, stats)
        wl = WORKLOADS[args.workload](str(work / args.workload), args.seed, smoke=False)
        t = _log("set-up", T_PROCESS)
        wl.generate()
        t = _log("inputs and oracle", t)
        runner = Runner(spark, listener)
        if args.trace:
            metrics = trace_layers(wl, runner, stats, work, args.cores)
            units = {k: tr_mod.unit_of(k) for k in metrics}
        else:
            e2e = measure(wl, runner, args.seconds, stats)
            print(json.dumps({"workload": wl.name, "cores": args.cores,
                              "input_rows": wl.inputs.rows,
                              "input_bytes": wl.inputs.bytes, **e2e.pop("samples")}))
            metrics = {"setup_s": setup_s, **e2e, "peak_rss_mb": _peak_rss_mb()}
            units = END_TO_END
        _log("runs", t)
        correct = stats["failed"] == 0 and bool(metrics)
        print(_result(correct, stats, metrics, units))
        return 0
    finally:
        t = time.perf_counter()
        _stop(spark)
        _log("stop", t)


def _smoke(names, spark, listener, work: Path, args, stats: dict) -> int:
    """Tiny inputs, every workload: one untraced and one traced iteration
    each, through every oracle; fails if a metric name is missing."""
    from layers import per_layer_names
    from workloads import WORKLOADS

    ok = True
    for name in names:
        wl = WORKLOADS[name](str(work / name), args.seed, smoke=True)
        wl.generate()
        e2e = measure(wl, Runner(spark, listener), 0.0, stats, warm_up=False,
                      min_iterations=1)
        e2e["peak_rss_mb"] = _peak_rss_mb()
        layers = trace_layers(wl, Runner(spark, listener), stats, work,
                              args.cores, untraced=e2e["wall_s"])
        missing = [k for k in END_TO_END if k != "setup_s" and k not in e2e]
        missing += [k for k in per_layer_names() if k not in layers]
        print(json.dumps({"workload": name, "wall_s": e2e["wall_s"],
                          "missing": missing, "failed": stats["failed"]}))
        ok = ok and not missing
    correct = ok and stats["failed"] == 0
    print(_result(correct, stats, {}, {}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
