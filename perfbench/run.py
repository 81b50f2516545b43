"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill|refresh|registry \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Run from the repository root. One workload per process: the process
pins Spark to local[nproc] (SPARK_GRAFT_CPUS=nproc), sets up the
workload several times (``setup_s`` is the median), runs an untimed
warm-up, then loops the workload's op for ``--seconds`` in a closed
loop with one client, checks every output against an independent
truth and prints one JSON object as its last line. ``--trace 1``
wraps the package's public functions in spans and reports per-layer
metrics instead of end-to-end ones; the spans are written under
``.perfbench_out/``. ``--workload all`` runs every workload untraced
and traced in child processes and prints a table of the end-to-end,
workload-specific and tracing-overhead numbers.

Everything the run writes lives under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` in the current directory.
"""

from __future__ import annotations

import argparse
import contextlib
import logging
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
#: set-ups per run; setup_s is their median
SETUPS = 3
#: every timed op loop runs at least this many ops, whatever --seconds says
MIN_OPS = 1

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}
#: the workload-specific names the --workload all table prints
METRIC_ALIASES = {"refresh": {"op_p50_s": "refresh_p50_s", "op_tail_s": "refresh_tail_s"}}
SUMMARY_UNITS = {
    "op_p50_s": "s",
    "op_tail_s": "s",
    "cpu_steal_frac": "fraction",
    "backfill_events_per_s": "events/s",
    "upsert_s": "s",
    "suite_s": "s",
    "failed_frac": "fraction",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> None:
    """Pin the engine to this machine's cores and keep every file the
    run writes (Spark scratch, Python and JVM temp files) in WORK."""
    cpus = str(nproc())
    for key in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS"):
        os.environ.pop(key, None)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_DRIVER_MEMORY="1g",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    )


def git_sha() -> str:
    """HEAD of the repository at ROOT; "unknown" outside a git checkout
    (git is not asked, so it never searches the parent directories)."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10, cwd=ROOT)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class Context:
    """Run-wide state the workloads share: seed, work dir, tracer and
    the per-layer observations only the traced run records."""

    def __init__(self, seed: int, seconds: float, traced: bool):
        self.seed = seed
        self.seconds = seconds
        self.work = WORK
        self.tracer = None
        self.traced = traced
        self.stopped_sessions: list = []  # kept alive so session ids are never reused
        self.files_scanned: list[int] = []
        self.rewrite_ratios: list[float] = []
        self.warehouse: dict = {}

    def upsert_rewrite(self, wh, dates: set, applied: int) -> None:
        """Rows rewritten per incoming row: the rows of the date
        partitions the upsert touched over the rows applied (traced run
        only)."""
        if not self.traced or not applied:
            return
        from pyspark.sql import functions as F

        touched = wh.read_events().filter(F.col("event_date").isin(sorted(dates))).count()
        self.rewrite_ratios.append(touched / applied)

    def record_warehouse(self, wh, rows: int) -> None:
        """Data files of the events table and their bytes per stored
        event (traced run only)."""
        if not self.traced:
            return
        files = [
            os.path.join(d, f)
            for d, _, names in os.walk(wh.events_path)
            for f in names
            if f.endswith(".parquet")
        ]
        size = sum(os.path.getsize(f) for f in files)
        self.warehouse = {"files": len(files), "rows": rows, "bytes_per_event": size / rows if rows else 0.0}


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def proc_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of process ``pid``, over all its
    threads, live and exited."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()  # the name may hold spaces
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this machine so far: the time a
    hypervisor ran something else while this machine's CPUs were ready."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def reset_peak_rss(pids) -> None:
    """Lower each process's peak RSS (VmHWM) to its current RSS, so a
    peak read later covers only what ran in between."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pids) -> float:
    """Sum of the processes' VmHWM, in MiB."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def trace_targets():
    """(owner, attribute, span name) for every public function the
    traced run wraps."""
    import workloads
    from solana_data_etl_pipeline_spark.plans import canonical
    from solana_data_etl_pipeline_spark.sinks.warehouse import ParquetWarehouse
    from solana_data_etl_pipeline_spark.sources import blocks
    from solana_data_etl_pipeline_spark.streaming import incremental

    return [
        (incremental, "fetch_blocks_df", "sources.blocks.fetch"),
        (blocks, "fetch_blocks_df", "sources.blocks.fetch"),
        (incremental, "parse_blocks", "operators.parse.construct"),
        (workloads, "parse_blocks", "operators.parse.construct"),
        (ParquetWarehouse, "insert_events", "sinks.warehouse.insert"),
        (ParquetWarehouse, "upsert_events", "sinks.warehouse.upsert"),
        (ParquetWarehouse, "compact", "sinks.warehouse.compact"),
        (incremental, "run_backfill", "streaming.incremental.process"),
        (incremental, "process_incremental", "streaming.incremental.process"),
        (canonical, "run_analytics", "plans.canonical.analytics"),
    ]


def _median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def stage_totals(spark, job_ids: list[int]) -> dict[str, float]:
    """Executor run time, GC time and shuffle bytes over the distinct
    stages of the given jobs, read from Spark's status store."""
    from py4j.protocol import Py4JJavaError

    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    task_ms = gc_ms = shuffle = 0
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage evicted from the store is skipped
            continue
        task_ms += st.executorRunTime()
        gc_ms += st.jvmGcTime()
        shuffle += st.shuffleWriteBytes()
    return {"task_s": task_ms / 1000.0, "gc_s": gc_ms / 1000.0, "shuffle_write_bytes": float(shuffle)}


def layer_metrics(ctx: Context, wl, session_s: list[float], op_s: list[float]) -> dict[str, float]:
    """Per-layer metrics from the traced run's spans. Times and job
    counts are medians per call of the layer, so they do not depend on
    how many ops fitted in the run; 0 where a workload never calls the
    layer."""
    from spans import self_times
    from workloads import REGISTRY_ENTRIES

    tr = ctx.tracer
    selfs = self_times(tr.spans)
    kids: dict[int, list] = {}
    for s in tr.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)

    def dur(name):
        return _median(s.duration for s in tr.by_name(name))

    def jobs(name):
        return _median(len(s.jobs) for s in tr.by_name(name))

    process = tr.by_name("streaming.incremental.process")
    m = {
        "session.start_s": _median(session_s),
        "sources.blocks.fetch_s": dur("sources.blocks.fetch"),
        "sources.blocks.jobs": jobs("sources.blocks.fetch"),
        "operators.parse.construct_s": dur("operators.parse.construct"),
        "sinks.warehouse.insert_s": dur("sinks.warehouse.insert"),
        "sinks.warehouse.insert_jobs": jobs("sinks.warehouse.insert"),
        "sinks.warehouse.rows_written": _median(s.result for s in tr.by_name("sinks.warehouse.insert")),
        "sinks.warehouse.files": float(ctx.warehouse.get("files", 0)),
        "sinks.warehouse.bytes_per_event": float(ctx.warehouse.get("bytes_per_event", 0.0)),
        "sinks.warehouse.upsert_s": dur("sinks.warehouse.upsert"),
        "sinks.warehouse.upsert_rewrite_ratio": _median(ctx.rewrite_ratios),
        "sinks.warehouse.compact_s": dur("sinks.warehouse.compact"),
        "streaming.incremental.process_s": _median(s.duration for s in process),
        "streaming.incremental.driver_self_s": _median(selfs[s.id] for s in process),
        "streaming.incremental.chunks": _median(
            sum(1 for k in kids.get(s.id, []) if k.name == "sinks.warehouse.insert") for s in process
        ),
        "plans.canonical.analytics_s": dur("plans.canonical.analytics"),
        "plans.canonical.analytics_jobs": jobs("plans.canonical.analytics"),
        "plans.canonical.files_scanned": _median(ctx.files_scanned),
    }
    construct = execute = n_jobs = 0.0
    for name in REGISTRY_ENTRIES:
        c, e = f"registry.{name}.construct", f"registry.{name}.execute"
        m[f"{c}_s"], m[f"{e}_s"] = dur(c), dur(e)
        construct += m[f"{c}_s"]
        execute += m[f"{e}_s"]
        n_jobs += jobs(c) + jobs(e)
    m.update({"plans.suite.construct_s": construct, "plans.suite.execute_s": execute, "plans.suite.jobs": n_jobs})

    op_jobs: list[int] = []
    for root in tr.by_name("op"):
        stack = [root]
        while stack:
            s = stack.pop()
            op_jobs.extend(s.jobs)
            stack.extend(kids.get(s.id, []))
    totals = stage_totals(wl.spark, op_jobs)
    n_ops = max(len(op_s), 1)
    m.update({f"spark.{k}": v / n_ops for k, v in totals.items()})
    m["trace.op_p50_s"] = _median(op_s)
    return m


def measure(wl, ctx: Context) -> dict:
    """Closed loop: one op at a time until --seconds have passed (and
    at least MIN_OPS ops ran). Returns each op's wall seconds and CPU
    seconds (driver plus JVM), the loop's length, the share of the
    machine's CPU time stolen by the hypervisor during it and the
    driver's plus the JVM's peak RSS during it (the memory they held
    when the loop started counts; peaks of the set-up and warm-up that
    were freed before it do not)."""
    pids = (os.getpid(), jvm_pid(wl.spark))
    op_s: list[float] = []
    cpu_s: list[float] = []
    reset_peak_rss(pids)
    steal0, total0 = steal_ticks()
    t_start = time.perf_counter()
    while len(op_s) < MIN_OPS or time.perf_counter() - t_start < ctx.seconds:
        c0 = sum(map(proc_cpu_s, pids))
        t0 = time.perf_counter()
        with ctx.tracer.span("op") if ctx.tracer else contextlib.nullcontext():
            wl.op()
        op_s.append(time.perf_counter() - t0)
        cpu_s.append(sum(map(proc_cpu_s, pids)) - c0)
    measured_s = time.perf_counter() - t_start
    peak = peak_rss_mb(pids)
    steal1, total1 = steal_ticks()
    steal = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
    return {"op_s": op_s, "cpu_s": cpu_s, "measured_s": measured_s, "steal": steal, "peak_rss_mb": peak}


def run_workload(name: str, seed: int, seconds: float, traced: bool) -> dict:
    from spans import Tracer, patched, tail_percentile
    from workloads import INCREMENTAL_LOGGER, WORKLOADS, ErrorCounter

    context = {
        "workload": name,
        "seed": seed,
        "seconds": seconds,
        "traced": traced,
        "nproc": nproc(),
        "loadavg_1m_start": os.getloadavg()[0],
        "python": platform.python_version(),
        "git_sha": git_sha(),
    }
    ctx = Context(seed, seconds, traced)
    errors = ErrorCounter()
    logger = logging.getLogger(INCREMENTAL_LOGGER)
    logger.addHandler(errors)
    wl = WORKLOADS[name](ctx)
    try:
        setup_s, session_s = [], []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            session_s.append(wl.setup())
            setup_s.append(time.perf_counter() - t0)
        wl.warm()
        spark = wl.spark
        context.update(
            spark=spark.version,
            spark_master=spark.sparkContext.master,
            shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"),
        )
        if traced:
            ctx.tracer = Tracer(spark.sparkContext)
        with patched(trace_targets(), ctx.tracer) if traced else contextlib.nullcontext():
            loop = measure(wl, ctx)
            wl.check()
        op_s = loop["op_s"]
        failed = wl.failures + errors.count
        tail_label, tail = tail_percentile(op_s)
        summary = wl.summary(op_s)
        summary.update(
            failed_frac=failed / max(wl.attempted, 1),
            errors_logged=errors.count,
            op_p50_s=statistics.median(op_s),
            op_tail_s=tail,
            op_tail_percentile=tail_label,
            ops=len(op_s),
            op_samples_s=op_s,
            op_cpu_samples_s=loop["cpu_s"],
            cpu_steal_frac=loop["steal"],
            measured_s=loop["measured_s"],
            setup_samples_s=setup_s,
        )
        if traced:
            metrics = layer_metrics(ctx, wl, session_s, op_s)
            units = {k: _layer_unit(k) for k in metrics}
            os.makedirs(OUT, exist_ok=True)
            with open(os.path.join(OUT, f"trace-{name}-seed{seed}.json"), "w") as f:
                json.dump({"context": context, "spans": ctx.tracer.to_json()}, f)
        else:
            metrics = {
                "setup_s": statistics.median(setup_s),
                "op_cpu_s": statistics.median(loop["cpu_s"]),
                "peak_rss_mb": loop["peak_rss_mb"],
            }
            units = END_TO_END
        return {
            "context": context,
            "summary": summary,
            "notes": wl.notes,
            "result": {
                "correct": failed == 0,
                "attempted": wl.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            },
        }
    finally:
        logger.removeHandler(errors)
        if wl.spark is not None:
            wl.spark.stop()


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_per_event"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def print_result(out: dict) -> None:
    """Context and workload figures first, the result object last."""
    print(json.dumps({"context": out["context"], "summary": out["summary"], "notes": out["notes"]}))
    print(json.dumps(out["result"]))


def run_all(seed: int, seconds: float) -> int:
    """Every workload, untraced then traced, each in its own process;
    prints one table of the end-to-end metrics, the workload figures
    and the tracing overhead."""
    from workloads import WORKLOADS

    rows, ok = [], True
    for name in WORKLOADS:
        runs = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(seed)]
            cmd += ["--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(f"{name} trace={trace} failed (exit {proc.returncode}):\n{proc.stderr[-2000:]}", file=sys.stderr)
                return 1
            runs[trace] = {**json.loads(lines[-2]), "result": json.loads(lines[-1])}
        plain, traced = runs[0], runs[1]
        ok = ok and plain["result"]["correct"] and traced["result"]["correct"]
        p50 = plain["summary"]["op_p50_s"]
        traced_p50 = traced["result"]["metrics"]["trace.op_p50_s"]["value"]
        rows.append((name, plain, traced_p50 / p50 - 1.0))
    for name, plain, overhead in rows:
        res, summ = plain["result"], plain["summary"]
        aliases = METRIC_ALIASES.get(name, {})
        print(f"== {name}  correct={res['correct']}  attempted={res['attempted']}  failed={res['failed']}")
        for key, m in res["metrics"].items():
            print(f"  {key:<24} {m['value']:>14.4f} {m['unit']}")
        for key, unit in SUMMARY_UNITS.items():
            if summ.get(key) is not None:
                label = f" ({summ['op_tail_percentile']}, n={summ['ops']})" if key == "op_tail_s" else ""
                print(f"  {aliases.get(key, key):<24} {summ[key]:>14.4f} {unit}{label}")
        print(f"  {'tracing_overhead':<24} {overhead:>14.2%} of op_p50_s")
    print(json.dumps({"correct": ok, "workloads": {n: p["result"] for n, p, _ in rows}}))
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    if args.workload == "all":
        return run_all(args.seed, args.seconds)

    pin_environment()
    try:
        try:
            from workloads import WORKLOADS
        except ImportError as exc:  # not run from a checkout of the repository
            print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
            return 2
        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all", file=sys.stderr)
            return 2
        out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
    print_result(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
