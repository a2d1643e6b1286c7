"""Benchmark entry point.  From the root of a checkout:

    python3 perfbench/run.py --workload anon_release_sf0.05 --seed 1 \\
        --seconds 10 --trace 0

One client, one Spark session at ``local[nproc]``, closed loop: a cold
first pass, two unmeasured warm-up passes, then measured warm passes back
to back until ``--seconds`` have passed (at least two).  Inputs are generated
from ``--seed`` under a per-run directory in the checkout and removed at
the end.  Outputs are checked outside the timed region; a pass that raises
or fails a check counts all its operations as failed.  The last stdout
line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` the engine calls are wrapped in spans, the Spark event log
is on, and the per-layer metrics are reported instead.  The line before
the result carries run context (noise floor, load, pass times).
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if sys.path[0] == os.path.dirname(os.path.abspath(__file__)):
    sys.path[0] = ROOT  # import as the perfbench package, next to the engine
ENGINE_MODULES = ("ma_anonymization_etl_spark", "bench", "tests")
SETUP_SAMPLES = 7
WARMUP_PASSES = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="build inputs from the sf0.001 corpus (the smoke tests)")
    return ap.parse_args(argv)


def pin_environment(work: str, cpus: int, trace: bool) -> None:
    """Size the engine to this machine and keep every file it writes
    inside ``work``.  Must run before the JVM starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(cpus)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the engine for UDFs.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    # Every JVM, the spark-submit launcher's included: temp files in work,
    # and no hsperfdata file in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


def import_engine():
    for name in ("ma_anonymization_etl_spark.cli", "ma_anonymization_etl_spark.registry",
                 "ma_anonymization_etl_spark.session", "bench"):
        importlib.import_module(name)


def purge_engine() -> None:
    for name in list(sys.modules):
        if any(name == m or name.startswith(m + ".") for m in ENGINE_MODULES):
            del sys.modules[name]


def setup_once(t0: float):
    """Import the engine, start the session, load the registry; returns
    the session and (setup_s, get_spark_s, load_all_s) measured from t0."""
    import_engine()
    session = sys.modules["ma_anonymization_etl_spark.session"]
    registry = sys.modules["ma_anonymization_etl_spark.registry"]
    t1 = time.perf_counter()
    spark = session.get_spark(app_name="perfbench")
    t2 = time.perf_counter()
    registry.load_all()
    t3 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, (t3 - t0, t2 - t1, t3 - t2)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and the
    Python workers it started have exited."""
    from perfbench.tracing import tree_pids

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return  # already stopped
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in tree_pids(os.getpid())[1:]:  # workers that outlived the JVM
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def warm_wall(walls: dict[int, dict[str, float]], passes: list[int]) -> float:
    """Sum over a pass's operations of each one's median time over
    ``passes`` (for a one-operation pass, the median pass time)."""
    ops = walls[passes[0]] if passes else {}
    return sum(median([walls[i][op] for i in passes]) for op in ops)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def install_tracer(spark, steps):
    """Wrap the engine's public route calls and the route's step builders."""
    from ma_anonymization_etl_spark import cli
    from ma_anonymization_etl_spark.plans import pipeline

    from perfbench.tracing import Tracer

    tracer = Tracer(spark)
    for attr in ("run_route", "anonymize_pipeline", "write_parquet"):
        setattr(cli, attr, tracer.wrap(getattr(cli, attr), f"cli.{attr}"))
    for op in {s["op"] for s in steps}:
        pipeline.STEPS[op] = tracer.wrap(pipeline.STEPS[op], f"pipeline.step.{op}")
    return tracer


def prefix_probe(spark, wl) -> tuple[dict, dict, int]:
    """Noop-materialize every step prefix of the route once: the marginal
    time of each step and the rows it leaves, plus the input rows."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ma_anonymization_etl_spark.plans import pipeline
    from ma_anonymization_etl_spark.sources.io import load

    def materialize(df, i):
        obs = Observation(f"perfbench_prefix{i}")
        t0 = time.perf_counter()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, obs.get["n"]

    df = load(spark, wl.data, wl.table)
    prev, rows_in = materialize(df, 0)
    marginal, rows = {}, {}
    for i, step in enumerate(wl.steps, 1):
        params = dict(step)
        op = params.pop("op")
        fn = pipeline.STEPS[op]
        df = getattr(fn, "__wrapped__", fn)(df, **params)
        t, rows[op] = materialize(df, i)
        marginal[op], prev = t - prev, t
    return marginal, rows, rows_in


def layer_metrics(spec, wl, tracer, traced, setups, walls, planning, counters, probe,
                  jvm_peak_rss):
    """Per-layer values, each the median over traced warm passes of that
    pass's total; names absent on this workload read 0."""
    from perfbench.tracing import JobCounters, self_times

    names = [m["name"] for m in spec["per_layer"]]
    span_metric = {"cli.run_route": "cli.run_route_s",
                   "cli.anonymize_pipeline": "pipeline.build_s",
                   "cli.write_parquet": "sources.write_s"}
    mb = 1024 * 1024
    per_pass = []
    for p in traced:
        spans = tracer.pass_spans(p)
        selfs = self_times(spans)
        v = dict.fromkeys(names, 0.0)

        def add(name, x):
            if name in v:
                v[name] += x

        for s in spans:
            if s.name in span_metric:
                add(span_metric[s.name], s.dur)
            elif s.name == "cli.main":  # its own time is the post-write recount
                add("cli.recount_s", selfs[s.sid])
            elif s.name.startswith("pipeline.step."):
                add(f"{s.name}.build_s", s.dur)
            elif s.name.startswith("q."):
                _, q, phase = s.name.split(".")
                add(f"q.{q}.s", s.dur)
                add(f"headline.{wl.module_of(q)}.{phase}_s", s.dur)
        add("pipeline.build_jobs",
            span_jobs(tracer, [p], counters).get("cli.anonymize_pipeline", 0))
        total = JobCounters()
        for (pid, _), c in counters.items():
            if pid == p:
                total.add(c)
        add("spark.jobs", total.jobs)
        add("spark.tasks", total.tasks)
        add("spark.task_run_s", total.run_ms / 1e3)
        add("spark.task_cpu_s", total.cpu_ns / 1e9)
        add("spark.task_wait_s", total.run_ms / 1e3 - total.cpu_ns / 1e9)
        add("spark.gc_s", total.gc_ms / 1e3)
        add("spark.shuffle_write_mb", total.shuffle_write_b / mb)
        add("spark.shuffle_read_mb", total.shuffle_read_b / mb)
        add("spark.shuffle_reread_ratio",
            total.shuffle_read_b / total.shuffle_write_b if total.shuffle_write_b else 0.0)
        add("spark.spill_mb", total.spill_b / mb)
        add("spark.planning_ms", planning.get(p, 0.0))
        add("sources.read_rows", total.input_rows)
        files, size = wl.written.get(p, (0, 0))
        add("sources.write_files", files)
        add("sources.write_mb", size / mb)
        per_pass.append(v)
    out = {n: median([v[n] for v in per_pass]) for n in names}
    out["jvm.peak_rss_mb"] = jvm_peak_rss / 2**20
    out["session.cold_setup_s"] = setups[0][0]
    out["session.get_spark_s"] = median([s[1] for s in setups])
    out["registry.load_all_s"] = median([s[2] for s in setups])
    untraced = [i for i in walls if i > WARMUP_PASSES and i not in traced]
    out["trace.overhead_s"] = warm_wall(walls, traced) - warm_wall(walls, untraced)
    if probe is not None:
        marginal, rows, rows_in = probe
        out["pipeline.rows_in"] = rows_in
        for op, t in marginal.items():
            if f"pipeline.step.{op}.marginal_s" in out:
                out[f"pipeline.step.{op}.marginal_s"] = t
        for op, n in rows.items():
            if f"pipeline.step.{op}.rows_out" in out:
                out[f"pipeline.step.{op}.rows_out"] = n
    return out


def set_up(t_process: float):
    """Set up SETUP_SAMPLES times in this process.  The first sample runs
    from process start (interpreter, imports, JVM launch, session,
    registry); each later one stops the session, forgets the engine
    modules and sets up again on the running JVM, so the median is the
    engine's own set-up work without the constant JVM launch, and the cold
    first sample is kept for the per-layer table.  Relaunching the JVM
    for every sample would add about 5 s per sample to every run."""
    spark, sample = setup_once(t_process)
    setups = [sample]
    for _ in range(SETUP_SAMPLES - 1):
        spark.stop()
        purge_engine()
        spark, sample = setup_once(time.perf_counter())
        setups.append(sample)
    return spark, setups


def span_jobs(tracer, traced, counters) -> dict[str, int]:
    """Spark jobs started inside each span name (its children included),
    summed over the traced passes."""
    out: dict[str, int] = {}
    for p in traced:
        by_id = {s.sid: s for s in tracer.pass_spans(p)}
        for (pid, sid), c in counters.items():
            span = by_id.get(sid) if pid == p else None
            while span is not None:
                out[span.name] = out.get(span.name, 0) + c.jobs
                span = by_id.get(span.parent)
    return out


def run(args, work: str, t_process: float) -> dict:
    spark, setups = set_up(t_process)
    try:
        return measure(args, work, spark, setups)
    finally:
        stop_spark(spark)


def measure(args, work: str, spark, setups) -> dict:
    from perfbench import tracing, workloads

    spec = load_spec()
    cpus = nproc()
    wl = workloads.make(args.workload)
    phases = {"setup": sum(x[0] for x in setups)}
    t = time.perf_counter()
    wl.prepare(work, args.seed, cpus, args.smoke)
    phases["generate"] = time.perf_counter() - t
    tracer = install_tracer(spark, wl.steps) if args.trace else tracing.Tracer(spark)
    ops_per_pass = wl.ops_per_pass

    attempted = failed = 0
    errors: list[str] = []
    walls: dict[int, dict[str, float]] = {}
    cpu: dict[int, float] = {}
    planning: dict[int, float] = {}
    traced: list[int] = []
    root = os.getpid()
    # Pass 0 is cold, then WARMUP_PASSES unmeasured ones (the JIT is still
    # compiling); measured warm passes follow until --seconds have passed
    # (at least two).  In a traced run they alternate traced / untraced, so
    # the difference of the two medians is the tracing overhead.
    first = 1 + WARMUP_PASSES
    min_passes = first + 2
    deadline = float("inf")
    i = 0
    with tracing.PeakRss(root) as rss:
        while i < min_passes or time.perf_counter() < deadline:
            traced_pass = bool(args.trace) and i >= first and (i - first) % 2 == 0
            tracer.enabled, tracer.pass_id = traced_pass, i
            before = tracing.tree_usage(root)
            attempted += ops_per_pass
            rss.active = True
            try:
                walls[i] = wl.run_pass(spark, tracer, i)
                cpu[i] = tracing.cpu_delta(before, tracing.tree_usage(root))
            except Exception as exc:  # noqa: BLE001 — a failed pass is counted, not fatal
                failed += ops_per_pass
                errors.append(f"pass {i}: {type(exc).__name__}: {exc}")
            finally:
                tracer.enabled = rss.active = False
            if i in walls:
                if traced_pass:
                    traced.append(i)
                    out = tracer.results.pop("cli.run_route", None)
                    planning[i] = (tracing.planning_ms(out) if out is not None
                                   else wl.planning.get(i, 0.0))
                bad = wl.check_pass(i)
                if bad:
                    failed += ops_per_pass
                    errors += [f"pass {i}: {e}" for e in bad]
            if i == first - 1:
                deadline = time.perf_counter() + args.seconds
            i += 1
    t = time.perf_counter()
    bad = wl.check_run(spark)
    phases["check_run"] = time.perf_counter() - t
    failed += len(bad)
    errors += bad
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    warm = [i for i in walls if i >= first and i not in traced]
    if 0 not in walls or not warm:
        raise RuntimeError("no successful cold and warm pass to measure")
    bench = sys.modules["bench"]
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cpus, "input_rows": wl.input_rows, "warm_passes": len(warm),
        "traced_passes": len(traced), "setup_samples": len(setups),
        "noise_floor_s": bench.noise_floor(spark),
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "errors": errors[:20],
        "pass_s": {i: round(sum(w.values()), 3) for i, w in walls.items()},
    }
    t = time.perf_counter()
    probe = prefix_probe(spark, wl) if args.trace and wl.steps else None
    phases["prefix_probe"] = time.perf_counter() - t
    context["phase_s"] = {k: round(v, 2) for k, v in phases.items()}
    app_id = spark.sparkContext.applicationId
    stop_spark(spark)  # flushes the event log

    if args.trace:
        counters = tracing.fold_event_log(os.path.join(work, "eventlog", app_id))
        values = layer_metrics(spec, wl, tracer, traced, setups, walls, planning,
                               counters, probe, rss.peak["jvm"])
        context["span_jobs"] = span_jobs(tracer, traced, counters)
        metric_specs = spec["per_layer"]
    else:
        wall = warm_wall(walls, warm)
        values = {
            "setup_s": median([s[0] for s in setups]),
            "first_pass_s": sum(walls[0].values()),
            "wall_s": wall,
            "rows_per_s": wl.input_rows / wall,
            "cpu_s": median([cpu[i] for i in warm]),
            "py_peak_rss_mb": rss.peak["python"] / 2**20,
        }
        metric_specs = spec["end_to_end"]
    print(json.dumps({"perfbench_context": context}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metric_specs},
    }


def main(argv=None) -> int:
    from_start = time.time()
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    pin_environment(work, nproc(), bool(args.trace))
    try:
        import pyspark  # noqa: F401
        importlib.import_module("ma_anonymization_etl_spark")
        from perfbench import tracing
    except ImportError as exc:
        print(f"perfbench: cannot import the engine next to {ROOT}: {exc}", file=sys.stderr)
        return 2
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Set-up is measured from process start, as a user of the CLI waits.
    t_process = time.perf_counter() - (from_start - tracing.process_start_epoch())
    try:
        result = run(args, work, t_process)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
