"""The repository's benchmark: one workload per run, cold, checked.

Usage (from any directory):

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

Workloads (BENCHMARK.json lists the last two):
  relational      a panel of oracle-checked, JVM-only registry entries
                  (scan, join, window, set ops, aggregation, TPC-H): the
                  control for Python-side changes
  llm_corpus      a panel of dedup, text and multimodal entries
  weather_stream  the weather job (framed Avro, availableNow, memory
                  sink) over a backlog generated from the seed
Batch panels run in a fixed order (see ``entries.PANELS``); a batch run
repeats its panel, and a stream run its job, while another repetition
fits in ``--seconds``.

With ``--trace 0`` the last stdout line holds the end-to-end metrics:
  setup_s         process start until the session is ready and warm
  cold_wall_s     one cold pass over the workload's work: every panel
                  entry's full result, or one job run over the backlog
  entry_p50_s,    latency of one unit of work: an entry (build + plan +
  entry_tail_s    noop write), or one job run on ``weather_stream``
  events_per_s    generated events per second of job run; on batch
                  workloads, entries completed per second of a pass
  batch_p50_ms,   micro-batch ``triggerExecution``; on batch workloads,
  batch_tail_ms   an entry's plan + execute part (its noop write)
The share of failed operations is ``failed / attempted`` of the result:
an entry or job run that raises or gives a wrong result is one failed
operation and never stops the run.
Tails are the highest percentile with at least 10 samples beyond it;
the line before the result prints that percentile and sample count.

With ``--trace 1`` the same work runs with the event log on and layer
probes installed, and the last line holds the per-layer metrics, the
traced end-to-end values (``traced.*``) and ``trace.overhead_s``, the
time the probes themselves spent. ``process.peak_rss_mb`` (driver JVM
plus Python workers, sampled from /proc every 0.1 s, shared pages
counted once) is among them rather than gated end to end: the JVM's
heap growth moved it 20-25% between identical runs. Tracing overhead
against an untraced run of the same seed is the difference of the
``traced.*`` values and that run's metrics.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root. Exit code 0 means the run completed; a wrong result
is reported through ``correct``/``failed``, not the exit code.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

if __package__ in (None, ""):  # run as a script: make `perfbench` importable
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import stats  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("relational", "llm_corpus", "weather_stream")
# One data file: the job then runs two micro-batches (data, then the
# event-time timeouts), ~10 s each at the engine's 32 state partitions.
# A second file would add the late-beyond-watermark path but ~10 s per
# run, which the driver's time window cannot spare.
STREAM_SHAPE = {"n_batches": 1, "events_per_batch": 6000, "n_devices": 300}


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def driver_heap() -> str:
    """A driver heap that fits the machine: 30% of RAM, 1-16 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1024, min(16384, int(total_kb * 0.3 / 1024)))}m"


def prepare_env(work: Path, trace: bool) -> dict[str, str]:
    """Point every writer at the work dir; return the session confs.

    Must run before the JVM starts: the driver JVM and the Python
    workers it forks inherit this environment, so the workers can import
    the engine package from the repository root whatever the cwd is.
    """
    for sub in ("tmp", "spark-local", "warehouse", "checkpoints", "events", "stream"):
        # what an earlier, possibly killed, run left; tables and oracle
        # answers are kept
        shutil.rmtree(work / sub, ignore_errors=True)
        (work / sub).mkdir(parents=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM the launcher starts: no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["WFS_CHECKPOINT_DIR"] = str(work / "checkpoints" / "rdd")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", driver_heap())
    conf = {
        "spark.sql.streaming.checkpointLocation": str(work / "checkpoints" / "stream"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work / 'events'}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",  # one file to tail
            }
        )
    return conf


def warm_up(spark) -> None:
    """Make the session warm: its first job and shuffle, and one Python
    worker per core."""
    import pandas as pd

    cores = spark.sparkContext.defaultParallelism
    df = spark.range(0, 20_000, numPartitions=cores).selectExpr("id % 7 AS k", "id AS v")
    df.groupBy("k").sum("v").write.format("noop").mode("overwrite").save()

    def plus_one(batches):
        for b in batches:
            yield pd.DataFrame({"v": b["v"] + 1})

    df.mapInPandas(plus_one, "v long").write.format("noop").mode("overwrite").save()


def environment(spark) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "nproc": len(os.sched_getaffinity(0)),
    }


def stop_spark(spark) -> None:
    """Stop the session, end the driver JVM and wait for its children."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:  # the JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def run_batch(spark, args, work: Path, sf_dir: str, probe, event_log) -> dict:
    """Cold passes over a seeded entry sample until the time is up."""
    from weather_flink_spark.plans.registry import all_specs

    from perfbench import entries, tables

    specs = all_specs()
    picked = list(entries.PANELS[args.workload])
    runner = entries.ColdRunner(spark, specs, sf_dir, probe, event_log)
    oracle = _oracle_module()
    duck = oracle.duck_con(sf_dir)
    duck.execute(f"SET temp_directory = '{work / 'tmp' / 'duckdb'}'")
    answers = entries.OracleAnswers(duck, str(work / "oracle"), tables.stamp())

    def check(name, df):
        return entries.result_problem(specs[name], df, answers, oracle.compare)

    runs: list[entries.EntryRun] = []
    passes: list[float] = []
    deadline = time.perf_counter() + args.seconds
    while not passes or time.perf_counter() + passes[-1] <= deadline:
        first = not passes
        timed = 0.0
        for name in picked:
            run = runner.run(name, warm_rerun=args.trace and first, check=check if first else None)
            runs.append(run)
            timed += run.wall_s
        passes.append(timed)
    runner.make_cold()
    duck.close()
    wrong = {r.name: r.problem for r in runs if r.problem}

    failed = [r for r in runs if not r.ok or r.name in wrong]
    trace_s = runner.trace_s
    ok_runs = [r for r in runs if r.ok]
    metrics, tails = entries.summarise(ok_runs or runs, passes)
    exec_ms = [1000 * r.exec_s for r in ok_runs or runs]
    tail_ms, pct, n = stats.tail(exec_ms)
    metrics["events_per_s"] = (len(picked) / stats.median(passes), "1/s")
    metrics["batch_p50_ms"] = (stats.median(exec_ms), "ms")
    metrics["batch_tail_ms"] = (tail_ms, "ms")
    tails["batch_tail_ms"] = {"percentile": pct, "samples": n}
    return {
        "metrics": metrics,
        "tails": tails,
        "attempted": len(runs),
        "failed": len(failed),
        "wrong": wrong,
        "errors": {r.name: r.error.strip().splitlines()[-1] for r in runs if not r.ok},
        "leaks": {r.name: r.leaks for r in runs if r.leaks},
        "entries": picked,
        "entry_s": [[r.name, round(r.wall_s, 3)] for r in runs],
        "passes": len(passes),
        "layer_runs": [r.layers for r in ok_runs],
        "trace_s": trace_s,
    }


def _oracle_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location("oracle_check", ROOT / "tools" / "oracle_check.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def run_stream(spark, args, work: Path, event_log) -> dict:
    """Job runs over one seeded backlog until the time is up."""
    from perfbench import events, stream

    backlog = events.generate(args.seed, **STREAM_SHAPE)
    src = events.write_batches(str(work / "stream" / "avro"), backlog.avro)
    runs: list[stream.StreamRun] = []
    failed = 0
    trace_s = 0.0
    if event_log is not None:
        event_log.drain(spark)
        event_log.window()
    deadline = time.perf_counter() + args.seconds
    while not runs or time.perf_counter() + runs[-1].wall_s <= deadline:
        run = stream.run_job(spark, src, "avro", f"presence_avro_{len(runs)}")
        runs.append(run)
        failed += run.decoded != backlog.good or run.rows != runs[0].rows
    layers = {}
    if event_log is not None:
        t0 = time.perf_counter()
        event_log.drain(spark)
        layers = event_log.window()
        trace_s = time.perf_counter() - t0

    # correctness, outside the timed region: the JSON-framed backlog
    # through the expression-only decode must give the same sink rows.
    # This twin is a reference, not timed, so it keeps its state on one
    # partition per core, which changes no output row and costs a
    # fraction of the job's 32-partition state store.
    json_src = events.write_batches(str(work / "stream" / "json"), backlog.json)
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    try:
        twin = stream.run_job(spark, json_src, "json", "presence_json")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    wrong = {}
    if runs[0].decoded != backlog.good:
        wrong["avro_decoded"] = f"{runs[0].decoded} decoded != {backlog.good} good frames"
    if twin.decoded != backlog.good:
        wrong["json_decoded"] = f"{twin.decoded} decoded != {backlog.good} good frames"
    if twin.rows != runs[0].rows:
        wrong["sink_rows"] = f"avro {len(runs[0].rows)} rows != json {len(twin.rows)} rows"
    if not runs[0].rows:
        wrong["sink_rows"] = "no presence transitions"
    failed += bool(wrong)

    metrics, tails = stream.summarise(runs, backlog.good)
    walls = [r.wall_s for r in runs]
    tail_s, pct, n = stats.tail(walls)
    metrics["cold_wall_s"] = (stats.median(walls), "s")
    metrics["entry_p50_s"] = (stats.median(walls), "s")
    metrics["entry_tail_s"] = (tail_s, "s")
    tails["entry_tail_s"] = {"percentile": pct, "samples": n}
    layer_runs = [r.layers() for r in runs] + [layers]
    return {
        "metrics": metrics,
        "tails": tails,
        "attempted": len(runs) + 1,
        "failed": failed,
        "wrong": wrong,
        "shares": backlog.shares,
        "events": backlog.good,
        "transitions": len(runs[0].rows),
        "job_runs": len(runs),
        "layer_runs": layer_runs,
        "trace_s": trace_s,
    }


# layer counters summed over a traced run's entries or job runs
LAYER_SUMS = (
    "plans.build_s",
    "operators.snapshot_rdds",
    "operators.snapshot_s",
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "catalyst.plan_s",
    "io.load_calls",
    "io.load_s",
    "io.plan_cache_misses",
    "exec.s",
    "cache.sig_builds",
    "cache.warm_s",
    "cache.cold_s",
    "sources.frames_in",
    "sources.records_out",
    "stream.batches",
    "stream.late_dropped",
    "stream.state_rows",
    "stream.state_memory_bytes",
)
RATIOS = {
    "cache.warm_over_cold": ("cache.warm_s", "cache.cold_s"),
    "sources.decode_yield": ("sources.records_out", "sources.frames_in"),
}
UNITS = (("_bytes", "bytes"), ("_ms", "ms"), ("_s", "s"), (".s", "s"))
E2E_UNITS = {
    "setup_s": "s",
    "cold_wall_s": "s",
    "entry_p50_s": "s",
    "entry_tail_s": "s",
    "events_per_s": "1/s",
    "batch_p50_ms": "ms",
    "batch_tail_ms": "ms",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    from perfbench import stream, trace

    names = list(LAYER_SUMS) + list(trace.EXEC_KEYS) + list(stream.DURATIONS.values())
    out = {n: next((u for sfx, u in UNITS if n.endswith(sfx)), "count") for n in names}
    out.update({n: "ratio" for n in RATIOS})
    out["session.start_s"] = "s"
    out["process.peak_rss_mb"] = "MB"
    out["trace.overhead_s"] = "s"
    out.update({f"traced.{k}": u for k, u in E2E_UNITS.items()})
    return out


def layer_metrics(
    result: dict, metrics: dict, session_s: float, peak_rss_mb: float
) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run: sums over its entries or job
    runs, plus the end-to-end values measured while traced."""
    units = layer_units()
    sums = {n: 0.0 for n in units}
    for layers in result["layer_runs"]:
        for k, v in layers.items():
            if k in sums:
                sums[k] += v
    for name, (num, den) in RATIOS.items():
        sums[name] = sums[num] / sums[den] if sums[den] else 0.0
    sums["session.start_s"] = session_s
    sums["process.peak_rss_mb"] = peak_rss_mb
    sums["trace.overhead_s"] = result["trace_s"]
    for k, (v, _) in metrics.items():
        sums[f"traced.{k}"] = v
    return {k: (v, units[k]) for k, v in sums.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "weather_flink_spark").is_dir() or not (ROOT / "tools" / "oracle_check.py").is_file():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work"
    conf = prepare_env(work, bool(args.trace))
    sys.path.insert(0, str(ROOT))
    from perfbench import trace

    probe = None
    if args.trace:
        probe = trace.LayerProbe()
        probe.install()
    from weather_flink_spark.session import get_spark

    # inputs first; generating them is not part of the system's set-up
    t0 = time.perf_counter()
    sf_dir = None
    if args.workload != "weather_stream":
        from perfbench import tables

        sf_dir = tables.ensure_tables(str(work / "data" / "sf0.1"))
    inputs_s = time.perf_counter() - t0

    with trace.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        warm_up(spark)
        setup = {"setup_s": process_age_s() - inputs_s, "session_s": session_s}
        try:
            event_log = None
            if args.trace:
                event_log = trace.EventLog(str(work / "events"), spark.sparkContext.applicationId)
            if args.workload == "weather_stream":
                result = run_stream(spark, args, work, event_log)
            else:
                result = run_batch(spark, args, work, sf_dir, probe, event_log)
            env = environment(spark)
        finally:
            stop_spark(spark)
    metrics = dict(result["metrics"])
    metrics["setup_s"] = (setup["setup_s"], "s")

    if args.trace:
        metrics = layer_metrics(result, metrics, setup["session_s"], rss.peak / 2**20)
    details = {k: v for k, v in result.items() if k not in ("metrics", "layer_runs")}
    print(json.dumps({"environment": env, "workload": args.workload, "seed": args.seed, **details}))
    shutil.rmtree(work / "events", ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": not result["wrong"] and result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
