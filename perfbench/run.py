"""Benchmark entry point.

    python3 perfbench/run.py --workload boxoffice_daily --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a source checkout. Inputs are generated from
``--seed`` (perfbench/gen.py) under ``.perfbench_work/`` in the checkout,
which also holds Spark's scratch space, and is removed at the end of the
run. Spark runs on ``local[<cpus>]`` with an explicit driver heap.

With ``--trace 0`` the run reports the end-to-end metrics; with
``--trace 1`` it installs the tracing in perfbench/tracing.py and reports
the per-layer metrics. The traced run also reports the tracing overhead,
traced ``loop_s`` minus the median ``loop_s`` of earlier untraced runs of
the same code and seed in this checkout, in its run record. The last
stdout line is the result object; the line before it is the run record.

``--seconds`` is accepted for the common benchmark interface; a run does
one simulated day (boxoffice_daily) or one daily loop (daily_fold), each
longer than any useful run length.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

DRIVER_HEAP = "2g"
# Session restarts in the launched JVM per run; setup_s is their median.
# The first set-up also launches the JVM, a different and noisier cost: it
# goes into the run record, not into setup_s.
SETUPS = 5
# Inputs per workload: simulated KOFIC days, daily fold batches, arrival
# files, and the generator parts it reads.
SHAPE = {
    "boxoffice_daily": (1, 0, 0, ("facts", "kofic")),
    "daily_fold": (0, 1, 1, ("curation",)),
}
# Warm-up query of each set-up: a grouped count over one input.
WARMUP = {
    "boxoffice_daily": ("facts/orders", "o_orderstatus"),
    "daily_fold": ("curation/base", "lang"),
}
RUNNERS = {
    "boxoffice_daily": workloads.boxoffice_daily,
    "daily_fold": workloads.daily_fold,
}
END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "loop_cpu_s": "s"}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def environment(run_dir: Path) -> dict[str, str]:
    """Fixed Spark environment; everything Spark writes stays in run_dir."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        # Every JVM, the spark-submit launcher's too, keeps off /tmp.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": f"--driver-memory {DRIVER_HEAP} pyspark-shell",
    }
    os.environ.update(env)
    return env


def spark_conf(run_dir: Path, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.enabled": "true" if traced else "false",
    }
    if traced:
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return conf


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM so far (VmHWM)."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("driver JVM has no VmHWM")


def _proc_cpu(pid: int) -> tuple[int, float] | None:
    """(parent pid, CPU seconds of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return int(fields[1]), ticks / os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """CPU seconds used so far by this process, the driver JVM and every
    process under the JVM (Python workers), reaped children included."""
    from pyspark import SparkContext

    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            got = _proc_cpu(int(entry))
            if got is not None:
                procs[int(entry)] = got
    tree, frontier = set(), {SparkContext._gateway.proc.pid}
    while frontier:
        tree |= frontier
        frontier = {p for p, (pp, _) in procs.items()
                    if pp in frontier and p not in tree}
    own = os.times()
    return (sum(procs[p][1] for p in tree if p in procs)
            + own.user + own.system + own.children_user
            + own.children_system)


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def shutdown(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def code_key() -> str:
    """Digest of the program and benchmark sources (documentation aside):
    records of earlier runs are compared only with runs of the same code."""
    h = hashlib.sha256()
    for sub in ("data_pipeline_team5_spark", "perfbench"):
        for p in sorted((ROOT / sub).rglob("*")):
            if (p.is_file() and p.suffix != ".md"
                    and "__pycache__" not in p.parts):
                h.update(str(p.relative_to(ROOT)).encode() + b"\0")
                h.update(p.read_bytes())
    return h.hexdigest()[:16]


def state_dir(args) -> Path:
    """Where runs of this code, workload and seed leave records for later
    runs: untraced ``loop_s`` values and the output digest."""
    return (ROOT / ".perfbench_work" / "state" / code_key()
            / f"{args.workload}-{args.seed}")


def remember_loop(args, loop_s: float) -> None:
    d = state_dir(args)
    d.mkdir(parents=True, exist_ok=True)
    with open(d / "loop_s.jsonl", "a") as f:
        f.write(json.dumps(loop_s) + "\n")


def untraced_loop_s(args) -> float | None:
    """Median ``loop_s`` of earlier untraced runs of this code and seed in
    this checkout; None before the first one."""
    path = state_dir(args) / "loop_s.jsonl"
    if not path.exists():
        return None
    return median([json.loads(x) for x in path.read_text().splitlines()])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(run, tracer, setups, region_s, info) -> dict:
    """Per-layer metrics of the traced run: totals over the run's one
    simulated day or daily loop, medians for per-query and per-batch
    figures."""
    sp = run.spans
    tracer.fetch_stages()

    def total(name):
        return sum(sp.walls(name))

    def jobs(name):
        return sum(len(r) for r in sp.jobs(name))

    m = {
        "session.start_s": median([s["start_s"] for s in setups]),
        "session.warmup_s": median([s["warmup_s"] for s in setups]),
        "sources.ingest_s": total("sources.ingest"),
        "functions.checks.gate_s": total("functions.checks.gate"),
        "functions.checks.jobs": jobs("functions.checks.gate"),
        "models.run_s": total("models.run"),
        "pipeline.transform_s": total("pipeline.transform"),
    }
    build = run_ = eager = 0.0
    for q in workloads.DASHBOARD:
        b = median(sp.walls(f"plans.{q}.build"))
        r = median(sp.walls(f"plans.{q}.run"))
        build, run_ = build + b, run_ + r
        eager += median([len(x) for x in sp.jobs(f"plans.{q}.build")])
        m[f"plans.{q}.wall_s"] = median(sp.walls(f"plans.{q}"))
        m[f"plans.{q}.jobs"] = median([len(x) for x in sp.jobs(f"plans.{q}")])
    m.update({"plans.build_s": build, "plans.eager_jobs": eager,
              "plans.run_s": run_})
    folds = info.get("folds", [])
    new = sum(f["new"] or 0 for f in folds)
    m.update({
        "pipeline.curate_incremental_batch_s":
            total("pipeline.curate_incremental_batch"),
        "pipeline.curate_incremental_batch.jobs":
            jobs("pipeline.curate_incremental_batch"),
        "pipeline.append_corpus_batch_s":
            total("pipeline.append_corpus_batch"),
        "pipeline.pins_live": max(tracer.pins["fold"], default=0),
        "pipeline.kept_ratio":
            sum(f["kept"] or 0 for f in folds) / new if new else 0.0,
    })
    for cmd in ("init-corpus", "build-index", "incremental",
                "stream", "compact"):
        m[f"curate.{cmd}.wall_s"] = median(sp.walls(f"curate.{cmd}"))
    m.update({
        "sources.write_s": total("sources.write"),
        "sources.files_written": sum(f for f, _ in tracer.writes),
        "sources.bytes_written_mb": sum(b for _, b in tracer.writes) / 1e6,
    })
    prog = [p for p in tracer.progress if p["rows"] > 0]
    arrival_rows = info.get("arrival_rows", 0)
    m.update({
        "streaming.batch_s": median(
            [p["duration_ms"].get("triggerExecution", 0) / 1e3 for p in prog]
        ),
        "streaming.add_batch_s": median(
            [p["duration_ms"].get("addBatch", 0) / 1e3 for p in prog]
        ),
        "streaming.batches": len(sp.walls("streaming.micro_batch")),
        "streaming.scan_amplification":
            sum(p["rows"] for p in prog) / arrival_rows
            if arrival_rows else 0.0,
        "streaming.pins_live": max(tracer.pins["stream"], default=0),
    })
    ops = tracer.counters({j for _, r in run.timed for j in r})
    for k in ("jobs", "stages", "task_s", "shuffle_mb", "input_mb",
              "spill_mb", "gc_s"):
        m[f"operators.{k}"] = ops.get(k, 0.0)
    m["operators.busy_ratio"] = ops.get("task_s", 0.0) / (region_s * cpus())
    return m


LAYER_UNITS = {
    "_s": "s", ".jobs": "count", "_jobs": "count", "_mb": "MB",
    "_ratio": "ratio", ".batches": "count", ".stages": "count",
    "pins_live": "count", "files_written": "count",
    "scan_amplification": "ratio",
}


def unit_of(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def set_up(conf, inputs: Path, warm_rel: str, warm_col: str, want: int):
    """Start a session and warm it up with a grouped count over one input;
    returns the session and the two times."""
    from data_pipeline_team5_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    n = sum(r["count"] for r in spark.read.parquet(
        str(inputs / f"{warm_rel}.parquet")
    ).groupBy(warm_col).count().collect())
    t2 = time.perf_counter()
    if n != want:
        raise RuntimeError(f"warm-up counted {n} of {want} rows")
    return spark, {"start_s": t1 - t0, "warmup_s": t2 - t1,
                   "setup_s": t2 - t0}


def execute(args, run_dir: Path) -> tuple[dict, dict, list[str]]:
    """Generate inputs, set up, run the workload; returns (result, record,
    human-readable lines)."""
    traced = bool(args.trace)
    baseline = untraced_loop_s(args) if traced else None
    inputs, work = run_dir / "inputs", run_dir / "work"
    work.mkdir(parents=True)
    env = environment(run_dir)
    os.chdir(work)  # anything Spark writes relative to its cwd stays here
    t = time.perf_counter()
    stats = gen.generate(args.seed, str(inputs), *SHAPE[args.workload])
    gen_s = time.perf_counter() - t

    sys.path.insert(0, str(ROOT))
    import pyspark

    conf = spark_conf(run_dir, traced)
    warm_rel, warm_col = WARMUP[args.workload]
    warm = (conf, inputs, warm_rel, warm_col, stats[warm_rel][0])
    spark = None
    try:
        spark, launch = set_up(*warm)
        setups = []
        for _ in range(SETUPS):
            spark.stop()
            spark, one = set_up(*warm)
            setups.append(one)
        sc = spark.sparkContext
        dag = sc._jsc.sc().dagScheduler()
        spans = tracing.Spans(job_watermark=dag.nextJobId if traced else None)
        tracer = tracing.Tracer(spark, spans) if traced else None
        run = workloads.Run(spark, str(inputs), str(work), spans, tracer,
                            cpu=cpu_seconds)
        if tracer is not None:
            tracer.install()
        steal0 = steal_ticks()
        t0 = time.perf_counter()
        try:
            info = RUNNERS[args.workload](run)
        finally:
            if tracer is not None:
                tracer.uninstall()
        steal1 = steal_ticks()
        rss = peak_rss_mb()
        region_s = sum(w for w, _ in run.timed)
        check_s = time.perf_counter() - t0 - region_s
        if args.workload == "boxoffice_daily":
            loop_s = info["day_s"]
            named = {
                "loop_s": ("s", loop_s),
                "ingest_day_s": ("s", sum(spans.walls("ingest_day"))),
                "dash_refresh_s": ("s", info["refresh_s"]),
            }
        else:
            loop_s = region_s  # every timed operation is a curate call
            batches = len(info["stream_batches"] or []) or 1
            info["arrival_rows"] = sum(
                v[0] for k, v in stats.items()
                if k.startswith("curation/arrivals/")
            )
            named = {
                "loop_s": ("s", loop_s),
                "fold_s": ("s", median(spans.walls("curate.incremental"))),
                "stream_batch_s": (
                    "s", sum(spans.walls("curate.stream")) / batches),
            }
            check_digest(run, args, info)
        error_rate = run.failed / max(run.attempted, 1)
        setup_s = median([s["setup_s"] for s in setups])
        metrics = {"setup_s": setup_s, "peak_rss_mb": rss,
                   "loop_cpu_s": run.cpu_s}
        if not traced and not run.failed:
            remember_loop(args, loop_s)
        overhead_s = None if baseline is None else loop_s - baseline
        if traced:
            layers = layer_metrics(run, tracer, setups, region_s, info)
            layers["trace.self_s"] = tracer.self_s
            out_metrics = {
                k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()
            }
        else:
            out_metrics = {
                k: {"value": v, "unit": END_TO_END[k]}
                for k, v in metrics.items()
            }
    finally:
        shutdown(spark)
    lines = [f"{k} {v:.6g} {END_TO_END[k]}" for k, v in metrics.items()]
    lines += [f"{k} {v:.6g} {u}" for k, (u, v) in named.items()]
    lines.append(f"error_rate {error_rate:.6g} ratio "
                 f"({run.failed} of {run.attempted})")
    if traced:
        lines.append(
            f"trace.overhead_s {overhead_s:.6g} s" if overhead_s is not None
            else "trace.overhead_s n/a (no untraced run of this code and "
                 "seed in this checkout yet)"
        )
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cpus": cpus(), "driver_heap": DRIVER_HEAP,
        "pyspark": pyspark.__version__, "loadavg": os.getloadavg(),
        "code": code_key(),
        "env": {k: v for k, v in env.items() if k != "PYSPARK_PYTHON"},
        "inputs": stats, "gen_s": gen_s, "launch": launch, "setups": setups,
        "timed_s": region_s, "check_s": check_s,
        # Share of the machine's CPU time the hypervisor gave to other
        # guests while the workload ran: it slows the walls of a run.
        "steal_share": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        "named": {k: {"value": v, "unit": u} for k, (u, v) in named.items()},
        "error_rate": error_rate, "failures": run.failures,
        "ops": {n: spans.walls(n) for n in sorted({r[0] for r in
                                                   spans.records})},
        "info": info,
    }
    if traced:
        record["untraced_loop_s"] = baseline
        record["traced_loop_s"] = loop_s
        record["trace_overhead_s"] = overhead_s
        record["pins"] = dict(tracer.pins)
        record["stream_progress"] = tracer.progress
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out_metrics,
    }
    return result, record, lines


def check_digest(run, args, info) -> None:
    """The daily loop on one seed must leave the same documents in the same
    bins on every run of the same code: the first clean run stores the row
    count and digest of the compacted assignments, later runs compare
    against it."""
    if info.get("out_digest") is None:
        return
    path = state_dir(args) / "digest.json"
    now = {"rows": info["out_rows"], "digest": info["out_digest"]}
    if path.exists():
        prev = json.loads(path.read_text())
        run.verify("check.repeatable", None if prev == now
                   else f"assignments {now} != earlier run {prev}")
    else:
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}")
        tmp.write_text(json.dumps(now))
        tmp.replace(path)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "data_pipeline_team5_spark" / "__init__.py").is_file():
        print(f"perfbench: no program sources under {ROOT}; run from the "
              "root of a source checkout", file=sys.stderr)
        return 2
    run_dir = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        result, record, lines = execute(args, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
