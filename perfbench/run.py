"""Benchmark of pandas_etl_spark's two entry points on the host it runs on.

    python3 perfbench/run.py --workload etl_wavefront --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed`` (cached under
``perfbench/_run``), starts one ``local[nproc]`` session, runs one first
invocation and then steady invocations for ``--seconds`` (at least
``MIN_SAMPLES`` of them), checks every invocation's outputs against DuckDB
references, and prints a report followed, as the last line, by one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same loop with spans
around the package's public functions and reports the per-layer metrics.
See perfbench/README.md for the definitions.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_run")

MIN_SAMPLES = 2
# no new invocation starts after this many seconds of measuring, so a run
# ends well inside its time limit even on a slow host
HARD_CAP_S = 110.0
# traced layer walls must add up to the invocation's wall within this share
LAYER_TOLERANCE = 0.05

END_TO_END = {
    "setup_s": "s",
    "first_run_s": "s",
    "run_s": "s",
    "resume_s": "s",
    "rows_per_s": "rows/s",
    "app_cpu_s": "CPU-s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "pipeline.load_s": "s",
    "pipeline.step_build_s": "s",
    "pipeline.step_hidden_jobs": "count",
    "pipeline.waves": "count",
    "pipeline.max_wave_width": "count",
    "pipeline.wave_wait_s": "s",
    "pipeline.checkpoint_write_s": "s",
    "pipeline.checkpoint_read_s": "s",
    "pipeline.resume_hit_ratio": "ratio",
    "pipeline.resume_jobs": "count",
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "catalog.build_job_s": "s",
    "catalog.build_py_s": "s",
    "catalog.plan_s": "s",
    "catalog.exec_s": "s",
    "catalog.leaked_blocks": "count",
    "catalog.leaked_mb": "MB",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.cpu_s": "CPU-s",
    "exec.run_s": "s",
    "exec.slot_busy_ratio": "ratio",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.task_skew": "ratio",
    "udf.python_s": "s",
    "udf.python_boot_s": "s",
    "udf.bytes_to_python_mb": "MB",
    "udf.bytes_from_python_mb": "MB",
    "udf.worker_cpu_s": "CPU-s",
    "udf.workers_spawned": "count",
    "sources.sink_s": "s",
    "sources.commit_s": "s",
    "sources.bytes_written_mb": "MB",
    "sources.files_written": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.harness_s": "s",
    "jvm.gc_s": "s",
    "trace.run_s": "s",
    "trace.layer_gap_ratio": "ratio",
}

# measured on the resume invocations; every other layer metric on the fresh ones
RESUME_LAYERS = ("pipeline.checkpoint_read_s", "pipeline.resume_hit_ratio", "pipeline.resume_jobs")

WORKLOADS = ("etl_wavefront", "catalog_llm")


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line.split()[1] for line in f if line.startswith("MemTotal")))
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024, "loadavg": load}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def prepare(workload: str, size: str, seed: int, data_dir: str) -> dict:
    """Inputs and references, made in a child process (outside set-up)."""
    code = (
        "import json, sys; sys.path[:0] = [sys.argv[1], sys.argv[2]]; import workloads; "
        "print(json.dumps(workloads.prepare(sys.argv[3], sys.argv[4], int(sys.argv[5]), sys.argv[6])))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, HERE, ROOT, workload, size, str(seed), data_dir],
        capture_output=True, text=True, timeout=150, check=False, cwd=WORK,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr)
        raise SystemExit(f"input generation failed for {workload} seed {seed}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def session(cores: int, mem_mb: int):
    """Host-fit session through the package's own overrides; every scratch
    path the JVM and the workers use stays inside ``WORK``."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_mb}m"
    os.environ["TMPDIR"] = tmp
    # the environment variable wins over spark.local.dir, so set it, not the conf
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp
    from pandas_etl_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def warm_up(spark, cores: int) -> None:
    """First trivial job, then one Arrow UDF task per core so the Python
    worker pool is up."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(1).count()
    spark.range(cores * 8, numPartitions=cores).select(plus_one("id")).collect()


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the pyspark
    daemon and workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def dir_size(path: str) -> tuple[float, int]:
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total / 2**20, files


def tail_percentile(xs: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return f"n={n}, too few samples for a tail percentile"
    k = n - 10
    return f"p{100 * k // n}={sorted(xs)[k - 1]:.4f} s (n={n})"


def main() -> int:
    ap = argparse.ArgumentParser(description="pandas_etl_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the self-test")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "pandas_etl_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_harness.py")
    ):
        sys.stderr.write("perfbench: run from a checkout of the repository (package and tests/)\n")
        return 2
    sys.path[:0] = [HERE, ROOT]
    import tracing as trace
    import workloads

    host = host_facts()
    cores = host["nproc"]
    mem_mb = max(1024, min(4096, host["mem_total_mb"] // 16))
    data_dir = os.path.join(WORK, "data", f"{a.workload}-{a.size}-s{a.seed}")
    os.makedirs(WORK, exist_ok=True)
    stats = prepare(a.workload, a.size, a.seed, data_dir)
    work_dir = os.path.join(WORK, f"work-{a.workload}")
    os.makedirs(work_dir, exist_ok=True)
    os.chdir(work_dir)  # metastore/derby files of the session land here
    steal0 = cpu_ticks()

    t0 = time.perf_counter()
    spark = session(cores, mem_mb)
    t1 = time.perf_counter()
    warm_up(spark, cores)
    t2 = time.perf_counter()

    tracer = trace.Tracer(spark) if a.trace else None
    if tracer:
        tracer.install()
    wl = workloads.Workload(a.workload, spark, data_dir, work_dir, tracer)
    attempted = failed = 0
    failures: list[str] = []
    runs = {"fresh": [], "resume": []}  # (wall, app cpu, layers) of steady invocations

    def invoke(kind: str, n: int):
        nonlocal attempted, failed
        c0, g0 = trace.census(), trace.gc_seconds(spark)
        if tracer:
            with tracer.root(f"{kind}-{n}") as root:
                inv = wl.run(resume=kind == "resume")
        else:
            inv = wl.run(resume=kind == "resume")
        c1, g1 = trace.census(), trace.gc_seconds(spark)
        attempted += inv.attempted
        failed += len(inv.failures)
        failures.extend(f"{kind}-{n} {op}: {'; '.join(p)}" for op, p in inv.failures.items())
        layers = {}
        if tracer:
            trace.wait_listeners(spark)
            layers = trace.invocation_layers(tracer, root, inv.wall_s, cores)
            layers["jvm.gc_s"] = g1 - g0
            layers["udf.worker_cpu_s"] = c1.udf_cpu_s - c0.udf_cpu_s
            layers["udf.workers_spawned"] = len(c1.workers - c0.workers)
            layers["sources.bytes_written_mb"], layers["sources.files_written"] = (
                dir_size(wl.out_dir) if os.path.isdir(wl.out_dir) else (0.0, 0)
            )
        return inv.wall_s, c1.app_cpu_s - c0.app_cpu_s, layers

    pipeline = a.workload == "etl_wavefront"
    start = time.perf_counter()
    first = invoke("fresh", 0)
    if pipeline:
        invoke("resume", 0)  # the first resume pays its own first-time costs
    steady0 = time.perf_counter()
    n = 0
    while (time.perf_counter() - steady0 < a.seconds or len(runs["fresh"]) < MIN_SAMPLES) and (
        time.perf_counter() - start < HARD_CAP_S
    ):
        n += 1
        runs["fresh"].append(invoke("fresh", n))
        if pipeline:
            runs["resume"].append(invoke("resume", n))
    if not pipeline:  # no committed state to resume from: see README
        runs["resume"] = runs["fresh"]
    rss = trace.peak_rss_mb()
    if tracer:
        tracer.uninstall()
        tracer.dump(os.path.join(WORK, f"spans-{a.workload}-s{a.seed}.json"))
    conf = {k: v for k, v in spark.sparkContext.getConf().getAll() if k.startswith("spark.")
            and not k.endswith(("Options", ".id", ".host", ".port", "startTime"))}
    version = spark.version
    stop(spark)
    steal1 = cpu_ticks()

    fresh = [r[0] for r in runs["fresh"]]
    resume = [r[0] for r in runs["resume"]]
    run_s = statistics.median(fresh)
    values = {
        "setup_s": t2 - t0,
        "first_run_s": first[0],
        "run_s": run_s,
        "resume_s": statistics.median(resume),
        "rows_per_s": workloads.input_rows(a.workload, stats) / run_s,
        "app_cpu_s": statistics.median(r[1] for r in runs["fresh"]),
        "peak_rss_mb": rss,
    }
    units = END_TO_END
    if tracer:
        units = PER_LAYER
        layers = {}
        for name in PER_LAYER:
            src = runs["resume"] if name in RESUME_LAYERS and pipeline else runs["fresh"]
            layers[name] = statistics.median(r[2].get(name, 0.0) for r in src)
        steady = runs["fresh"] + (runs["resume"] if pipeline else [])
        layers["session.start_s"] = t1 - t0
        layers["session.warmup_s"] = t2 - t1
        layers["trace.run_s"] = run_s
        layers["trace.layer_gap_ratio"] = max(
            abs(w - r["trace.layer_sum_s"]) / w for w, _, r in steady
        )
        values = layers

    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    print(f"host: nproc={cores} mem_total_mb={host['mem_total_mb']} loadavg={' '.join(host['loadavg'])} "
          f"cpu_steal={steal:.4f} spark={version} driver_mem={mem_mb}m")
    print("confs: " + json.dumps(conf, sort_keys=True))
    print("inputs: " + json.dumps(stats, sort_keys=True))
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} fresh_samples={len(fresh)} "
          f"resume_samples={len(resume)}")
    print(f"run_s: median={run_s:.4f} s, {tail_percentile(fresh)}")
    print(f"samples: first={first[0]:.3f} fresh={[round(x, 3) for x in fresh]} "
          f"resume={[round(x, 3) for x in resume]}")
    for name, value in values.items():
        print(f"  {name} = {value:.6g} {units[name]}")
    if tracer:
        ok = values["trace.layer_gap_ratio"] <= LAYER_TOLERANCE
        print(f"layer walls vs invocation wall: max gap {values['trace.layer_gap_ratio']:.4f} "
              f"(tolerance {LAYER_TOLERANCE}) {'ok' if ok else 'EXCEEDED'}")
    print(f"correctness: {'ok' if not failed else 'FAILED'}; fail_ratio={failed / attempted:.4f} "
          f"({failed} failed of {attempted} operations attempted)")
    for f in failures:
        print(f"  FAIL {f}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
