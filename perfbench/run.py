"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload matmul --seed 7 --seconds 5 --trace 0

Run from the root of a checkout of the repository. One process: the
benchmark makes the workload's inputs from the seed, sets up the
package's Spark session and runs one untimed warm-up job (set-up time
is process start to the first timed job, input generation excluded),
then runs a closed loop with one client for ``--seconds``: each job
starts after the previous job's output is on its sink and has been
read back and checked. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics BENCHMARK.json names with ``--trace 0``, its per-layer metrics
with ``--trace 1``). The line before it is the full record, also
written with the span trace under ``.perfbench/results/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "matrix_multiplication_map_reduce_gcp_spark"
# The warm-up job's inputs come from another seed than the timed jobs'.
WARMUP_SEED_OFFSET = 1 << 31
OUT_DIR = os.path.join(ROOT, ".perfbench")

# Python-worker GEMMs and this process's NumPy baseline use one BLAS
# thread each: local[nproc] already runs one task per core. Set before
# NumPy loads and before the JVM (whose Python workers inherit it)
# starts.
BLAS_ENV = {k: "1" for k in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """Names and units of the end-to-end and per-layer metrics, as
    BENCHMARK.json at the checkout root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def box_settings() -> dict:
    """Session sizing for this host: one task slot per usable core and
    a driver heap well below physical memory (the package defaults,
    local[32] and a 48g heap, oversubscribe a small box)."""
    import procstats

    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(3072, procstats.mem_total_mb() // 4)
    return {"cpus": cpus, "heap": f"{heap_mb}m"}


def spark_conf(box: dict, scratch: str) -> dict:
    return {
        "spark.driver.memory": box["heap"],
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        # JVM temp files stay in the run directory; no hsperfdata file
        # in the system temp dir.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def versions(spark) -> dict:
    import numpy
    import pyarrow
    import pyspark

    props = spark.sparkContext._jvm.System.getProperty
    commit = None
    try:
        # The ceiling keeps git from searching directories above ROOT.
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        pass
    return {
        "spark": pyspark.__version__,
        "java": f"{props('java.vendor')} {props('java.version')}",
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "git_commit": commit,
    }


def tail_stat(values: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile). Under eleven samples there is none; the
    maximum is reported, as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def stop_spark() -> None:
    """Stop the active SparkContext, then the JVM this process launched,
    and wait until it has exited. Does nothing when neither runs."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    os.environ.update(BLAS_ENV)
    sys.path.insert(0, ROOT)

    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    scratch = os.path.join(OUT_DIR, "runs", run_id)
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # spark-submit's launcher JVM: no hsperfdata file in the system temp dir.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tracer = tracing.Tracer(run_id)
    run_span = tracer.open("run", start=T_START)
    try:
        record = run(args, scratch, tracer, run_span)
    finally:
        stop_spark()  # after an error; a finished run has stopped it
        tracer.close(run_span)
        shutil.rmtree(scratch, ignore_errors=True)

    results = os.path.join(OUT_DIR, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    tracer.write(os.path.join(results, f"{run_id}.trace.json"))

    print(json.dumps(record, sort_keys=True))
    print(json.dumps(record["result"]))
    if not record["result"]["correct"]:
        print(f"perfbench: WRONG OUTPUT: {record['errors']}", file=sys.stderr)
        return 1
    return 0


def run(args, scratch: str, tracer, run_span) -> dict:
    import procstats
    import sparkstats
    import workloads
    from workloads import Steps, median

    from matrix_multiplication_map_reduce_gcp_spark.session import get_spark

    box = box_settings()
    conf = spark_conf(box, scratch)
    for d in ("spark-local", "warehouse"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    cls = workloads.WORKLOADS[args.workload]
    wl, warm = cls(), cls(**cls.warmup_kw)
    sink = os.path.join(scratch, "sink")

    # Input generation happens before set-up and is not part of it.
    t0 = time.perf_counter()
    with tracer.span("inputgen", run_span):
        wl.make_inputs(args.seed, os.path.join(scratch, "inputs"), box["cpus"])
        warm.make_inputs(args.seed + WARMUP_SEED_OFFSET, os.path.join(scratch, "warmup_inputs"), box["cpus"])
    inputgen_s = time.perf_counter() - t0

    # Set-up: everything from process start to the first timed job
    # except input generation. That is the interpreter's imports, the
    # JVM launch and session build in get_spark, and the workload's
    # untimed warm-up jobs on inputs from another seed, the first of
    # them the first call of the package's public functions in this
    # JVM. The timed jobs then start with compiled code and the Python
    # workers up. The warm-up's output is checked after set-up ends.
    with tracer.span("setup", run_span) as setup_span:
        with tracer.span("session.get_spark", setup_span):
            spark = get_spark(cpus=box["cpus"], extra_conf=conf)
        t_session = time.perf_counter()
        sc = spark.sparkContext
        for w in range(cls.warmup_jobs):
            with tracer.span("warmup", setup_span, round=w):
                warm.job(spark, Steps(sc, f"warmup{w}"), os.path.join(scratch, "warm_sink"))
        t_ready = time.perf_counter()
    setup = {
        "get_spark_s": t_session - T_START - inputgen_s,
        "warmup_s": t_ready - t_session,
        "setup_s": t_ready - T_START - inputgen_s,
    }

    jvm_pid = sc._gateway.proc.pid
    stats = sparkstats.SparkStats(spark)
    jobs, errors, step_stats = [], [], []
    err = warm.verify(os.path.join(scratch, "warm_sink"))
    if err:
        errors.append(f"warmup: {err}")
    calib0 = procstats.calib_gemm_s()
    steal0 = procstats.host_cpu_ticks()
    stats.reset_memory_peaks()
    with procstats.RssSampler(jvm_pid) as rss:
        loop_start = time.perf_counter()
        i = 0
        traced = bool(args.trace)
        while time.perf_counter() - loop_start < args.seconds:
            job_id = f"job{i}"
            steps = Steps(sc, job_id, jvm_pid if traced else None)
            rec = {"id": job_id}
            with tracer.span("job", run_span, job=job_id) as job_span:
                cpu0 = procstats.tree_cpu_s(jvm_pid)
                thr0 = time.thread_time()
                gc0 = stats.jvm_gc_s() if traced else 0.0
                rss.armed.set()
                t0 = time.perf_counter()
                try:
                    with tracer.span("call+sink", job_span):
                        wl.job(spark, steps, sink)
                    ok_call = True
                except Exception as e:  # a raising job is a failed job
                    ok_call = False
                    rec["error"] = f"{type(e).__name__}: {e}"
                    traceback.print_exc()
                wall = time.perf_counter() - t0
                rss.armed.clear()
                thr = time.thread_time() - thr0
                cpu1 = procstats.tree_cpu_s(jvm_pid)
                rec["wall_s"] = wall
                rec["jvm_cpu_s"] = cpu1["jvm"] - cpu0["jvm"]
                rec["python_cpu_s"] = cpu1["python"] - cpu0["python"]
                rec["cpu_s"] = rec["jvm_cpu_s"] + rec["python_cpu_s"] + thr
                rec["step_s"] = dict(steps.walls)
                if traced:
                    rec["gc_s"] = stats.jvm_gc_s() - gc0
                if ok_call:
                    with tracer.span("verify", job_span):
                        t1 = time.perf_counter()
                        err = wl.verify(sink)
                        rec["verify_s"] = time.perf_counter() - t1
                    if err:
                        rec["error"] = err
                rec["ok"] = "error" not in rec
                if traced:
                    rec["trace_overhead_s"] = steps.overhead_s
                    with tracer.span("read_metrics", job_span):
                        step_stats.append(
                            {
                                name: dict(
                                    stats.group_stats(steps.groups[name], steps.walls[name]),
                                    wall_s=steps.walls[name],
                                    python_cpu_s=steps.python_cpu_s[name],
                                )
                                for name in steps.walls
                            }
                        )
            if not rec["ok"]:
                errors.append(f"{job_id}: {rec['error']}")
            jobs.append(rec)
            i += 1
        loop_wall = time.perf_counter() - loop_start
    steal1 = procstats.host_cpu_ticks()
    heap_peak_mb = stats.heap_peak_mb()
    load = procstats.loadavg_1m()
    calib1 = procstats.calib_gemm_s()

    baseline = wl.baseline_s()
    vers = versions(spark)
    teardown0 = time.perf_counter()
    with tracer.span("teardown", run_span):
        stop_spark()
    teardown_s = time.perf_counter() - teardown0

    ok = [j for j in jobs if j["ok"]]
    walls = [j["wall_s"] for j in ok] or [j["wall_s"] for j in jobs]
    tail, tail_pct = tail_stat(walls)
    attempted = len(jobs)
    failed = attempted - len(ok)
    e2e = {
        "setup_s": setup["setup_s"],
        "job_s_p50": median(walls),
        "job_s_tail": tail,
        "jobs_per_min": 60.0 * len(ok) / sum(j["wall_s"] for j in jobs),
        "cpu_s_per_job": median(j["cpu_s"] for j in jobs),
        "peak_rss_mb": rss.peak_mb,
        "ok_share": len(ok) / attempted,
    }
    host = {
        "host.steal_share": procstats.steal_share(steal0, steal1),
        "host.loadavg_1m": load,
        "host.calib_gemm_s": (calib0 + calib1) / 2,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "run_id": tracer.run_id,
        "box": dict(box, blas_env=BLAS_ENV, spark_conf=conf),
        "versions": vers,
        "end_to_end": e2e,
        "job_s_tail_percentile": tail_pct,
        "job_count": len(walls),
        "failed_share": failed / attempted,
        "setup": setup,
        "diagnostics": {
            "bench.inputgen_s": inputgen_s,
            "bench.loop_wall_s": loop_wall,
            # warm-up check, metric readers and the host probe
            "bench.pre_loop_s": loop_start - t_ready,
            "jvm.heap_peak_mb": heap_peak_mb,
            "bench.teardown_s": teardown_s,
            "bench.verify_s": median(j.get("verify_s", 0.0) for j in jobs),
            **{f"baseline.numpy_1t_s.{k}": v for k, v in baseline.items()},
            **host,
        },
        "jobs": jobs,
        "errors": errors,
    }
    end_to_end, per_layer = declared_metrics()
    if args.trace:
        layers = layer_metrics(wl, jobs, step_stats, setup, heap_peak_mb, host, baseline)
        record["layers"] = layers
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit in per_layer.items()}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in end_to_end.items()}
    record["result"] = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return record


def layer_metrics(
    wl, jobs: list[dict], step_stats: list[dict], setup: dict, heap_peak_mb: float, host: dict, baseline: dict
) -> dict:
    """Per-layer metrics of a traced run: per-job sums over the job's
    steps, then the median over jobs. ``step_stats[i]`` holds the
    Spark metrics of job i's steps."""
    import sparkstats
    from workloads import median

    def per_job(fn):
        return median(fn(j) for j in jobs)

    def per_job_steps(fn):
        return median(fn(steps.values()) for steps in step_stats)

    def total(key):
        return per_job_steps(lambda steps: sum(s[key] for s in steps))

    per_step: dict[str, list[dict]] = {}
    for steps in step_stats:
        for name, s in steps.items():
            per_step.setdefault(name, []).append(s)

    out = {
        "session.get_spark_s": setup["get_spark_s"],
        "session.warmup_s": setup["warmup_s"],
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.driver_gap_s": total("driver_gap_s"),
        "spark.executor_run_s": total("executor_run_s"),
        "spark.executor_cpu_s": total("executor_cpu_s"),
        "spark.gc_s": per_job(lambda j: j["gc_s"]),
        "spark.task_gc_s": total("task_gc_s"),
        "spark.spill_bytes": total("spill_bytes"),
        "spark.peak_execution_memory_bytes": per_job_steps(lambda steps: max(s["peak_execution_memory_bytes"] for s in steps)),
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": total("shuffle_read_bytes"),
        "spark.input_bytes": total("input_bytes"),
        "spark.task_skew": per_job_steps(lambda steps: max(s["task_skew"] for s in steps)),
        "python.ops": per_job_steps(lambda steps: sum(len(sparkstats.python_ops(s["sql"])) for s in steps)),
        "python.arrow_bytes_to_python": per_job_steps(
            lambda steps: sum(sparkstats.arrow_bytes_to_python(s["sql"]) for s in steps)
        ),
        "python.worker_cpu_s": per_job(lambda j: j["python_cpu_s"]),
        "jvm.cpu_s": per_job(lambda j: j["jvm_cpu_s"]),
        "jvm.heap_peak_mb": heap_peak_mb,
        # Tracing work inside the timed interval (the per-step /proc
        # reads; Spark's status store runs whether traced or not), as a
        # share of job wall time. Metric reads happen between jobs.
        "trace.overhead_share": sum(j["trace_overhead_s"] for j in jobs) / sum(j["wall_s"] for j in jobs),
        **host,
    }
    run_s, cpu_s = out["spark.executor_run_s"], out["spark.executor_cpu_s"]
    out["spark.cpu_share"] = cpu_s / run_s if run_s else 0.0
    out.update({f"baseline.numpy_1t_s.{k}": v for k, v in baseline.items()})
    out.update(wl.layers(per_step))
    return out


if __name__ == "__main__":
    sys.exit(main())
