"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload crawl_intake --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the seed,
starts a local Spark session on at most 4 cores, sets up the layouts the
workload needs, repeats the workload's unit of work for ``--seconds`` and
checks every output against an independent computation. With
``--trace 0`` it reports the end-to-end metrics; with ``--trace 1`` the
per-layer metrics. The last stdout line is the result; a fuller record
(host shape, sample counts, layer table) goes to stderr and to
``perfbench/.work/records/``. Exit code 1 means a check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shlex
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("curate_build", "crawl_intake")
MAX_CPUS = 4


def _host(cpus: int) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": cpus,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def _environment(work: Path, cpus: int) -> None:
    """Keep every file the session writes inside ``work`` and size it. The
    driver heap is fixed at 1 GB from the start: a heap the JVM grows on
    demand left the peak RSS varying by a fifth from run to run. The JVM
    compiles with C1 only: with the optimising compiler as well, request
    latencies kept falling for one to two minutes after the first call
    (BM25 from 1.4 s to 0.6 s), far longer than a run, so each run
    measured a different point of that curve. With C1 they settle within
    seconds."""
    for d in ("local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    java_opts = (f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms1g "
                 "-XX:TieredStopAtLevel=1")
    confs = {
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=str(work / "local"),
        SPARK_DRIVER_MEMORY="1g",
        TMPDIR=str(work / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([str(ROOT)] + ([path] if path else [])),
        PYSPARK_SUBMIT_ARGS=f"{submit} pyspark-shell",
    )


def _peak_rss_mb(jvm_pid: int | None) -> float:
    """Driver Python plus JVM resident high-water marks."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [str(ROOT), str(HERE)]
    import vector_db_example_spark  # noqa: F401  (fail fast without the engine)

    import metrics
    import workloads
    from tracing import Tracer

    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, cpus)
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        from vector_db_example_spark.session import get_spark

        t0 = time.perf_counter()
        with tracer.span("session", "start"):
            spark = get_spark(app_name="perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            # the first job; the Python workers start in the untimed warm-up
            spark.range(1000).selectExpr("sum(id)").collect()
        session_s = time.perf_counter() - t0
        if tracer.enabled:
            metrics.install_patches(tracer)
        ctx = workloads.Ctx(spark, tracer, work, args.seed, args.seconds)
        t_run = time.perf_counter()
        getattr(workloads, args.workload)(ctx)
        run_s = time.perf_counter() - t_run
        tracer.enabled = False
        tracer.unpatch()
        host = _host(cpus)
        host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        rss = _peak_rss_mb(proc.pid if proc is not None else None)
        if args.trace:
            from tracing import fetch_jobs

            values, table = metrics.per_layer(ctx, tracer, fetch_jobs(spark), session_s)
        else:
            values, table = metrics.end_to_end(ctx, session_s, rss), None
    finally:
        if spark is not None:
            _stop(spark)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "sizes": ctx.sizes,
        "run_s": run_s,
        "session_start_s": session_s,
        "setup_walls_s": ctx.setup_walls,
        "samples": {k: len(v) for k, v in ctx.samples.items()},
        "sample_values": {k: ctx.samples.get(k) for k in (
            "ivf_search", "bm25_search", "batch_search", "curate_pass", "intake_round")},
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "failures": ctx.failures[:20],
        "metrics": values,
        "layers": table,
    }
    records = HERE / ".work" / "records"
    records.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (records / name).write_text(json.dumps(record, indent=1, sort_keys=True))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, sort_keys=True), file=sys.stderr)
    correct = ctx.failed == 0 and ctx.attempted > 0
    units = {k: u for k, (u, _) in metrics.PER_LAYER.items()} if args.trace else metrics.UNITS
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
