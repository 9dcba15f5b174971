"""Benchmark of the extraction and curation jobs.

    python3 perfbench/run.py --workload extract_fresh --seed 1 --seconds 12 --trace 0

Run from the repository root. Opens one Spark session at width ``nproc``
(through ``SPARK_GRAFT_CPUS``), generates the workload's inputs from
``--seed``, runs an untimed warm-up job, then runs the job back to back
the workload's ``timed_runs`` times and for at least ``--seconds`` seconds,
checking every run's committed output. The last
line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the session also writes Spark's event log and the run reports the
per-layer metrics instead (see README.md). Everything the run writes goes
under ``.perfbench_work/`` in the working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def log(msg: str):
    print(msg, file=sys.stderr, flush=True)


def stop_spark():
    """Stop the session, if any, and its JVM, and wait until the JVM has
    exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(wl, seconds: float, trace: bool, cores: int) -> dict:
    from invoice_extraction_spark.session import get_spark

    import checks
    import tracing
    import workloads

    event_dir = wl.path("eventlog")
    conf = None
    if trace:
        os.makedirs(event_dir)
        conf = {**tracing.EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + event_dir}

    t0 = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    wl.generate()
    warm = None
    try:
        warm = wl.run_job()  # the one untimed warm-up run
    except Exception:
        log("warm-up run failed:\n" + traceback.format_exc())
    setup_s = time.perf_counter() - t0
    correct = warm is not None
    if warm:
        try:
            wl.check(warm[1])
        except checks.CheckError as e:
            log(f"warm-up output check failed: {e}")
            correct = False
        wl.discard(warm[2])

    tracer = tracing.Tracer(spark.sparkContext) if trace else None
    rates, bytes_per_doc = [], []
    attempted = failed = 0
    last_table = None
    start = time.perf_counter()
    while attempted < wl.timed_runs or time.perf_counter() - start < seconds:
        attempted += 1
        try:
            with tracer.span(f"run:{attempted}") if trace else contextlib.nullcontext():
                wall, manifest, table = wl.run_job()
        except Exception:  # a job that raises is a failed operation
            log(traceback.format_exc())
            failed += 1
            continue
        rates.append(wl.n_docs / wall)
        bytes_per_doc.append(checks.committed_bytes(manifest) / wl.n_docs)
        try:
            wl.check(manifest)
        except checks.CheckError as e:
            log(f"run {attempted}: output check failed: {e}")
            correct = False
        if last_table:
            wl.discard(last_table)
        last_table = table
    log(
        f"{wl.__class__.__name__}: set-up {setup_s:.1f} s, {time.perf_counter() - start:.1f} s measured, "
        f"{attempted} runs, docs/s "
        + " ".join(f"{r:.1f}" for r in rates)
        + (f", recall {wl.recall}" if hasattr(wl, "recall") else "")
    )

    metrics = {}
    if not rates:
        log("every timed job run raised: no metrics")
        correct = False
        stop_spark()
    elif not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "docs_per_s": (statistics.median(rates), "docs/s"),
            "table_bytes_per_doc": (statistics.median(bytes_per_doc), "bytes/doc"),
        }
        stop_spark()
    else:
        log(f"traced docs_per_s {statistics.median(rates):.4f}, JVM GC s "
            + " ".join(f"{tracer.gc[lb]:.2f}" for lb in tracer.walls))
        layers = workloads.layer_metrics(wl, spark, tracer, last_table)
        stop_spark()
        roll = tracing.rollup(event_dir)
        layers.update(workloads.spark_metrics(roll, tracer, cores))
        for label, walls in tracer.walls.items():
            if label.startswith("layer:") or label == "run:1":
                r = roll[label]
                log(f"{label:16s} wall {walls[-1]:7.3f} s  task {r['task_s']:8.3f} s  "
                    f"task/(wall*cores) {r['task_s'] / (walls[-1] * cores):.3f}")
        metrics = {k: (v, workloads.LAYER_UNITS[k]) for k, v in layers.items()}
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "invoice_extraction_spark", "session.py")) or not all(
        os.path.isfile(os.path.join(root, "jobs", f"{j}.py")) for j in ("extract", "curate")
    ):
        log("run from the repository root: the program (invoice_extraction_spark/, jobs/) is not here")
        return 2
    sys.path.insert(0, root)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # keep every scratch file (shuffle, the shipped package zip, JVM temp
    # files) inside the work directory
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    try:
        wl = workloads.WORKLOADS[args.workload](root, work, args.seed)
        result = run(wl, args.seconds, bool(args.trace), cores)
    finally:
        stop_spark()  # no-op after a normal run; stops the JVM after an error
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
