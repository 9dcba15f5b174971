"""SparkSession factory with scale-oriented defaults.

Tuned for the 100 TB target, not just the sandbox: AQE on (runtime re-plan +
skew-join splitting), Arrow batches sized down because HTML payloads are large
(SURVEY.md §4 "Arrow batch sizing"), shuffle partitions sized to cores locally
(on a real cluster: 2-3x total executor cores, or let AQE coalesce).
"""

from __future__ import annotations

import os
import re
import tempfile
import zipfile

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 256  # HTML pages are ~2-20 KB each; keep batches < ~8 MB


def package_zip() -> str:
    """Zip this package for shipping to executors — the local-mode equivalent
    of ``spark-submit --py-files`` (north rule deployment contract). Without
    it, executor Python workers started from a different cwd cannot import
    the extraction kernels."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    out = os.path.join(tempfile.gettempdir(), f"{pkg_name}-pyfiles.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.join(pkg_name, os.path.relpath(full, pkg_dir)))
    return out


def default_driver_memory() -> str:
    """Half of the host's ``MemTotal``, capped at 32g (e.g. "7928m")."""
    with open("/proc/meminfo") as fh:
        kib = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return f"{min(kib // 2048, 32 * 1024)}m"


def get_spark(
    app_name: str = "spark-webtext-extract",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    m = re.fullmatch(r"local\[(\d+)\]", master)
    if m:  # keep the scan floor consistent with the session's real width
        cpus = int(m.group(1))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.session.timeZone", "UTC")
        # Local mode runs driver + all executors in ONE JVM: 8g across 32
        # concurrent tasks was ~150 MB of execution memory per task, and a
        # query sequence accumulates broadcasts until GC pressure inflated
        # later queries 2-4x (measured: span_dedup_stats 1.8 s alone but
        # 7 s after five revenue reps' orders broadcasts). The -Xmx cap is
        # half the host's memory, at most 32g, so a second JVM or the Python
        # workers beside it still fit; clusters size executor memory
        # explicitly anyway.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Scan-parallelism floor (guide §6 input split size): without it a
        # medium parquet table (e.g. 132 MB lineitem at sf1) scans as 2 tasks
        # on 32 cores because splits default to maxPartitionBytes. The floor
        # is scale-ADAPTIVE (2-3x total cores is the standard task sizing):
        # at production file counts splits already exceed it -> literal
        # no-op; locally it turns starved scans into full-width ones.
        # NOTE row groups still bound real row distribution — the kernel
        # guards (plans/parallelism.py) check row groups, not splits.
        .config("spark.sql.files.minPartitionNum", str(cpus * 2))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.addPyFile(package_zip())
    return spark
