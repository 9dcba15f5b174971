"""Round-6 optimization harness (guide §1: measure first; bench.py is FROZEN
for driver measurement — this file holds the extra instrumentation).

Modes:
  python bench_extra.py plans <outdir> [query ...]   # .explain("formatted") dumps
  python bench_extra.py time  [query ...]            # per-query noop walls, reps
  python bench_extra.py extract                      # extraction-path breakdown

Noop-sink isolation per guide §1.4; jobs labelled per §1.5. Env mirrors
bench.py: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_REPS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from invoice_extraction_spark.session import get_spark

import __spark_entry__ as entrymod
from bench import BENCH_QUERIES


def _spark():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    s = get_spark(app_name="bench_extra", master=f"local[{cpus}]",
                  shuffle_partitions=max(cpus, 8))
    s.sparkContext.setLogLevel("ERROR")
    return s


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def cmd_plans(outdir: str, names: list[str]):
    os.makedirs(outdir, exist_ok=True)
    spark = _spark()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = entrymod.queries()
    names = names or BENCH_QUERIES
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {outdir}/{name}.txt")
    spark.stop()


def cmd_time(names: list[str]):
    spark = _spark()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))
    qs = entrymod.queries()
    names = names or BENCH_QUERIES
    # warm page cache like bench.py does
    for t in ("lineitem", "orders", "customer", "nation", "events",
              "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    out = {}
    for name in names:
        walls = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            t0 = time.time()
            _noop(qs[name](spark, sf_dir))
            walls.append(round(time.time() - t0, 3))
        out[name] = walls
        print(name, walls, flush=True)
    print(json.dumps(out))
    spark.stop()


def cmd_extract():
    """Extraction-path breakdown at the bench's exact shape: scan -> salted
    repartition -> Arrow kernel -> count, with stage-isolating variants."""
    import shutil

    from invoice_extraction_spark.corpus import synth_pages_spark
    from invoice_extraction_spark.operators.extract import (
        EXTRACT_RAW_SCHEMA,
        _extract_batches,
        extract_pages,
        salted_repartition,
    )

    spark = _spark()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import re

    m = re.search(r"sf([\d.]+)", sf_dir)
    n_pages = int(float(m.group(1)) * 500_000) if m else 50_000
    corpus = "/tmp/bx_corpus.parquet"
    if not os.path.exists(corpus + "/_SUCCESS"):
        shutil.rmtree(corpus, ignore_errors=True)
        synth_pages_spark(spark, n_pages, partitions=cpus * 2).write.parquet(corpus)
    src = spark.read.parquet(corpus)
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))

    def timed(label, fn):
        walls = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"{label} rep{r}")
            t0 = time.time()
            fn()
            walls.append(round(time.time() - t0, 3))
        print(label, walls, "load", round(os.getloadavg()[0], 1), flush=True)

    def kernel_only():
        pruned = src.select("url", "warc_ts", "html", "lang")
        pruned.mapInPandas(_extract_batches, schema=EXTRACT_RAW_SCHEMA).count()

    # A. full bench path (count)
    timed("A_full_count", lambda: extract_pages(src, num_partitions=cpus * 2).count())
    # B. scan only (all columns the pipeline ships)
    timed("B_scan_noop", lambda: _noop(src.select("url", "warc_ts", "html", "lang")))
    # C. scan + salted repartition, no kernel
    timed(
        "C_scan_shuffle_noop",
        lambda: _noop(
            salted_repartition(src.select("url", "warc_ts", "html", "lang"), cpus * 2)
        ),
    )
    # D. scan + kernel, NO repartition (default split packing)
    timed("D_kernel_no_shuffle_count", kernel_only)
    # D2. same with a split-count floor = 2x cores
    spark.conf.set("spark.sql.files.minPartitionNum", str(cpus * 2))
    timed("D2_kernel_no_shuffle_minsplits", kernel_only)
    # A2. full bench path with the split floor still set
    timed("A2_full_count_minsplits", lambda: extract_pages(src, num_partitions=cpus * 2).count())
    spark.conf.unset("spark.sql.files.minPartitionNum")
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "plans":
        cmd_plans(sys.argv[2], sys.argv[3:])
    elif mode == "extract":
        cmd_extract()
    else:
        cmd_time(sys.argv[2:])
