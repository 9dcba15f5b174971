"""jobs/extract.py end-to-end with the pre-extraction dedup tiers: url-variant
duplicates (--url-dedup) and payload duplicates (--dedup) must be dropped
BEFORE the Arrow stage; the committed table holds one row per survivor."""

import pandas as pd

from invoice_extraction_spark.corpus import pages_pdf
from invoice_extraction_spark.sources.atomic import read_table


def test_extract_job_url_dedup_tier(spark, tmp_path):
    from jobs.extract import main

    pdf = pages_pdf(6)
    base_url = pdf.loc[0, "url"]
    dup1 = pdf.iloc[[0]].copy()
    dup1["url"] = base_url + "?utm_source=tw&utm_medium=x"
    dup2 = pdf.iloc[[0]].copy()
    dup2["url"] = base_url + "#frag"
    src_pdf = pd.concat([pdf, dup1, dup2], ignore_index=True)
    src_dir = str(tmp_path / "src.parquet")
    spark.createDataFrame(src_pdf).write.parquet(src_dir)

    tbl = str(tmp_path / "out_tbl")
    main(["--source", src_dir, "--table", tbl, "--url-dedup", "--partitions", "4"])

    got = read_table(spark, tbl)
    urls = sorted(r["url"] for r in got.select("url").collect())
    assert len(urls) == 6  # 8 input rows -> 6 canonical survivors
    # min original url wins within the variant group
    assert base_url in urls and not any("utm_source" in u or "#" in u for u in urls)


def test_extract_job_domain_quota_tier(spark, tmp_path):
    """--domain-quota caps per-registered-domain input before extraction."""
    from jobs.extract import main

    pdf = pages_pdf(12)
    # corpus hosts are Zipfian: shop00.example-a.com dominates; count domains
    src_dir = str(tmp_path / "src.parquet")
    spark.createDataFrame(pdf).write.parquet(src_dir)

    from invoice_extraction_spark.functions.urls import url_registered_domain
    from pyspark.sql import functions as F

    dom_counts = (
        spark.read.parquet(src_dir)
        .select(url_registered_domain(F.col("url")).alias("d"))
        .groupBy("d")
        .count()
        .collect()
    )
    biggest = max(r["count"] for r in dom_counts)
    assert biggest > 2  # the Zipf head must actually exceed the quota below

    tbl = str(tmp_path / "out_tbl")
    main(["--source", src_dir, "--table", tbl, "--domain-quota", "2", "--partitions", "4"])

    got = (
        read_table(spark, tbl)
        .select(url_registered_domain(F.col("url")).alias("d"))
        .groupBy("d")
        .count()
        .collect()
    )
    assert all(r["count"] <= 2 for r in got)
    assert sum(r["count"] for r in got) == sum(min(r["count"], 2) for r in dom_counts)


def test_extract_run_job_count(spark, tmp_path, capsys):
    """The commit's lineage costs no Spark job: one jobs/extract.py run is
    the extraction's shuffle and the write (2 jobs here, as many as when a
    Python pass inside the write counted the rows)."""
    from jobs.extract import main

    src_dir = str(tmp_path / "src.parquet")
    spark.createDataFrame(pages_pdf(40)).write.parquet(src_dir)
    sc = spark.sparkContext
    group = f"extract-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "job count of one extraction run")
    try:
        main(["--source", src_dir, "--table", str(tmp_path / "t"), "--partitions", "4"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert "rows=40 ok=40" in capsys.readouterr().out
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 2, n_jobs
