"""ensure_min_parallelism: starve-proofing Arrow-kernel scans.

Spark assigns parquet rows to the byte-range split holding their row
group's midpoint, so a small single-row-group file scans as ONE task no
matter how many cores exist — measured at the sf1 rehearsal: the LSH
band-members stage ran 2-task on 32 cores (23.8 s) when the MinHash
kernel itself costs ~1.3 s at full parallelism. The helper pays one
small repartition ONLY when the scan is starved; at production file
counts it must be an identity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invoice_extraction_spark.operators import dedup as dd
from invoice_extraction_spark.plans.parallelism import ensure_min_parallelism


@pytest.fixture(scope="module")
def one_part_docs(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("par") / "docs.parquet")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(p)
    )
    return spark.read.parquet(p)


def test_starved_scan_is_repartitioned(spark, one_part_docs):
    assert one_part_docs.rdd.getNumPartitions() == 1
    out = ensure_min_parallelism(one_part_docs)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_already_parallel_input_is_identity(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(target + 4)
    out = ensure_min_parallelism(df)
    assert out is df  # no added Exchange, same plan object


def test_streaming_frames_pass_through(spark):
    s = spark.readStream.format("rate").load()
    assert ensure_min_parallelism(s) is s


def test_light_mode_skips_shuffle_on_tiny_input(spark, one_part_docs):
    """VERDICT r4 'What's wrong' #3: for a LIGHT Column-only fold over a
    tiny scan, the round-robin shuffle costs more than single-task compute
    saves — light=True must pass a sub-threshold file scan through."""
    assert one_part_docs.rdd.getNumPartitions() == 1
    out = ensure_min_parallelism(one_part_docs, light=True)
    assert out is one_part_docs  # sf0.001 docs ≪ 4 MB: untouched


def test_light_mode_still_repartitions_big_input(spark, tmp_path_factory):
    """Above the byte threshold the starvation guard must engage even for
    light folds (measured: the sf1 8 MB embeddings scan WINS 2.2 -> 0.8 s
    from the repartition)."""
    from invoice_extraction_spark.plans import parallelism as pl

    p = str(tmp_path_factory.mktemp("parbig") / "big.parquet")
    (
        spark.range(200_000)
        .select(F.col("id"), F.expr("uuid()").alias("u"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(p)
    )
    df = spark.read.parquet(p)
    nbytes = pl._input_bytes(df)
    assert nbytes is not None
    if nbytes < pl.LIGHT_INPUT_BYTES:
        pytest.skip(f"fixture only {nbytes} bytes — below threshold")
    out = ensure_min_parallelism(df, light=True)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_light_mode_unknown_bytes_falls_back_to_guard(spark):
    """An in-memory frame has no input files: unknown size must mean
    'apply the normal guard', never 'skip it'."""
    df = spark.createDataFrame([(i,) for i in range(10)], ["x"]).coalesce(1)
    out = ensure_min_parallelism(df, light=True)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_band_members_results_unchanged_by_repartition(spark, one_part_docs):
    """The repartition must not change WHAT is computed — band keys and
    member sets are identical to the unstarved layout (values are
    order-independent md5 keys + collect_set)."""
    wide = one_part_docs.repartition(8)
    a = {
        (r["band"], tuple(sorted(r["ids"])))
        for r in dd.band_members(one_part_docs).collect()
    }
    b = {
        (r["band"], tuple(sorted(r["ids"])))
        for r in dd.band_members(wide).collect()
    }
    assert a == b and a


def test_lsh_pairs_unchanged(spark, one_part_docs):
    before = sorted(
        (r["id_a"], r["id_b"])
        for r in dd.lsh_candidate_pairs(one_part_docs).collect()
    )
    after = sorted(
        (r["id_a"], r["id_b"])
        for r in dd.lsh_candidate_pairs(one_part_docs.repartition(16)).collect()
    )
    assert before == after


def test_effective_scan_parallelism_counts_row_groups(spark, one_part_docs, tmp_path_factory):
    """Round 6: with the session scan-split floor, SPLIT count overstates
    row distribution for few-row-group files — the effective check must
    report row groups, and the guard must still repartition a
    single-row-group file even when its plan shows many splits."""
    from invoice_extraction_spark.plans.parallelism import (
        effective_scan_parallelism,
    )

    eff = effective_scan_parallelism(one_part_docs, 8)
    assert eff == 1  # one file, one row group -> one row-bearing task
    # in-memory frames are unknowable -> None (callers fall back)
    mem = spark.createDataFrame([(1,)], ["x"])
    assert effective_scan_parallelism(mem, 8) is None
    # many files short-circuit without footer reads
    p = str(tmp_path_factory.mktemp("many") / "many.parquet")
    spark.range(1000).repartition(10).write.parquet(p)
    df = spark.read.parquet(p)
    assert effective_scan_parallelism(df, 4) >= 4


def test_extract_skips_salted_shuffle_when_scan_already_parallel(
    spark, tmp_path_factory
):
    """Round 6 (guide §2.4): extract_pages must NOT pay the full-payload
    salted shuffle when the file scan already yields >= num_partitions
    row-bearing splits — and must keep it for under-partitioned or
    in-memory inputs (the skew contract stays the default)."""
    import pandas as pd

    from invoice_extraction_spark.corpus import pages_pdf
    from invoice_extraction_spark.operators.extract import extract_pages
    from invoice_extraction_spark.plans.explain import count_exchanges

    pdf = pages_pdf(64)
    p = str(tmp_path_factory.mktemp("exsk") / "pages.parquet")
    spark.createDataFrame(pdf).repartition(8).write.parquet(p)
    src = spark.read.parquet(p)
    # 8 files / 8 row groups >= 4 requested -> shuffle skipped
    assert count_exchanges(extract_pages(src, num_partitions=4)) == 0
    # more partitions than the scan can give -> shuffle kept
    assert count_exchanges(extract_pages(src, num_partitions=64)) == 1
    # in-memory input (unknowable) -> shuffle kept
    mem = spark.createDataFrame(pdf)
    assert count_exchanges(extract_pages(mem, num_partitions=4)) == 1
    # results identical either way (row-wise kernel; order-independent)
    a = sorted(
        (r["url"], r["n_fields_found"])
        for r in extract_pages(src, num_partitions=4).select(
            "url", "n_fields_found"
        ).collect()
    )
    b = sorted(
        (r["url"], r["n_fields_found"])
        for r in extract_pages(mem, num_partitions=4).select(
            "url", "n_fields_found"
        ).collect()
    )
    assert a == b


def test_effective_scan_parallelism_declines_non_scan_plans(spark, tmp_path_factory):
    """Joined/aggregated frames redistribute rows, so summed row groups of
    their leaf files would misstate placement — the helper must return
    None (callers fall back to the plan's partition count). Regression
    guard for the resumed-extraction shape (pending_source = anti-join)."""
    from invoice_extraction_spark.plans.parallelism import (
        effective_scan_parallelism,
    )

    p = str(tmp_path_factory.mktemp("esp") / "t.parquet")
    spark.range(100).repartition(6).write.parquet(p)
    df = spark.read.parquet(p)
    keys = spark.range(50).withColumnRenamed("id", "k")
    joined = df.join(keys, df.id == keys.k, "left_anti")
    assert effective_scan_parallelism(joined, 4) is None
    agg = df.groupBy("id").count()
    assert effective_scan_parallelism(agg, 4) is None
    # every join kind, not just Join: a lateral subquery is a LateralJoin
    df.createOrReplaceTempView("esp_t")
    lateral = spark.sql("SELECT * FROM esp_t, LATERAL (SELECT esp_t.id + 1 AS x)")
    assert effective_scan_parallelism(lateral, 4) is None
    # plain scan still works
    assert effective_scan_parallelism(df, 4) >= 4


@pytest.mark.parametrize("col", ["Joined", "UnionId"])
def test_plan_node_check_ignores_column_names(spark, tmp_path_factory, col):
    """The non-scan check walks plan node classes: a column whose name
    contains 'Join' or 'Union' no longer makes a plain one-row-group scan
    look redistributed (which skipped the repartition and left the kernel
    on one task)."""
    from invoice_extraction_spark.plans.parallelism import (
        effective_scan_parallelism,
    )

    p = str(tmp_path_factory.mktemp("esp_col") / "t.parquet")
    spark.range(2000).withColumnRenamed("id", col).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    assert effective_scan_parallelism(df, 4) == 1
    assert effective_scan_parallelism(df.filter(F.col(col) > 5), 4) == 1
    out = ensure_min_parallelism(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
