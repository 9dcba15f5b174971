"""Atomic snapshot commit + lineage + resume tests (north rule; SURVEY.md §2.9).

The resume contract (FIXTURES.md §6): kill a run after a partial commit,
restart, and assert (a) no url extracted twice, (b) final output equals an
uninterrupted run.
"""

import os

import pytest
from pyspark.sql import functions as F

from invoice_extraction_spark.corpus import pages_pdf
from invoice_extraction_spark.operators.extract import extract_pages
from invoice_extraction_spark.plans.explain import python_nodes
from invoice_extraction_spark.sources.atomic import (
    _footer_lineage,
    commit_append,
    lineage_df,
    pending_source,
    read_table,
)

N = 40


def test_commit_read_roundtrip(spark, tmp_path):
    tbl = str(tmp_path / "out")
    src = spark.createDataFrame(pages_pdf(N))
    out = extract_pages(src)
    m = commit_append(out, tbl, run_id="r1")
    assert sorted(os.path.basename(f) for f in m["files"])
    got = read_table(spark, tbl)
    assert got.count() == N
    assert set(got.columns) >= {"url", "extracted_text", "fields", "confidence"}


def test_lineage_counters(spark, tmp_path):
    tbl = str(tmp_path / "out")
    src = spark.createDataFrame(pages_pdf(N))
    commit_append(extract_pages(src, num_partitions=4), tbl, run_id="r1")
    ln = lineage_df(spark, tbl)
    rows = ln.collect()
    assert sum(r["n_rows"] for r in rows) == N
    assert all(r["run_id"] == "r1" for r in rows)
    assert sum(r["n_ok"] for r in rows) == N  # all pages have extractable text
    assert sum(r["bytes_in"] for r in rows) > 0
    assert len(rows) > 1  # genuinely per-partition


def test_crash_before_manifest_is_invisible(spark, tmp_path):
    tbl = str(tmp_path / "out")
    src = spark.createDataFrame(pages_pdf(N))
    out = extract_pages(src)
    # simulate a crashed run: data files land, manifest never published
    out.limit(7).write.mode("overwrite").parquet(os.path.join(tbl, "data", "crashed"))
    # committed view must not exist yet
    try:
        read_table(spark, tbl)
        raise AssertionError("uncommitted data became visible")
    except FileNotFoundError:
        pass
    # resume sees the full source as pending
    assert pending_source(src, tbl).count() == N


def test_resume_no_double_extraction_and_equal_output(spark, tmp_path):
    tbl = str(tmp_path / "out")
    src = spark.createDataFrame(pages_pdf(N))

    # run 1: commits only the first half (simulates a mid-job kill after one
    # good snapshot)
    first_half = src.orderBy("url").limit(N // 2)
    commit_append(extract_pages(first_half), tbl, run_id="half")

    # restart: only the remaining urls are pending
    pending = pending_source(src, tbl)
    assert pending.count() == N - N // 2
    committed_urls = {r["url"] for r in read_table(spark, tbl).select("url").collect()}
    pending_urls = {r["url"] for r in pending.select("url").collect()}
    assert not committed_urls & pending_urls  # (a) no url twice

    commit_append(extract_pages(pending), tbl, run_id="rest")

    # (b) resumed output == uninterrupted run, byte-for-byte
    resumed = {
        r["url"]: (r["extracted_text"], r["confidence"])
        for r in read_table(spark, tbl).collect()
    }
    single = {
        r["url"]: (r["extracted_text"], r["confidence"])
        for r in extract_pages(src).collect()
    }
    assert resumed == single

    # lineage reflects both runs
    runs = {r["run_id"] for r in lineage_df(spark, tbl).collect()}
    assert runs == {"half", "rest"}


def test_commit_is_single_pass(spark, tmp_path, monkeypatch):
    """VERDICT r1 #3: lineage counters must come from the write job itself
    (the footers of the files it committed), not a second scan of the
    written output — at
    100 TB the round-1 re-read doubled the table I/O. Assert commit_append
    never issues a read: any spark.read.parquet during the commit fails the
    test. (Job COUNT is not assertable — AQE materializes the repartition
    stage as its own job even though the data flows once.)"""
    import pyspark.sql.readwriter as rw

    tbl = str(tmp_path / "out")
    src = spark.createDataFrame(pages_pdf(N))
    out = extract_pages(src, num_partitions=4)

    reads = []
    orig = rw.DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.append(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    commit_append(out, tbl, run_id="r1")
    assert reads == [], f"commit_append re-read written data: {reads}"
    # and the lineage is still complete, still genuinely per-partition
    rows = lineage_df(spark, tbl).collect()
    assert sum(r["n_rows"] for r in rows) == N
    assert len(rows) > 1


def test_partitioned_commit_prunes_at_scan(spark, tmp_path):
    """partition_by writes hive-partitioned snapshots: a filter on the
    partition column must show up as a scan-time PartitionFilter (whole
    directories pruned — the Iceberg partition-spec analog), and the table
    contract (roundtrip, lineage, mixed plain+partitioned snapshots) holds."""
    tbl = str(tmp_path / "out")
    src = spark.createDataFrame(pages_pdf(N))
    out = extract_pages(src, num_partitions=4)
    commit_append(out.filter("lang = 'en'"), tbl, run_id="en", partition_by=["lang"])
    commit_append(out.filter("lang <> 'en'"), tbl, run_id="rest", partition_by=["lang"])

    got = read_table(spark, tbl)
    assert got.count() == N
    assert set(got.columns) >= {"url", "extracted_text", "lang"}
    en = got.filter(F.col("lang") == "en")
    plan = en._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:120], plan
    assert en.count() == out.filter("lang = 'en'").count()

    # mixed table: a later UNpartitioned snapshot unions cleanly
    commit_append(
        extract_pages(spark.createDataFrame(pages_pdf(N + 8)).orderBy("url").limit(8)),
        tbl,
        run_id="plain",
    )
    assert read_table(spark, tbl).count() == N + 8

    runs = {r["run_id"] for r in lineage_df(spark, tbl).collect()}
    assert runs == {"en", "rest", "plain"}


@pytest.mark.parametrize("partition_by", [None, ["lang"]], ids=["plain", "by_lang"])
def test_footer_lineage_exact_per_partition(spark, tmp_path, partition_by):
    """Per-partition lineage read from the committed files' footers equals
    an independent groupBy(spark_partition_id()) of the same frame, empty
    and NULL texts count as failed, and the run's bytes_in (NULLs as 0)
    sits on the one partition_id = -1 summary row."""
    rows = [
        (
            f"u{i:03d}",
            ("en", "de", "fr")[i % 3],
            None if i % 7 == 0 else ("" if i % 5 == 0 else f"text {i}"),
            None if i % 11 == 0 else 100 + i,
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "url string, lang string, extracted_text string, bytes_in long"
    ).repartition(4, "url")
    ok = F.col("extracted_text").isNotNull() & (F.length("extracted_text") > 0)
    expected = {
        r["pid"]: (r["n"], r["n_ok"])
        for r in df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(ok.cast("long")).alias("n_ok"))
        .collect()
    }
    assert len(expected) >= 3
    tbl = str(tmp_path / "out")
    m = commit_append(df, tbl, run_id="r1", partition_by=partition_by)
    lineage = m["lineage"]
    assert all(ln["n_ok"] + ln["n_failed"] == ln["n_rows"] for ln in lineage)
    got = {ln["partition_id"]: (ln["n_rows"], ln["n_ok"]) for ln in lineage if ln["partition_id"] >= 0}
    assert got == expected
    (summary,) = [ln for ln in lineage if ln["partition_id"] == -1]
    assert summary["n_rows"] == summary["n_ok"] == summary["n_failed"] == 0
    assert sum(ln["n_rows"] for ln in lineage) == len(rows)
    assert sum(ln["n_failed"] for ln in lineage) == sum(1 for r in rows if not r[2])
    assert sum(ln["bytes_in"] for ln in lineage) == sum(r[3] or 0 for r in rows)
    back = read_table(spark, tbl)
    assert back.count() == len(rows) and "_ok" not in back.columns


def test_footer_lineage_rejects_unparsable_file_name(tmp_path):
    """A data file whose name carries no write-task partition id raises
    rather than landing its rows under a made-up partition."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "data"
    d.mkdir()
    pq.write_table(pa.table({"_ok": [True, None]}), str(d / "renamed.parquet"))
    with pytest.raises(ValueError, match="partition id"):
        _footer_lineage(str(d), None)


class _PythonNodesPerQuery:
    """QueryExecutionListener recording the Python-worker nodes of every
    query that finishes."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self):
        self.queries: list[tuple[str, list[str]]] = []

    def onSuccess(self, func_name, qe, duration_ns):
        self.queries.append((func_name, python_nodes(qe.executedPlan())))

    def onFailure(self, func_name, qe, exception):
        pass

    def equals(self, other):
        return other is self

    def hashCode(self):
        return id(self) & 0x7FFFFFFF


def test_commit_write_plan_runs_only_the_kernel_in_python(spark, tmp_path):
    """The commit's executed write plan holds exactly one Python node, the
    extraction kernel: lineage adds no Python operator and no query."""
    from pyspark.java_gateway import ensure_callback_server_started

    out = extract_pages(spark.createDataFrame(pages_pdf(N)), num_partitions=4)
    sc = spark.sparkContext
    ensure_callback_server_started(sc._gateway)
    listener = _PythonNodesPerQuery()
    box = sc._jvm.java.util.ArrayList()
    box.add(listener)
    proxy = box.get(0)
    manager = spark._jsparkSession.listenerManager()
    manager.register(proxy)
    try:
        commit_append(out, str(tmp_path / "out"), run_id="r1")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        manager.unregister(proxy)
    assert [nodes for _f, nodes in listener.queries] == [["MapInPandasExec"]], listener.queries


def test_zero_row_commit_reads_back_empty(spark, tmp_path):
    """A zero-row commit publishes a snapshot with no files: the table reads
    back as an empty frame with the committed schema, and resume over it
    sees every source row as pending."""
    tbl = str(tmp_path / "out")
    src = spark.createDataFrame(pages_pdf(N))
    out = extract_pages(src, num_partitions=4)
    m = commit_append(out.filter("url = 'nope'"), tbl, run_id="empty")
    assert m["files"] == [] and m["lineage"] == []
    assert not os.path.exists(m["data_dir"])
    got = read_table(spark, tbl)
    assert got.count() == 0
    assert got.columns == out.columns
    assert pending_source(src, tbl).count() == N
    commit_append(out, tbl, run_id="all")
    assert read_table(spark, tbl).count() == N
    assert read_table(spark, tbl, as_of="empty").count() == 0


def test_resume_plan_uses_anti_join(spark, tmp_path):
    tbl = str(tmp_path / "out")
    src = spark.createDataFrame(pages_pdf(N))
    commit_append(extract_pages(src.limit(5)), tbl, run_id="r1")
    plan = pending_source(src, tbl)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
