"""The workloads: set-up, one timed job run, its checks, and the
per-layer calls the traced run times.

Each workload drives a job's own ``main`` in-process on a session the
benchmark opened with the program's ``get_spark`` (the job's own
``get_spark`` call then returns that session). Nothing but the inputs and
the job's arguments is chosen here: every session setting is the
program's default.
"""

from __future__ import annotations

import glob
import importlib.util
import inspect
import json
import os
import shutil
import statistics
import time

import checks
import inputs
from tracing import Tracer, task_skew

MiB = 1 << 20
JACCARD = 0.7  # jobs/curate.py's default --jaccard

LAYER_UNITS = {
    "html_blocks.ms_per_doc": "ms",
    "pdf_text.ms_per_doc": "ms",
    "fields.ms_per_doc": "ms",
    "extract.wall_s": "s",
    "extract.python_mb": "MiB",
    "extract.python_s": "s",
    "atomic.commit_s": "s",
    "atomic.bytes_written_mb": "MiB",
    "atomic.files_written": "count",
    "atomic.pending_s": "s",
    "urls.canonical_dedup_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.candidate_pairs": "pairs",
    "dedup.verify_s": "s",
    "dedup.verify_yield": "ratio",
    "spark.jobs": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_mb": "MiB",
    "spark.shuffle_write_mb": "MiB",
    "spark.shuffle_read_mb": "MiB",
    "spark.spill_mb": "MiB",
    "spark.core_busy": "ratio",
    "spark.task_skew": "ratio",
}


def load_job(root: str, name: str):
    spec = importlib.util.spec_from_file_location(f"{name}_job", os.path.join(root, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def last_manifest(table: str) -> dict:
    names = sorted(glob.glob(os.path.join(table, "_manifests", "*.json")))
    with open(names[-1]) as fh:
        return json.load(fh)


class Workload:
    """One workload over one seed, inside its own work directory."""

    job = ""  # "extract" or "curate"
    n_docs = 0  # input documents per job run
    # Timed job runs per benchmark run. A fixed count, not a time window:
    # rates keep rising run after run as the JVM warms, so a window would
    # let a fast run sample further up that curve and skew its median.
    timed_runs = 0  # set by each workload

    def __init__(self, root: str, work: str, seed: int):
        self.work, self.seed = work, seed
        self.main = load_job(root, self.job).main
        self.n = 0  # tables made so far

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh_table(self) -> str:
        """The table a job run commits into."""
        self.n += 1
        return self.path("tables", f"t{self.n:04d}")

    # set-up -----------------------------------------------------------------

    def generate(self):
        """Make and write this seed's inputs."""
        raise NotImplementedError

    def argv(self, table: str) -> list[str]:
        raise NotImplementedError

    def run_job(self) -> tuple[float, dict, str]:
        """One job run into a fresh table: (wall seconds, manifest, table)."""
        table = self.fresh_table()
        t = time.perf_counter()
        self.main(self.argv(table))
        wall = time.perf_counter() - t
        return wall, last_manifest(table), table

    columns: list[str] = []  # committed columns the checks read

    def check(self, manifest: dict):
        self.verify(checks.read_snapshot(manifest, self.columns), manifest["lineage"])

    def verify(self, rows: list[dict], lineage: list[dict]):
        """Raise ``checks.CheckError`` unless the committed rows are right."""
        raise NotImplementedError

    def discard(self, table: str):
        shutil.rmtree(table, ignore_errors=True)

    # per-layer calls -----------------------------------------------------------

    def kernel_inputs(self) -> tuple[list[bytes], list[bytes]]:
        """(HTML payloads, PDF payloads) the extraction kernels see."""
        raise NotImplementedError

    def layer_frames(self, spark, table: str) -> dict:
        """DataFrames and keys the Spark-side layer calls run on."""
        raise NotImplementedError


class ExtractFresh(Workload):
    """Extract one crawl segment and commit it into an empty table."""

    job = "extract"
    timed_runs = 7

    def generate(self):
        self.seg = inputs.fresh_segment(self.seed)
        inputs.write_segment(self.seg.rows, self.path("segment"))
        self.n_docs = len(self.seg.rows)

    def argv(self, table):
        return ["--source", self.path("segment"), "--table", table]

    columns = ["url", "extracted_text", "fields"]

    def verify(self, rows, lineage):
        checks.check_url_set(rows, set(self.seg.urls))
        checks.check_lineage(rows, lineage, len(self.seg.urls), "extracted_text", self.seg.payload_bytes)
        checks.check_extracted(rows, self.seg.truth)

    def kernel_inputs(self):
        html = [p for u, p in zip(self.seg.urls, self.seg.payloads) if not self.seg.is_pdf[u]]
        pdf = [p for u, p in zip(self.seg.urls, self.seg.payloads) if self.seg.is_pdf[u]]
        return html, pdf

    def layer_frames(self, spark, table):
        from invoice_extraction_spark.sources.atomic import read_table

        src = spark.read.parquet(self.path("segment"))
        return {
            "pages": src,  # extract_pages input
            "source": src,  # pending / url dedup / payload dedup input
            "table": table,  # committed table pending_source resumes against
            "payload_col": "html",
            "key": "url",
            "texts": read_table(spark, table).select("url", "extracted_text"),
            "text_col": "extracted_text",
        }


class CurateNearDup(Workload):
    """``--exact-dedup --near-dedup`` over a documents table."""

    job = "curate"
    timed_runs = 4

    def generate(self):
        self.docs = inputs.curate_documents(self.seed)
        inputs.write_documents(self.docs, self.path("docs"))
        self.n_docs = len(self.docs.ids)

    columns = ["doc_id", "text"]

    def argv(self, table):
        return ["--source", self.path("docs"), "--table", table, "--exact-dedup", "--near-dedup"]

    def verify(self, rows, lineage):
        from invoice_extraction_spark.operators import dedup

        checks.check_lineage(rows, lineage, len(rows), "text", None)
        p = inspect.signature(dedup.ngram_jaccard_pairs).parameters
        self.recall = checks.check_curation(
            rows, self.docs, JACCARD, p["num_bands"].default, p["rows_per_band"].default
        )

    def kernel_inputs(self):
        # the documents rendered as the pages and PDFs they would arrive as
        html = [inputs.render_html(t).encode() for t in self.docs.texts]
        pdf = [inputs.render_pdf(t) for t in self.docs.texts[: round(len(self.docs.texts) * inputs.PDF_SHARE)]]
        return html, pdf

    def layer_frames(self, spark, table):
        html, pdf = self.kernel_inputs()
        rows = [
            {"url": f"https://bench.example/{i}", "warc_ts": None, "html": p, "text": "", "lang": "en"}
            for i, p in enumerate(html + pdf)
        ]
        inputs.write_segment(rows, self.path("rendered"))
        return {
            "pages": spark.read.parquet(self.path("rendered")),
            "source": spark.read.parquet(self.path("docs")),
            "table": table,
            "payload_col": "text",
            "key": "doc_id",
            "texts": spark.read.parquet(self.path("docs")),
            "text_col": "text",
        }


WORKLOADS = {"extract_fresh": ExtractFresh, "curate_near_dup": CurateNearDup}


def layer_metrics(wl: Workload, spark, tracer: Tracer, table: str) -> dict:
    """Time one call into each layer on this workload's data."""
    from invoice_extraction_spark.functions.fields import extract_fields
    from invoice_extraction_spark.functions.html_blocks import parse_blocks
    from invoice_extraction_spark.functions.pdf_text import parse_pdf_blocks
    from invoice_extraction_spark.functions.urls import dedup_by_canonical_url
    from invoice_extraction_spark.operators import dedup
    from invoice_extraction_spark.operators.extract import extract_pages
    from invoice_extraction_spark.sources.atomic import commit_append, pending_source

    m: dict[str, float] = {}
    html, pdf = wl.kernel_inputs()
    texts = []

    def per_doc(fn, docs):
        t = time.perf_counter()
        out = [fn(d) for d in docs]
        return out, (time.perf_counter() - t) * 1e3 / len(docs)

    blocks, m["html_blocks.ms_per_doc"] = per_doc(parse_blocks, html)
    pblocks, m["pdf_text.ms_per_doc"] = per_doc(parse_pdf_blocks, pdf)
    for bl in blocks + pblocks:
        texts.append("\n".join(b.text for b in bl if b.is_content))
    _, m["fields.ms_per_doc"] = per_doc(extract_fields, texts)

    f = wl.layer_frames(spark, table)
    with tracer.span("layer:extract"):
        extract_pages(f["pages"]).write.format("noop").mode("overwrite").save()
    staged = wl.path("staged")
    with tracer.span("stage"):
        if wl.job == "extract":
            extract_pages(f["pages"]).write.parquet(staged)
        else:
            f["source"].write.parquet(staged)
    kw = {} if wl.job == "extract" else {"ok_predicate": "text IS NOT NULL AND length(text) > 0"}
    with tracer.span("layer:commit"):
        man = commit_append(spark.read.parquet(staged), wl.path("commit_probe"), **kw)
    m["atomic.bytes_written_mb"] = checks.committed_bytes(man) / MiB
    m["atomic.files_written"] = len(man["files"])
    with tracer.span("layer:pending"):
        pending_source(f["source"], f["table"], key=f["key"]).count()
    with tracer.span("layer:canonical"):
        dedup_by_canonical_url(f["source"]).count()
    with tracer.span("layer:exact"):
        dedup.dedup_exact(f["source"], text_col=f["payload_col"], id_col=f["key"]).count()
    tx = dedup.dedup_exact(f["texts"], text_col=f["text_col"], id_col=f["key"]).persist()
    tx.count()
    with tracer.span("layer:minhash"):
        members = dedup.band_members(tx, f["text_col"], f["key"]).persist()
        members.count()
    n_cand = dedup.lsh_candidate_pairs(tx, f["text_col"], f["key"], members=members).count()
    with tracer.span("layer:verify"):
        n_ok = dedup.ngram_jaccard_pairs(tx, f["text_col"], f["key"], threshold=JACCARD, members=members).count()
    members.unpersist()
    tx.unpersist()
    m["dedup.candidate_pairs"] = n_cand
    m["dedup.verify_yield"] = n_ok / n_cand if n_cand else 0.0
    for name, label in [
        ("extract.wall_s", "layer:extract"),
        ("atomic.commit_s", "layer:commit"),
        ("atomic.pending_s", "layer:pending"),
        ("urls.canonical_dedup_s", "layer:canonical"),
        ("dedup.exact_s", "layer:exact"),
        ("dedup.minhash_s", "layer:minhash"),
        ("dedup.verify_s", "layer:verify"),
    ]:
        m[name] = tracer.walls[label][-1]
    return m


def spark_metrics(roll: dict, tracer: Tracer, cores: int) -> dict:
    """spark.* per job run (median over the timed runs) and the Python
    boundary of the extract_pages call."""
    runs = [lb for lb in tracer.walls if lb.startswith("run:")]
    per_run = []
    for lb in runs:
        r, wall = roll[lb], tracer.walls[lb][0]
        per_run.append(
            {
                "spark.jobs": r["jobs"],
                "spark.task_s": r["task_s"],
                "spark.cpu_s": r["cpu_s"],
                "spark.gc_s": tracer.gc[lb],
                "spark.input_mb": r["input_mb"],
                "spark.shuffle_write_mb": r["shuffle_write_mb"],
                "spark.shuffle_read_mb": r["shuffle_read_mb"],
                "spark.spill_mb": r["spill_mb"],
                "spark.core_busy": r["task_s"] / (wall * cores),
                "spark.task_skew": task_skew(r),
            }
        )
    out = {k: statistics.median(p[k] for p in per_run) for k in per_run[0]}
    ex = roll["layer:extract"]
    out["extract.python_mb"] = ex["python_mb"]
    out["extract.python_s"] = ex["python_s"]
    return out
