"""Seeded inputs for the workloads, with the truth the checks use.

Every generator is a pure function of ``seed``: the same seed writes the
same bytes. Pages and PDFs come from the program's own corpus generators
(``corpus.synth_page`` / ``corpus.synth_pdf_doc``), which also return the
planted invoice fields; the curation documents are built here, with the
make-up measured on the program's own documents tables (README.md, *Input
make-up*).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# --- crawl segments ---------------------------------------------------------

SEGMENT_PAGES = 4000  # pages per extraction segment
PDF_SHARE = 0.4 / 1.4  # bench.py extracts 0.4 PDFs per HTML page
SEGMENT_FILES = 8  # parquet files per segment (one row group each)

PAGE_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


@dataclass
class Segment:
    """One crawl segment: rows in input order plus the planted truth."""

    urls: list[str]
    payloads: list[bytes]
    rows: list[dict]
    truth: dict[str, dict] = field(default_factory=dict)  # url -> planted fields
    is_pdf: dict[str, bool] = field(default_factory=dict)

    @property
    def payload_bytes(self) -> int:
        return sum(len(p) for p in self.payloads)


def _doc(seq: int, seed: int, pdf: bool) -> dict:
    from invoice_extraction_spark import corpus

    return corpus.synth_pdf_doc(seq, seed) if pdf else corpus.synth_page(seq, seed)


def make_docs(seqs: range, seed: int) -> Segment:
    """Pages for ``seqs``: a seeded ``PDF_SHARE`` of them are PDFs."""
    seg = Segment([], [], [])
    for seq in seqs:
        pdf = random.Random(f"pdfshare:{seed}:{seq}").random() < PDF_SHARE
        d = _doc(seq, seed, pdf)
        seg.rows.append({k: d[k] for k in ("url", "warc_ts", "html", "text", "lang")})
        seg.urls.append(d["url"])
        seg.payloads.append(d["html"])
        seg.truth[d["url"]] = d["truth"]
        seg.is_pdf[d["url"]] = pdf
    return seg


def write_segment(rows: list[dict], path: str, n_files: int = SEGMENT_FILES) -> str:
    """Write rows as ``n_files`` parquet files of one row group each, rows
    dealt in input order (host-adjacent like a crawl's WARC files)."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // n_files)
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        if not chunk:
            continue
        cols = {name: [r[name] for r in chunk] for name in PAGE_SCHEMA.names}
        table = pa.Table.from_pydict(cols, schema=PAGE_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"), row_group_size=len(chunk))
    return path


def fresh_segment(seed: int) -> Segment:
    return make_docs(range(SEGMENT_PAGES), seed)


# --- curation documents -------------------------------------------------------

CURATE_DOCS = 4000  # documents per curation table
# Measured on documents.parquet at sf0.01 and sf0.1 (README.md): 30 words,
# used uniformly; 10 to 100 words a document, spread evenly; 9.4% of
# documents in near-copy clusters, almost all pairs; a near-copy is its
# base with one more word appended per copy; 0.16% exact copies.
VOCAB = tuple(
    "scan join sort hash merge row column table page query batch filter file block key "
    "value window stream data plan task stage cache node fast slow big small a the".split()
)
DOC_WORDS = (10, 100)  # words per document
CLUSTER_SHARE = 0.094  # share of documents in near-copy clusters (base + copies)
CLUSTER_COPIES = (1,) * 24 + (2,)  # near-copies per base, in turn
COPY_WORD = "dup"  # appended once more for each further near-copy
EXACT_SHARE = 0.0016  # share of documents that are byte-identical copies


@dataclass
class Documents:
    ids: list[int]
    texts: list[str]
    urls: list[str]
    base_of: dict[int, int]  # near-copy id -> its base id
    exact_of: dict[int, int]  # exact copy id -> the id it copies
    bases: set[int]


def curate_documents(seed: int) -> Documents:
    """Documents with planted near-copy clusters and exact copies.

    The make-up is the same for every seed (document lengths, cluster sizes
    and copy counts); the seed picks the words, the order and
    which documents are copied. Each cluster's base gets the smallest id of
    its cluster and the exact copies take the largest ids, so the
    keep-lowest-id policy keeps every base and drops every exact copy."""
    rng = random.Random(f"curate:{seed}")
    n_docs = CURATE_DOCS
    n_exact = round(n_docs * EXACT_SHARE)
    n_unique = n_docs - n_exact  # bases, near-copies and singletons
    sizes: list[int] = []  # near-copies per cluster
    placed, n_cluster_docs = 0, round(n_docs * CLUSTER_SHARE)
    while placed < n_cluster_docs:
        sizes.append(min(CLUSTER_COPIES[len(sizes) % len(CLUSTER_COPIES)], n_cluster_docs - placed - 1))
        placed += 1 + sizes[-1]
    n_fresh = n_unique - sum(sizes)  # documents with their own words
    lo, hi = DOC_WORDS
    lengths = [lo + (hi - lo) * k // max(n_fresh - 1, 1) for k in range(n_fresh)]
    rng.shuffle(lengths)

    def text_of(n: int) -> list[str]:
        return [rng.choice(VOCAB) for _ in range(n)]

    groups: list[list[list[str]]] = []  # each group: [base, near-copies...]
    for k in sizes:
        base = text_of(lengths.pop())
        groups.append([base] + [base + [COPY_WORD] * j for j in range(1, k + 1)])
    groups += [[text_of(n)] for n in lengths]

    ids = list(range(n_unique))
    rng.shuffle(ids)
    by_id: dict[int, str] = {}
    base_of, bases = {}, set()
    pos = 0
    for g in groups:
        gids = sorted(ids[pos : pos + len(g)])
        pos += len(g)
        for i, toks in zip(gids, g, strict=True):
            by_id[i] = " ".join(toks)
        if len(g) > 1:
            bases.add(gids[0])
            for i in gids[1:]:
                base_of[i] = gids[0]
    exact_of = {i: rng.randrange(n_unique) for i in range(n_unique, n_docs)}
    for i, src in exact_of.items():
        by_id[i] = by_id[src]
    order = sorted(by_id)
    return Documents(
        ids=order,
        texts=[by_id[i] for i in order],
        urls=[f"https://docs{i % 13}.example-d.org/a/{i:08d}" for i in order],
        base_of=base_of,
        exact_of=exact_of,
        bases=bases,
    )


def write_documents(docs: Documents, path: str, n_files: int = SEGMENT_FILES) -> str:
    os.makedirs(path, exist_ok=True)
    per = -(-len(docs.ids) // n_files)
    schema = pa.schema([("doc_id", pa.int64()), ("url", pa.string()), ("text", pa.string())])
    for i in range(n_files):
        sl = slice(i * per, (i + 1) * per)
        if not docs.ids[sl]:
            continue
        t = pa.Table.from_pydict(
            {"doc_id": docs.ids[sl], "url": docs.urls[sl], "text": docs.texts[sl]}, schema=schema
        )
        pq.write_table(t, os.path.join(path, f"part-{i:03d}.parquet"))
    return path


def render_html(text: str) -> str:
    """A document as a minimal page: the text in one article paragraph."""
    return f"<html><head><title>doc</title></head><body><article><p>{text}</p></article></body></html>"


def render_pdf(text: str) -> bytes:
    """A document as a PDF: nine words a line, 28 lines and a folio a page."""
    from invoice_extraction_spark.functions.pdf_text import build_pdf, lines_to_runs

    words = text.split(" ")
    lines = [" ".join(words[i : i + 9]) for i in range(0, len(words), 9)]
    chunks = [lines[i : i + 28] for i in range(0, len(lines), 28)]
    return build_pdf(
        [lines_to_runs(c + [f"Page {k + 1} of {len(chunks)}"]) for k, c in enumerate(chunks)],
        compress=True,
    )
