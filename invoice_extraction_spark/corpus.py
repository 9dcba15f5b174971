"""Deterministic synthetic Common-Crawl-style page corpus (FIXTURES.md §1).

Generates the north-rule input table ``(url, warc_ts, html, text, lang)``:
templated pages with boilerplate (nav/header/footer/sidebar, high link
density), one main-content region (high text density), and 0-7 invoice-like
key-value blocks covering the reference's 14 anchor classes
(``data/yolo_dataset/data.yaml:8-13`` → 7 fields, see FIXTURES.md §3).

Hosts are drawn Zipfian (s≈1.2) from a fixed list so host-level skew is real
and the salted repartition (north rule) is testable.

Everything is a pure function of ``(seed, doc_seq)`` — no wall clock, no
global RNG — so fixtures and benchmarks are reproducible bit-for-bit.
"""

from __future__ import annotations

import datetime as _dt
import random

HOSTS = [f"shop{i:02d}.example-{chr(97 + i % 26)}.com" for i in range(40)]
_ZIPF_S = 1.2
_ZIPF_W = [1.0 / (r**_ZIPF_S) for r in range(1, len(HOSTS) + 1)]
_ZIPF_TOT = sum(_ZIPF_W)
_ZIPF_CUM = []
_acc = 0.0
for _w in _ZIPF_W:
    _acc += _w / _ZIPF_TOT
    _ZIPF_CUM.append(_acc)

_BASE_TS = _dt.datetime(2021, 3, 1, 0, 0, 0)

_WORDS = (
    "tractor harvest field supply invoice payment monsoon village market "
    "delivery warranty service spare parts diesel engine gearbox hydraulics "
    "plough rotavator trailer subsidy loan finance insurance registration "
    "quality trusted genuine original certified authorized premium standard"
).split()

_HINDI_WORDS = "किसान खेत फसल ट्रैक्टर बाजार सेवा गुणवत्ता विश्वसनीय मूल्य आपूर्ति".split()

_SELLER_FIRST = ["SABAR", "KISAN", "BHARAT", "SHREE", "JAI", "NEW", "ROYAL", "GANGA", "SURYA", "VIJAY"]
_SELLER_KIND = ["AGROTECH", "TRACTORS", "MOTORS", "ENTERPRISES", "TRADERS", "AGRO"]
# decoy: manufacturer-only names the validator must null out
# (reference validators.py:26-42 manufacturer reject list)
MANUFACTURERS = ["MAHINDRA", "TAFE", "SONALIKA", "JOHN DEERE", "ESCORTS", "SWARAJ"]

_CITIES = ["Ahmedabad", "Pune", "Jaipur", "Lucknow", "Indore", "Nagpur", "Patna", "Rajkot"]

_INV_ANCHORS = ["Invoice No:", "Invoice Number:", "INV #", "Invoice ID:"]
_TOTAL_ANCHORS = ["Grand Total:", "Amount Payable:", "Total Amount:"]
_DATE_FMTS = ["%d/%m/%Y", "%d-%m-%Y", "%b %-d, %Y"]


def _date_str(rng: random.Random) -> str:
    d = _BASE_TS + _dt.timedelta(days=rng.randrange(0, 720))
    fmt = rng.choice(_DATE_FMTS)
    if "%-d" in fmt:  # strftime %-d is platform-dependent; format manually
        return f"{d.strftime('%b')} {d.day}, {d.year}"
    return d.strftime(fmt)


def _sentence(rng: random.Random, lang: str, n: int) -> str:
    pool = _HINDI_WORDS if lang == "hi" and rng.random() < 0.7 else _WORDS
    return " ".join(rng.choice(pool) for _ in range(n))


def _nav(rng: random.Random) -> str:
    links = "".join(
        f'<li><a href="/{w}">{w.title()}</a></li>' for w in rng.sample(_WORDS, 6)
    )
    return f"<nav><ul>{links}</ul></nav>"


def _kv_rows(rng: random.Random, doc_seq: int) -> tuple[list[str], dict]:
    """Invoice-like key-value pairs + the ground-truth dict (for fixtures).

    Returns (anchor, value) pairs; the caller renders them in one of three
    layout families (paragraph / table / definition list) — real invoices are
    mostly tabular, and byte-identity must hold across layouts.
    """
    truth: dict = {}
    rows: list[str] = []
    present = rng.sample(
        ["invoice_id", "invoice_date", "order_date", "seller", "billing_addr", "shipping_addr", "total"],
        k=rng.randrange(0, 8),
    )
    if "invoice_id" in present:
        v = f"INV-{rng.randrange(100000, 999999)}"
        rows.append((rng.choice(_INV_ANCHORS), v))
        truth["invoice_id"] = v
    if "invoice_date" in present:
        v = _date_str(rng)
        rows.append(("Invoice Date:", v))
        truth["invoice_date"] = v
    if "order_date" in present:
        v = _date_str(rng)
        rows.append(("Order Date:", v))
        truth["order_date"] = v
    if "seller" in present:
        if rng.random() < 0.15:  # manufacturer decoy → validator should null it
            v = rng.choice(MANUFACTURERS)
        else:
            v = f"{rng.choice(_SELLER_FIRST)} {rng.choice(_SELLER_KIND)}"
        rows.append((rng.choice(['Sold By:', 'Seller:', 'Dealer:']), v))
        truth["seller"] = v
    if "billing_addr" in present:
        v = f"{rng.randrange(1, 99)} {rng.choice(_WORDS).title()} Road, {rng.choice(_CITIES)} {rng.randrange(110000, 899999)}"
        rows.append(("Billing Address:", v))
        truth["billing_addr"] = v
    if "shipping_addr" in present:
        v = f"{rng.randrange(1, 99)} {rng.choice(_WORDS).title()} Lane, {rng.choice(_CITIES)} {rng.randrange(110000, 899999)}"
        rows.append(("Ship To:", v))
        truth["shipping_addr"] = v
    if "total" in present:
        style = rng.randrange(3)
        amount = rng.randrange(15_000, 2_000_000)
        if style == 0:
            v = f"₹{amount:,}"
        elif style == 1:
            v = f"{amount:,}"
        else:
            amount = rng.randrange(1, 95) * 10_000
            v = f"{amount / 100000:g} Lakhs"
        # 10% out-of-range decoy → validator should null it
        if rng.random() < 0.10:
            v = f"₹{rng.randrange(100, 9000):,}"
            truth["total"] = None
        else:
            truth["total"] = v
        rows.append((rng.choice(_TOTAL_ANCHORS), v))
    return rows, truth


def synth_page(doc_seq: int, seed: int = 42) -> dict:
    """One deterministic page row ``{url, warc_ts, html, text, lang, host}``."""
    rng = random.Random(f"{seed}:{doc_seq}")
    u = rng.random()
    host = HOSTS[next(i for i, c in enumerate(_ZIPF_CUM) if u <= c)]
    lang = "hi" if rng.random() < 0.30 else "en"  # reference EDA: ~30% Hindi/Mixed
    url = f"https://{host}/listing/{doc_seq:08d}.html"
    warc_ts = _BASE_TS + _dt.timedelta(seconds=doc_seq * 37)

    title = _sentence(rng, "en", 5).title()
    paras = [
        f"<p>{_sentence(rng, lang, rng.randrange(12, 40))}.</p>"
        for _ in range(rng.randrange(2, 7))
    ]
    kv_rows, truth = _kv_rows(rng, doc_seq)
    # three layout families — real invoices are mostly tabular; the
    # byte-identity contract must hold for all of them
    layout = rng.choice(["para", "table", "dl"])
    if layout == "table":
        kv_html = (
            '<table class="invoice">'
            + "".join(f"<tr><td>{a}</td><td>{v}</td></tr>" for a, v in kv_rows)
            + "</table>"
        )
    elif layout == "dl":
        kv_html = (
            '<dl class="invoice">'
            + "".join(f"<dt>{a}</dt><dd>{v}</dd>" for a, v in kv_rows)
            + "</dl>"
        )
    else:
        kv_html = (
            '<div class="invoice">'
            + "".join(f"<p><b>{a}</b> {v}</p>" for a, v in kv_rows)
            + "</div>"
        )
    sidebar = "".join(f'<a href="/p/{i}">{rng.choice(_WORDS)}</a> ' for i in range(8))
    footer_links = "".join(f'<a href="/{w}">{w}</a> ' for w in rng.sample(_WORDS, 5))

    html = (
        "<!DOCTYPE html><html><head>"
        f"<title>{title}</title>"
        '<meta charset="utf-8"><style>body{margin:0}</style>'
        "<script>var x=1;</script></head><body>"
        f"<header><h1><a href='/'>{host}</a></h1>{_nav(rng)}</header>"
        '<div class="sidebar">' + sidebar + "</div>"
        f"<main><article><h2>{title}</h2>"
        + "".join(paras)
        + kv_html
        + "</article></main>"
        f"<footer><p>{footer_links}</p><p>© 2021 {host}</p></footer>"
        "</body></html>"
    )
    # naive full-page visible text (boilerplate included) — the crawler-
    # baseline `text` column of the input_hint
    import re as _re

    naive = " ".join(_re.sub(r"<[^>]+>", " ", _re.sub(r"<(script|style)[^>]*>.*?</\1>", " ", html, flags=_re.S)).split())
    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": html.encode("utf-8"),
        "text": naive,
        "lang": lang,
        "host": host,
        "truth": truth,
    }


def synth_pages(n_docs: int, seed: int = 42) -> list[dict]:
    return [synth_page(i, seed) for i in range(n_docs)]


def synth_pdf_doc(doc_seq: int, seed: int = 42) -> dict:
    """One deterministic application/pdf document row — the PDF sibling of
    ``synth_page`` (north rule: "PDF/layout parse"). Same invoice-like
    key-value truth, rendered as genuine PDF 1.4 bytes (Flate-compressed
    content streams, UTF-16BE hex strings for ₹/Devanagari) with wrapped
    paragraphs and a "Page N of M" folio the furniture classifier must
    strip. RNG stream is namespaced ("pdf:seed:seq") so PDF docs never
    shadow HTML pages at the same seq."""
    from .functions.pdf_text import build_pdf, lines_to_runs

    rng = random.Random(f"pdf:{seed}:{doc_seq}")
    u = rng.random()
    host = HOSTS[next(i for i, c in enumerate(_ZIPF_CUM) if u <= c)]
    lang = "hi" if rng.random() < 0.30 else "en"
    url = f"https://{host}/docs/{doc_seq:08d}.pdf"
    warc_ts = _BASE_TS + _dt.timedelta(seconds=doc_seq * 41 + 13)

    title = _sentence(rng, "en", 5).title()
    lines: list[str] = [title]
    for _ in range(rng.randrange(2, 5)):
        words = _sentence(rng, lang, rng.randrange(12, 36)).split()
        for i in range(0, len(words), 9):  # ~9 words per rendered line
            lines.append(" ".join(words[i : i + 9]))
    kv_rows, truth = _kv_rows(rng, doc_seq)
    lines += [f"{a} {v}" for a, v in kv_rows]

    per_page = 28
    chunks = [lines[i : i + per_page] for i in range(0, len(lines), per_page)] or [[]]
    n_pages = len(chunks)
    pages = []
    for pi, chunk in enumerate(chunks):
        page_lines = list(chunk) + [f"Page {pi + 1} of {n_pages}"]
        pages.append(lines_to_runs(page_lines))
    pdf_bytes = build_pdf(pages, compress=True)
    naive = " ".join(" ".join(lines).split())
    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": pdf_bytes,  # the input-hint binary column carries either format
        "text": naive,
        "lang": lang,
        "host": host,
        "truth": truth,
    }


def pages_pdf(n_docs: int, seed: int = 42):
    """Corpus as a pandas DataFrame with exactly the input_hint columns."""
    import pandas as pd

    rows = synth_pages(n_docs, seed)
    pdf = pd.DataFrame(
        {
            "url": [r["url"] for r in rows],
            "warc_ts": [r["warc_ts"] for r in rows],
            "html": [r["html"] for r in rows],
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
        }
    )
    # Spark cannot read TIMESTAMP(NANOS) parquet; pin microsecond precision
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
    return pdf


def synth_pages_spark(spark, n_docs: int, seed: int = 42, partitions: int | None = None):
    """Distributed corpus synthesis: each executor builds its shard of pages
    deterministically from doc_seq (pure function of (seed, seq) — identical
    output regardless of partitioning). At bench scale (50k+ pages) driver-
    side generation would serialize on one core; this is a mapInPandas over
    ``spark.range``, so synthesis parallelism == extraction parallelism."""
    import pandas as pd
    from pyspark.sql import types as T  # noqa: N812

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            rows = [synth_page(int(i), seed) for i in pdf["id"]]
            out = pd.DataFrame(
                {
                    "url": [r["url"] for r in rows],
                    "warc_ts": [r["warc_ts"] for r in rows],
                    "html": [r["html"] for r in rows],
                    "text": [r["text"] for r in rows],
                    "lang": [r["lang"] for r in rows],
                }
            )
            out["warc_ts"] = out["warc_ts"].astype("datetime64[us]")
            yield out

    rng_df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema=schema)


def synth_pdf_docs_spark(spark, n_docs: int, seed: int = 42, partitions: int | None = None):
    """Distributed PDF corpus synthesis — the PDF sibling of
    ``synth_pages_spark`` (same pure-function-of-(seed,seq) contract, same
    executor-side parallelism)."""
    import pandas as pd
    from pyspark.sql import types as T  # noqa: N812

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            rows = [synth_pdf_doc(int(i), seed) for i in pdf["id"]]
            out = pd.DataFrame(
                {
                    "url": [r["url"] for r in rows],
                    "warc_ts": [r["warc_ts"] for r in rows],
                    "html": [r["html"] for r in rows],
                    "text": [r["text"] for r in rows],
                    "lang": [r["lang"] for r in rows],
                }
            )
            out["warc_ts"] = out["warc_ts"].astype("datetime64[us]")
            yield out

    rng_df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema=schema)
