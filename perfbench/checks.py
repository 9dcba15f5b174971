"""Output checks computed by the benchmark, independently of the program.

Each check takes plain Python data (the committed rows and the manifest's
lineage, as read back by ``read_snapshot``) and raises ``CheckError`` on the
first violation. Expected values come from the generators' planted truth
and from this module's own reimplementation of the documented job
semantics (keep-lowest dedup, word-3-gram Jaccard), never from the
program's output.
"""

from __future__ import annotations

import re

import pyarrow.parquet as pq

FIELD_NAMES = (
    "invoice_id",
    "invoice_date",
    "order_date",
    "seller",
    "billing_addr",
    "shipping_addr",
    "total",
)
# manufacturer-only sellers the generator plants as decoys; they must be nulled
MANUFACTURERS = {"MAHINDRA", "TAFE", "SONALIKA", "JOHN DEERE", "ESCORTS", "SWARAJ"}
_TAG = re.compile(r"<[A-Za-z/!][^>]*>")
_FOLIO = re.compile(r"\bPage \d+ of \d+\b")


class CheckError(AssertionError):
    pass


def _fail(msg: str):
    raise CheckError(msg)


def read_snapshot(manifest: dict, columns: list[str]) -> list[dict]:
    """The rows of one committed snapshot, read from its manifest's files."""
    rows: list[dict] = []
    for f in manifest["files"]:
        rows.extend(pq.read_table(f, columns=columns).to_pylist())
    return rows


def committed_bytes(manifest: dict) -> int:
    import os

    return sum(os.path.getsize(f) for f in manifest["files"])


def check_lineage(
    rows: list[dict], lineage: list[dict], n_expected: int, text_key: str, payload_bytes: int | None
):
    """n_ok + n_failed = n_rows per entry; the sums match the committed rows,
    the rows with empty text and, for extraction, the generated payload
    bytes."""
    for ln in lineage:
        if ln["n_ok"] + ln["n_failed"] != ln["n_rows"]:
            _fail(f"lineage partition {ln['partition_id']}: n_ok+n_failed != n_rows")
    n_rows = sum(ln["n_rows"] for ln in lineage)
    if n_rows != len(rows) or n_rows != n_expected:
        _fail(f"lineage n_rows {n_rows}, committed rows {len(rows)}, expected {n_expected}")
    n_failed = sum(ln["n_failed"] for ln in lineage)
    if n_failed != sum(1 for r in rows if not r[text_key]):
        _fail(f"lineage n_failed {n_failed} != committed rows with empty {text_key}")
    if payload_bytes is not None:
        b = sum(ln["bytes_in"] for ln in lineage)
        if b != payload_bytes:
            _fail(f"lineage bytes_in {b} != generated payload bytes {payload_bytes}")


def check_url_set(rows: list[dict], expected: set[str]):
    """The committed urls are exactly ``expected``, each once."""
    got = [r["url"] for r in rows]
    if len(got) != len(set(got)):
        dup = next(u for u in got if got.count(u) > 1)
        _fail(f"url committed more than once: {dup}")
    if set(got) != expected:
        missing, extra = expected - set(got), set(got) - expected
        _fail(f"url set differs: {len(missing)} missing (e.g. {sorted(missing)[:1]}), "
              f"{len(extra)} unexpected (e.g. {sorted(extra)[:1]})")


def _expected_value(name: str, truth: dict):
    if name not in truth:
        return None
    v = truth[name]
    if name == "seller" and v is not None and v.strip().upper() in MANUFACTURERS:
        return None  # decoy
    return v  # an out-of-range total is planted as None


def check_extracted(rows: list[dict], truth: dict[str, dict]):
    """Fields equal the planted truth, decoys are null, spans index the
    extracted text, and no footer, markup or PDF folio survives."""
    for r in rows:
        text = r["extracted_text"] or ""
        if "©" in text or _TAG.search(text) or _FOLIO.search(text):
            _fail(f"boilerplate left in extracted text of {r['url']}")
        fields = r["fields"] or {}
        t = truth[r["url"]]
        for name in FIELD_NAMES:
            span = fields.get(name)
            want = _expected_value(name, t)
            got = span["value"] if span else None
            if got != want:
                _fail(f"{r['url']} field {name}: committed {got!r}, planted {want!r}")
            if span is not None and text[span["start"] : span["end"]] != span["value"]:
                _fail(f"{r['url']} field {name}: span [{span['start']}:{span['end']}] "
                      f"does not index its value")


# --- curation ---------------------------------------------------------------


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams over single-space tokens; a text shorter than n
    tokens is one shingle."""
    toks = text.split(" ")
    k = max(len(toks) - (n - 1), 1)
    return {" ".join(toks[i : i + n]) for i in range(k)}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b)


def banding_floor(jaccards: list[float], bands: int, rows_per_band: int, tail: float = 1e-6) -> float:
    """Lower bound on the recall of pairs with these Jaccards under LSH
    banding. Pair i is missed with probability q_i = (1-J_i^r)^b; the floor
    allows the fewest misses k with P(more than k misses) <= ``tail``, the
    number of misses being a sum of independent Bernoulli(q_i), computed
    exactly (a normal approximation is far off when the expected number of
    misses is well below one)."""
    n = len(jaccards)
    if not n:
        return 0.0
    dist = [1.0]  # dist[k]: probability of k misses among the pairs so far
    for j in jaccards:
        q = (1 - j**rows_per_band) ** bands
        dist = [a * (1 - q) + b * q for a, b in zip(dist + [0.0], [0.0] + dist)]
    k, above = 0, 1.0 - dist[0]
    while k < n and above > tail:
        k += 1
        above -= dist[k]
    return 1 - k / n


def check_curation(rows: list[dict], docs, threshold: float, bands: int, rows_per_band: int) -> dict:
    """Removed documents are justified, bases and texts survive intact, every
    exact copy is gone and near-copy recall meets the banding floor.
    Returns the recall figures."""
    text_of = dict(zip(docs.ids, docs.texts))
    kept = [r["doc_id"] for r in rows]
    if len(kept) != len(set(kept)):
        _fail("a document was committed more than once")
    for r in rows:
        if text_of.get(r["doc_id"]) != r["text"]:
            _fail(f"doc {r['doc_id']}: committed text differs from the input")
    kept_set = set(kept)
    lost = docs.bases - kept_set
    if lost:
        _fail(f"{len(lost)} planted base documents removed, e.g. {min(lost)}")
    kept_copies = kept_set.intersection(docs.exact_of)
    if kept_copies:
        _fail(f"{len(kept_copies)} exact copies kept, e.g. {min(kept_copies)}")

    sh = {i: shingles(t) for i, t in text_of.items()}
    index: dict[str, list[int]] = {}
    for i in sorted(sh):
        for s in sh[i]:
            index.setdefault(s, []).append(i)
    for d in sorted(set(text_of) - kept_set):
        partners = {j for s in sh[d] for j in index[s] if j < d}
        if not any(
            text_of[j] == text_of[d] or round(jaccard(sh[j], sh[d]), 4) >= threshold
            for j in partners
        ):
            _fail(f"doc {d} removed without a smaller-id near or exact duplicate")

    near = [c for c in docs.base_of if round(jaccard(sh[c], sh[docs.base_of[c]]), 4) >= threshold]
    js = [jaccard(sh[c], sh[docs.base_of[c]]) for c in near]
    recall = sum(1 for c in near if c not in kept_set) / len(near) if near else 1.0
    floor = banding_floor(js, bands, rows_per_band)
    if recall < floor:
        _fail(f"near-copy recall {recall:.4f} below the banding floor {floor:.4f}")
    return {"near_copies": len(near), "recall": recall, "floor": floor}
