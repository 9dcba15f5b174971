"""Self-test of the output checks: each must pass on a real committed
output and fail on a deliberately corrupted copy of it.

    python3 perfbench/selftest.py

Run from the repository root. Runs each workload's job once on small
inputs (a few hundred documents) and prints one line per corruption.
"""

from __future__ import annotations

import copy
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402


def shifted_span(rows):
    rows = copy.deepcopy(rows)
    for r in rows:
        for name, span in (r["fields"] or {}).items():
            if span:
                span["start"] += 1
                span["end"] += 1
                return rows
    raise AssertionError("no span to shift")


def wrong_field(rows):
    rows = copy.deepcopy(rows)
    for r in rows:
        span = (r["fields"] or {}).get("invoice_id")
        if span:
            last = span["value"][-1]
            span["value"] = span["value"][:-1] + ("1" if last == "0" else "0")
            return rows
    raise AssertionError("no invoice id to change")


def footer_left(rows):
    rows = copy.deepcopy(rows)
    rows[0]["extracted_text"] += "\n© 2021 shop00.example-a.com"
    return rows


def extraction_corruptions():
    return {
        "dropped row": lambda rows, lin: (rows[1:], lin),
        "url committed twice": lambda rows, lin: (rows + [rows[0]], lin),
        "shifted span": lambda rows, lin: (shifted_span(rows), lin),
        "field differs from planted value": lambda rows, lin: (wrong_field(rows), lin),
        "footer left in text": lambda rows, lin: (footer_left(rows), lin),
        "lineage bytes_in off by one": lambda rows, lin: (
            rows,
            [{**lin[0], "bytes_in": lin[0]["bytes_in"] + 1}] + lin[1:],
        ),
    }


def recount(rows, lineage):
    """Lineage shifted to the corrupted row count, so that the curation
    checks, not the lineage sums, must catch the corruption."""
    delta = len(rows) - sum(ln["n_rows"] for ln in lineage)
    first = {**lineage[0], "n_rows": lineage[0]["n_rows"] + delta, "n_ok": lineage[0]["n_ok"] + delta}
    return rows, [first] + lineage[1:]


def curation_corruptions(wl):
    docs = wl.docs
    text_of = dict(zip(docs.ids, docs.texts))
    copy_id = min(docs.exact_of)
    base_id = min(docs.bases)

    def kept_copy(rows, lin):
        return recount(rows + [{"doc_id": copy_id, "text": text_of[copy_id]}], lin)

    def dropped_base(rows, lin):
        return recount([r for r in rows if r["doc_id"] != base_id], lin)

    def dropped_unique(rows, lin):
        singles = set(docs.ids) - set(docs.base_of) - set(docs.exact_of) - docs.bases
        victim = min(r["doc_id"] for r in rows if r["doc_id"] in singles)
        return recount([r for r in rows if r["doc_id"] != victim], lin)

    def changed_text(rows, lin):
        rows = copy.deepcopy(rows)
        rows[0]["text"] = rows[0]["text"][::-1]
        return rows, lin

    def kept_near_copies(rows, lin):
        kept = {r["doc_id"] for r in rows}
        back = [{"doc_id": i, "text": text_of[i]} for i in docs.base_of if i not in kept]
        return recount(rows + back[: max(1, len(back) // 2)], lin)

    return {
        "planted exact copy kept": kept_copy,
        "planted base removed": dropped_base,
        "dropped row (unique document)": dropped_unique,
        "committed text changed": changed_text,
        "half the removed near-copies kept": kept_near_copies,
    }


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    import run
    import workloads

    inputs.SEGMENT_PAGES = 400
    inputs.CURATE_DOCS = 400
    work = os.path.join(root, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    from invoice_extraction_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    try:
        for name, cls in workloads.WORKLOADS.items():
            wl = cls(root, os.path.join(work, name), 7)
            wl.generate()
            _, manifest, _ = wl.run_job()
            rows = checks.read_snapshot(manifest, wl.columns)
            lineage = manifest["lineage"]
            wl.verify(rows, lineage)
            print(f"{name}: real output passes")
            cases = curation_corruptions(wl) if name == "curate_near_dup" else extraction_corruptions()
            for case, corrupt in cases.items():
                r, lin = corrupt(rows, lineage)
                try:
                    wl.verify(r, lin)
                except checks.CheckError as e:
                    print(f"{name}: {case}: caught ({e})")
                else:
                    print(f"{name}: {case}: NOT CAUGHT")
                    bad += 1
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print("self-test", "failed" if bad else "passed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
