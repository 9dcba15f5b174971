"""Gopher-style repetition signals: hand-crafted docs with known token math,
and the gate's drop-the-spam behavior."""

import pandas as pd
from pyspark.sql import functions as F

from invoice_extraction_spark.functions.text_metrics import (
    repetition_keep,
    repetition_stats,
)
from tests import references as ref


# documents with doc_id below this (the sf0.001 ids start at 0) join the
# edge strings in the kernel-vs-reference equality test
CORPUS_SLICE = 20


def _df(spark):
    rows = [
        (0, "a b c d e f g h"),                    # all distinct: dup 0
        (1, "spam spam spam spam spam spam"),       # one token: dup 5/6
        (2, "x y x y x y x y"),                     # "x y" bigram dominates
        (3, "w"),                                   # single token edge
        (4, ""),                                    # empty edge
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_repetition_math(spark):
    s = repetition_stats("text")
    got = {
        r["doc_id"]: r
        for r in _df(spark)
        .select(
            "doc_id",
            s["dup_token_frac"].alias("dup"),
            s["max_bigram_n"].alias("mb"),
            s["top_bigram_frac"].alias("tb"),
        )
        .collect()
    }
    assert got[0]["dup"] == 0.0 and got[0]["mb"] == 1
    assert got[1]["dup"] == round(5 / 6, 4)
    assert got[1]["mb"] == 5  # "spam spam" x5
    assert got[1]["tb"] == 1.0
    # "x y x y x y x y": bigrams = x y, y x, x y, y x, x y, y x, x y -> max 4/7
    assert got[2]["mb"] == 4
    assert got[2]["tb"] == round(4 / 7, 4)
    assert got[3]["dup"] == 0.0 and got[3]["mb"] == 1
    assert got[4]["dup"] == 0.0  # empty text degrades, never errors


def test_repetition_gate_drops_spam(spark):
    kept = {
        r["doc_id"]: r["keep"]
        for r in _df(spark)
        .select("doc_id", repetition_keep(repetition_stats("text")).alias("keep"))
        .collect()
    }
    assert kept[0] is True
    assert kept[1] is False  # token spam
    assert kept[2] is False  # bigram spam
    assert kept[3] is True


def test_fast_kernel_equals_column_forms(spark):
    """repetition_stats (Arrow) must agree EXACTLY with the Column
    reference forms in tests/references.py — including half-up 4-dp
    rounding — on adversarial edge strings and a fixed slice of the
    corpus. The kernel is what every corpus-wide gate runs
    (q:repetition_filter_counts, curate --repetition-gate, datacard);
    the reference's HOF fold is interpreted per element (~40 ms/doc), so
    the corpus slice stays small. The kernel's full-corpus numbers are
    pinned by the DuckDB parity of q:repetition_scores and
    test_repetition_filter_counts_parity."""
    edges = [
        "", "a", "a a", "a b", "a  b ", "x y x y x y x y",
        "one two three two three two", "  ", "solo", None,
    ]
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < CORPUS_SLICE)
        .select("text")
        .union(spark.createDataFrame([(t,) for t in edges], "text string"))
    )
    s = repetition_stats("text")
    rows = docs.select(
        "text",
        s["dup_token_frac"].alias("fd"),
        s["top_bigram_frac"].alias("ft"),
        s["max_bigram_n"].alias("fm"),
        ref.dup_token_fraction("text").alias("cd"),
        ref.top_bigram_fraction("text").alias("ct"),
        ref.max_bigram_count("text").alias("cm"),
        repetition_keep(s).alias("fk"),
        ref.repetition_keep("text").alias("ck"),
    ).collect()
    assert len(rows) == CORPUS_SLICE + len(edges)
    for r in rows:
        assert (r["fd"], r["ft"], r["fm"], r["fk"]) == (
            r["cd"], r["ct"], r["cm"], r["ck"],
        ), (r["text"] or "")[:60]
