"""Bloom presence tier for the span-gram index (VERDICT r4 Next #4):
probe output is provably identical with and without the tier (the verify
tier re-checks candidates against real gram hashes), a planted-FP /
fully-saturated bloom never cuts an innocent span, no false negatives
exist, and the bitmap is a small fraction of the index it summarizes."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from invoice_extraction_spark.operators.span_dedup import (
    GramBloom,
    build_gram_bloom,
    remove_duplicate_spans_incremental,
    span_gram_index,
)

L = 4
SHARED = "alpha beta gamma delta epsilon zeta"

HIST = [(100, f"h1 h2 {SHARED} h3"), (101, "other historical words entirely")]
BATCH = [
    (0, f"n1 {SHARED} n2"),  # dupes history -> cut
    (11, "w x y z q a"),  # batch-fresh pair: 11 canonical
    (12, "b w x y z q"),  # -> cut
    (13, "nothing shared at all here"),  # fresh, untouched
]


@pytest.fixture(scope="module")
def frames(spark):
    hist = spark.createDataFrame(HIST, ["doc_id", "text"])
    batch = spark.createDataFrame(BATCH, ["doc_id", "text"])
    return hist, batch


def _outs(batch, index, bloom):
    out, delta = remove_duplicate_spans_incremental(batch, index, l=L, bloom=bloom)
    o = {r["doc_id"]: (r["text"], r["n_tokens_removed"]) for r in out.collect()}
    d = {r["gh"]: (r["n_occ"], r["canon"]) for r in delta.collect()}
    return o, d


def test_bloom_probe_identical_output(spark, frames):
    hist, batch = frames
    index = span_gram_index(hist, l=L)
    bloom = build_gram_bloom(index)
    assert _outs(batch, index, bloom) == _outs(batch, index, None)


def test_saturated_bloom_never_cuts_innocent_spans(spark, frames):
    """Planted-FP extreme: an all-ones bitmap answers EVERY probe
    positive (100% FP rate for fresh grams), so every gram goes through
    the verify tier — output must still be identical, proving FPs cannot
    cut spans that aren't really in the index."""
    hist, batch = frames
    index = span_gram_index(hist, l=L)
    sat = GramBloom(np.full(2048, 0xFF, dtype=np.uint8), n_hashes=7)
    # sanity: a gram hash certainly NOT in the index still "hits"
    assert bool(sat.contains(np.array([123456789], dtype=np.int64))[0])
    o_sat, d_sat = _outs(batch, index, sat)
    o_ref, d_ref = _outs(batch, index, None)
    assert (o_sat, d_sat) == (o_ref, d_ref)
    # the genuinely-fresh docs survived the 100%-FP storm
    assert o_sat[13][1] == 0
    assert o_sat[11][1] == 0  # batch-canonical of the fresh pair


def test_tiny_bloom_with_real_collisions(spark, frames):
    """A deliberately undersized bitmap (high organic FP rate) still
    yields identical output."""
    hist, batch = frames
    index = span_gram_index(hist, l=L)
    tiny = build_gram_bloom(index, bits_per_item=1, n_hashes=1)
    assert _outs(batch, index, tiny) == _outs(batch, index, None)


def test_no_false_negatives_and_sane_fp_rate():
    rng = np.random.default_rng(7)
    added = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    other = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    other = np.setdiff1d(other, added)
    n_bits = 20_000 * 10
    bloom = GramBloom(np.zeros(n_bits // 8, dtype=np.uint8), n_hashes=7)
    bloom.add(added)
    assert bloom.contains(added).all()  # NEVER a false negative
    fp = bloom.contains(other).mean()
    assert fp < 0.05  # ~1% expected at 10 bits/item, k=7


def test_union_matches_single_build():
    rng = np.random.default_rng(11)
    a = rng.integers(-(2**62), 2**62, size=5_000, dtype=np.int64)
    b = rng.integers(-(2**62), 2**62, size=5_000, dtype=np.int64)
    nbytes = 12_500
    b1 = GramBloom(np.zeros(nbytes, dtype=np.uint8), 7)
    b1.add(a)
    b2 = GramBloom(np.zeros(nbytes, dtype=np.uint8), 7)
    b2.add(b)
    whole = GramBloom(np.zeros(nbytes, dtype=np.uint8), 7)
    whole.add(np.concatenate([a, b]))
    assert (b1.union(b2).bits == whole.bits).all()


def test_md5_domain_rejected(spark):
    """An index read from disk whose ``gh`` holds md5 hex strings, not the
    kernel's int64 hashes, cannot feed the bitmap."""
    index = spark.createDataFrame(
        [("0cc175b9c0f1b6a831c399e269772661", 2, "000000000000001:000000000000001")],
        "gh string, n_occ bigint, canon string",
    )
    with pytest.raises(ValueError, match="int64 gram hashes"):
        build_gram_bloom(index)


def test_bloom_bytes_much_smaller_than_index(spark, tmp_path):
    """'Probe bytes measured << full index': on the real corpus the
    bitmap is a small fraction of the persisted index parquet."""
    import os

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    index = span_gram_index(docs, l=20)
    p = str(tmp_path / "idx")
    index.write.parquet(p)
    index_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(p)
        for f in fs
        if f.endswith(".parquet")
    )
    bloom = build_gram_bloom(spark.read.parquet(p))
    assert bloom.nbytes * 4 < index_bytes
    # and it actually answers: every indexed gram is present
    ghs = np.array(
        [r["gh"] for r in index.limit(1000).collect()], dtype=np.int64
    )
    assert bloom.contains(ghs).all()
