"""The curation stream's span tier alone (``run_curate_stream`` with
``exact=False, span_l=L``) and its gram index
(streaming/span_dedup_stream.py): cross-batch repeated spans are cut with
history winning, within-batch repeats keep the batch-canonical,
checkpoint replay is a no-op, an orphan delta partition from a crashed
attempt never poisons its own batch's replay, and index compaction
preserves the fold."""

import os

import pandas as pd
from pyspark.sql import functions as F

from invoice_extraction_spark.operators.span_dedup import span_gram_index
from invoice_extraction_spark.sources.atomic import read_table
from invoice_extraction_spark.streaming.curate_stream import (
    index_dirs,
    run_curate_stream,
)
from invoice_extraction_spark.streaming.seq_index import n_seq_partitions
from invoice_extraction_spark.streaming.span_dedup_stream import (
    compact_span_index,
    load_span_index,
)

L = 4
SHARED = "alpha beta gamma delta epsilon zeta"  # 6 tokens -> 3 overlapping 4-grams

B0 = [
    ("u0", f"one two {SHARED} seven eight"),  # canonical holder
    ("u1", f"nine ten {SHARED} eleven"),  # within-batch repeat -> cut
    ("u2", "totally unrelated words about satellites"),
]
B1 = [
    ("u3", f"x1 {SHARED} x2"),  # cross-batch repeat -> history wins
    ("u4", "fresh content entirely new here"),
]


def _write_batch(spark, src, rows):
    spark.createDataFrame(pd.DataFrame(rows, columns=["url", "text"])).coalesce(
        1
    ).write.mode("append").parquet(src)


def _dirs(tmp_path):
    return (
        str(tmp_path / "src"),
        str(tmp_path / "tbl"),
        str(tmp_path / "idx"),
        str(tmp_path / "ckpt"),
    )


def _run(spark, dirs, **kw):
    src, tbl, root, ckpt = dirs
    run_curate_stream(spark, src, tbl, root, ckpt, exact=False, span_l=L, **kw)


def _texts(spark, tbl):
    return {r["url"]: r["text"] for r in read_table(spark, tbl).collect()}


def test_cross_batch_span_cut_and_replay_idempotent(spark, tmp_path):
    dirs = src, tbl, root, _ = _dirs(tmp_path)
    idx = index_dirs(root)["grams"]
    _write_batch(spark, src, B0)
    _run(spark, dirs)
    t = _texts(spark, tbl)
    assert t["u0"] == f"one two {SHARED} seven eight"  # canonical verbatim
    assert t["u1"] == "nine ten eleven"  # within-batch repeat cut
    assert t["u2"] == B0[2][1]

    _write_batch(spark, src, B1)
    _run(spark, dirs)
    t = _texts(spark, tbl)
    assert t["u3"] == "x1 x2"  # history's span cut, history untouched
    assert t["u4"] == B1[1][1]
    assert t["u0"] == f"one two {SHARED} seven eight"

    # replay with the same checkpoint: full no-op
    _run(spark, dirs)
    assert _texts(spark, tbl) == t

    # the folded index == one-shot span_gram_index over the ORIGINAL
    # corpus (counts sum across batches; earliest batch's canonical wins)
    orig = spark.createDataFrame(
        pd.DataFrame(B0 + B1, columns=["url", "text"])
    )
    want = {
        r["gh"]: (r["n_occ"], r["canon"])
        for r in span_gram_index(orig, id_col="url", l=L).collect()
    }
    got = {
        r["gh"]: (r["n_occ"], r["canon"])
        for r in load_span_index(spark, idx).collect()
    }
    assert got == want


def test_orphan_delta_partition_does_not_poison_replay(spark, tmp_path):
    """Crash between the delta write and the survivor commit: the replay
    must NOT see its own orphan partition (span_dedup.py's documented
    hazard — an index already containing the batch's delta cuts its
    canonical occurrences too)."""
    dirs = src, tbl, root, _ = _dirs(tmp_path)
    idx = index_dirs(root)["grams"]
    _write_batch(spark, src, B0)
    _run(spark, dirs)

    # stage batch 1 files AND hand-plant the delta partition a dead
    # prior attempt would have left (same content the sink writes)
    _write_batch(spark, src, B1)
    b1 = spark.createDataFrame(pd.DataFrame(B1, columns=["url", "text"]))
    span_gram_index(b1, id_col="url", l=L).write.mode("overwrite").parquet(
        f"{idx}/seq=1"
    )

    _run(spark, dirs)
    t = _texts(spark, tbl)
    # u3's span dupes BATCH-0 history -> cut; u4 is brand new and its
    # grams exist ONLY in the orphan — it must survive verbatim
    assert t["u3"] == "x1 x2"
    assert t["u4"] == B1[1][1]


def test_compaction_preserves_fold_and_future_batches(spark, tmp_path):
    dirs = src, tbl, root, _ = _dirs(tmp_path)
    idx = index_dirs(root)["grams"]
    _write_batch(spark, src, B0)
    _run(spark, dirs)
    _write_batch(spark, src, B1)
    _run(spark, dirs)

    before = {
        r["gh"]: (r["n_occ"], r["canon"])
        for r in load_span_index(spark, idx).collect()
    }
    assert compact_span_index(spark, idx) == 2  # two partitions folded
    after = {
        r["gh"]: (r["n_occ"], r["canon"])
        for r in load_span_index(spark, idx).collect()
    }
    assert after == before
    assert len(os.listdir(idx)) == 1  # one seq dir plus no leftovers
    assert compact_span_index(spark, idx) == 1  # already compact: no-op

    # a post-compaction batch still dedups against the whole history
    _write_batch(spark, src, [("u9", f"y1 {SHARED} y2")])
    _run(spark, dirs)
    assert _texts(spark, tbl)["u9"] == "y1 y2"


def test_compaction_cadence_policy(spark, tmp_path):
    """compact_every=2 with one-file micro-batches: the index is folded
    back to a single partition as the stream runs (never more than 2
    live), every batch still dedups against the FULL folded history, and
    the end-state index equals the one-shot fold over the whole corpus."""
    dirs = src, tbl, root, _ = _dirs(tmp_path)
    idx = index_dirs(root)["grams"]
    extra = ("u9", f"y1 {SHARED} y2")
    files = [[B0[0]], [B0[1]], [B1[0]], [B1[1], extra]]
    for rows in files:
        _write_batch(spark, src, rows)
    _run(spark, dirs, max_files_per_trigger=1, compact_every=2)

    assert n_seq_partitions(idx) == 1  # cadence kept folding
    t = _texts(spark, tbl)
    assert t["u0"] == f"one two {SHARED} seven eight"  # canonical verbatim
    assert t["u1"] == "nine ten eleven"  # cut vs batch-0 history
    assert t["u3"] == "x1 x2"  # cut vs folded (compacted) history
    assert t["u9"] == "y1 y2"  # cut vs history folded mid-stream
    assert t["u4"] == B1[1][1]

    orig = spark.createDataFrame(
        pd.DataFrame([r for rows in files for r in rows], columns=["url", "text"])
    )
    want = {
        r["gh"]: (r["n_occ"], r["canon"])
        for r in span_gram_index(orig, id_col="url", l=L).collect()
    }
    got = {
        r["gh"]: (r["n_occ"], r["canon"])
        for r in load_span_index(spark, idx).collect()
    }
    assert got == want


def test_interrupted_compaction_recovers(spark, tmp_path):
    """Die between the two directory renames: the live dir is gone and the
    complete consolidated tmp remains — the next load (or stream start)
    must promote it with nothing lost."""
    dirs = src, tbl, root, _ = _dirs(tmp_path)
    idx = index_dirs(root)["grams"]
    _write_batch(spark, src, B0)
    _run(spark, dirs)
    _write_batch(spark, src, B1)
    _run(spark, dirs)
    before = {
        r["gh"]: (r["n_occ"], r["canon"])
        for r in load_span_index(spark, idx).collect()
    }

    # replicate compact_span_index up to the crash point
    df = spark.read.option("basePath", idx).parquet(idx)
    folded = df.groupBy("gh").agg(
        F.sum("n_occ").alias("n_occ"),
        F.min(F.struct("seq", "canon"))["canon"].alias("canon"),
    )
    folded.write.mode("overwrite").parquet(f"{idx}.compact.tmp/seq=1")
    os.rename(idx, idx + ".compact.old")  # crash here: live dir missing

    after = {
        r["gh"]: (r["n_occ"], r["canon"])
        for r in load_span_index(spark, idx).collect()
    }
    assert after == before
    assert os.path.isdir(idx)
    assert not os.path.isdir(idx + ".compact.old")
    assert not os.path.isdir(idx + ".compact.tmp")


def test_string_id_one_shot_semantics(spark):
    """The type-aware canonical key: string-keyed corpora go through the
    same one-shot operator (format_string('%d') would throw on urls)."""
    from invoice_extraction_spark.operators.span_dedup import (
        remove_duplicate_spans,
    )

    d = spark.createDataFrame(
        pd.DataFrame(B0, columns=["url", "text"])
    )
    out = {
        r["url"]: (r["text"], r["n_tokens_removed"])
        for r in remove_duplicate_spans(d, id_col="url", l=L).collect()
    }
    assert out["u0"] == (f"one two {SHARED} seven eight", 0)
    assert out["u1"] == ("nine ten eleven", 6)
    assert out["u2"][1] == 0

