"""Incremental curation stream (streaming/curate_stream.py): stateless
gates drop junk before any index work, each dedup tier probes its
persisted seq-partitioned index (exact fingerprints, LSH bands, span
grams) with history winning, all deltas are written before the atomic
commit so a replay is a no-op, an orphan delta from a crashed attempt
never poisons its own batch, and the compaction cadence folds every
enabled index."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from invoice_extraction_spark.sources.atomic import read_table
from invoice_extraction_spark.streaming.curate_stream import (
    index_dirs,
    run_curate_stream,
)
from invoice_extraction_spark.streaming.seq_index import load_rows, n_seq_partitions

GOOD = (
    "the quick brown fox and the lazy dog went to the market in the "
    "morning to buy some fresh fruit and vegetables for the week ahead"
)
NEAR = GOOD.replace("week", "month")  # one-word edit: high jaccard
JUNK = "!!! ??? !!!"  # fails the quality floor
REPEAT = " ".join(["spam"] * 60)  # fails the Gopher repetition gate
SHARED = "alpha beta gamma delta epsilon zeta"  # 6 tokens -> 3 4-grams
SP1 = f"one two {SHARED} seven eight"
# long unique flanks keep whole-text jaccard vs SP1 low, so the near tier
# never confuses the span-dedup cases
SP2 = (
    "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 "
    + SHARED
    + " y1 y2 y3 y4 y5 y6 y7 y8 y9 y10"
)
FRESH = "completely unrelated words about satellites orbiting the planet"

L = 4


def _write_batch(spark, src, rows):
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "text"])
    ).coalesce(1).write.mode("append").parquet(src)


def _dirs(tmp_path):
    return (
        str(tmp_path / "src"),
        str(tmp_path / "tbl"),
        str(tmp_path / "idx"),
        str(tmp_path / "ckpt"),
    )


def _run(spark, dirs, **kw):
    src, tbl, idx, ckpt = dirs
    run_curate_stream(spark, src, tbl, idx, ckpt, **kw)


def _texts(spark, tbl):
    return {r["url"]: r["text"] for r in read_table(spark, tbl).collect()}


def test_gates_and_exact_cross_batch(spark, tmp_path):
    dirs = src, tbl, idx, ckpt = _dirs(tmp_path)
    _write_batch(
        spark, src,
        [("g1", GOOD), ("junk", JUNK), ("rep", REPEAT), ("g1b", GOOD)],
    )
    _run(spark, dirs, min_quality=0.05, repetition_gate=True)
    t = _texts(spark, tbl)
    # gates dropped junk/rep; within-batch exact dedup kept min id
    assert set(t) == {"g1"}
    # the fingerprint index holds exactly the committed doc
    fp = load_rows(spark, index_dirs(idx)["exact"])
    assert fp.count() == 1

    _write_batch(spark, src, [("z9", GOOD), ("f1", FRESH)])
    _run(spark, dirs, min_quality=0.05, repetition_gate=True)
    t = _texts(spark, tbl)
    # z9 duplicates committed history byte-for-byte -> dropped
    assert set(t) == {"g1", "f1"}


@pytest.mark.parametrize("near_verify", [True, False])
def test_near_cross_batch(spark, tmp_path, near_verify):
    dirs = src, tbl, idx, ckpt = _dirs(tmp_path)
    _write_batch(spark, src, [("g1", GOOD)])
    _run(spark, dirs, near=True, near_verify=near_verify)
    _write_batch(spark, src, [("n1", NEAR), ("f1", FRESH)])
    _run(spark, dirs, near=True, near_verify=near_verify)
    t = _texts(spark, tbl)
    # n1 is a one-word edit of committed g1: band collision -> dropped
    # (near_verify=False: on the collision alone, dedup_incremental);
    # FRESH shares no shingles -> survives
    assert set(t) == {"g1", "f1"}
    bands = load_rows(spark, index_dirs(idx)["bands"])
    assert {r["id"] for r in bands.select("id").distinct().collect()} == {
        "g1", "f1",
    }


def test_span_cross_batch_history_wins(spark, tmp_path):
    dirs = src, tbl, idx, ckpt = _dirs(tmp_path)
    _write_batch(spark, src, [("sp1", SP1)])
    _run(spark, dirs, span_l=L)
    _write_batch(spark, src, [("sp2", SP2)])
    _run(spark, dirs, span_l=L)
    t = _texts(spark, tbl)
    assert t["sp1"] == SP1  # canonical holder untouched
    # sp2's repeated span cut, flanks intact
    assert t["sp2"] == SP2.replace(" " + SHARED + " ", " ")
    assert "n_tokens_removed" in read_table(spark, tbl).columns


def test_full_chain_and_replay_idempotent(spark, tmp_path):
    dirs = src, tbl, idx, ckpt = _dirs(tmp_path)
    kw = dict(min_quality=0.05, repetition_gate=True, near=True, span_l=L)
    _write_batch(
        spark, src, [("g1", GOOD), ("junk", JUNK), ("sp1", SP1)]
    )
    _run(spark, dirs, **kw)
    _write_batch(
        spark, src,
        [("z9", GOOD), ("n1", NEAR), ("sp2", SP2), ("f1", FRESH)],
    )
    _run(spark, dirs, **kw)
    t = _texts(spark, tbl)
    assert set(t) == {"g1", "sp1", "sp2", "f1"}
    assert t["sp2"] == SP2.replace(" " + SHARED + " ", " ")

    # replay with the same checkpoint: table and every index unchanged
    d = index_dirs(idx)
    before = {
        k: load_rows(spark, d[k]).count() for k in ("exact", "bands")
    }
    _run(spark, dirs, **kw)
    assert _texts(spark, tbl) == t
    after = {
        k: load_rows(spark, d[k]).count() for k in ("exact", "bands")
    }
    assert after == before
    # fingerprints cover exactly the four committed docs
    assert before["exact"] == 4


def test_orphan_deltas_do_not_poison_replay(spark, tmp_path):
    """Crash between the delta writes and the commit: the replayed batch
    must not anti-join against its own fingerprints (which would drop the
    whole batch) nor cut spans against its own grams."""
    dirs = src, tbl, idx, ckpt = _dirs(tmp_path)
    kw = dict(span_l=L)
    _write_batch(spark, src, [("g1", GOOD)])
    _run(spark, dirs, **kw)

    _write_batch(spark, src, [("f1", FRESH), ("sp1", SP1)])
    d = index_dirs(idx)
    # hand-plant the deltas a dead prior attempt would have left
    spark.createDataFrame(
        [(r,) for r in
         [spark.createDataFrame([(FRESH,)], "t string")
          .select(F.md5("t")).first()[0],
          spark.createDataFrame([(SP1,)], "t string")
          .select(F.md5("t")).first()[0]]],
        "fp string",
    ).write.mode("overwrite").parquet(f"{d['exact']}/seq=1")
    from invoice_extraction_spark.operators.span_dedup import span_gram_index

    b1 = spark.createDataFrame(
        pd.DataFrame([("f1", FRESH), ("sp1", SP1)], columns=["url", "text"])
    )
    span_gram_index(b1, id_col="url", l=L).write.mode("overwrite").parquet(
        f"{d['grams']}/seq=1"
    )

    _run(spark, dirs, **kw)
    t = _texts(spark, tbl)
    # both batch docs exist ONLY in the orphans — they must land verbatim
    assert t["f1"] == FRESH
    assert t["sp1"] == SP1


def test_compaction_cadence_all_indexes(spark, tmp_path):
    dirs = src, tbl, idx, ckpt = _dirs(tmp_path)
    kw = dict(near=True, span_l=L, max_files_per_trigger=1, compact_every=2)
    for rows in ([("g1", GOOD)], [("sp1", SP1)], [("f1", FRESH)],
                 [("z9", GOOD), ("sp2", SP2)]):
        _write_batch(spark, src, rows)
    _run(spark, dirs, **kw)
    d = index_dirs(idx)
    for k in ("exact", "bands", "grams"):
        assert n_seq_partitions(d[k]) == 1, k
    t = _texts(spark, tbl)
    # dedup still correct against mid-stream-compacted history
    assert set(t) == {"g1", "sp1", "f1", "sp2"}
    assert t["sp2"] == SP2.replace(" " + SHARED + " ", " ")


def test_span_bloom_stream_identical_output(spark, tmp_path):
    """use_bloom probes through the presence tier; the exact verify tier
    keeps the streamed result byte-identical to the plain probe."""
    plain = _dirs(tmp_path / "plain")
    bloomed = _dirs(tmp_path / "bloomed")
    for dirs, kw in ((plain, {}), (bloomed, {"span_bloom": True})):
        for rows in ([("sp1", SP1)], [("sp2", SP2), ("f1", FRESH)]):
            _write_batch(spark, dirs[0], rows)
            _run(spark, dirs, span_l=L, max_files_per_trigger=1, **kw)
    assert _texts(spark, bloomed[1]) == _texts(spark, plain[1])
    # the gram indexes fold identically too
    from invoice_extraction_spark.streaming.span_dedup_stream import (
        load_span_index,
    )

    want = {
        r["gh"]: (r["n_occ"], r["canon"])
        for r in load_span_index(spark, index_dirs(plain[2])["grams"]).collect()
    }
    got = {
        r["gh"]: (r["n_occ"], r["canon"])
        for r in load_span_index(
            spark, index_dirs(bloomed[2])["grams"]
        ).collect()
    }
    assert got == want


def test_cli_streaming_mode(spark, tmp_path):
    """jobs/curate.py --streaming: the spark-submit surface drains the
    source through the incremental chain, a re-invocation is a no-op, and
    batch-only stages are rejected."""
    from jobs.curate import main

    src, tbl, idx, ckpt = _dirs(tmp_path)
    _write_batch(spark, src, [("g1", GOOD), ("junk", JUNK), ("g1b", GOOD)])
    argv = [
        "--source", src, "--table", tbl,
        "--id-col", "url",
        "--streaming", "--index-root", idx, "--checkpoint", ckpt,
        "--exact-dedup", "--min-quality", "0.05",
    ]
    main(argv)
    assert set(_texts(spark, tbl)) == {"g1"}

    # second drop drains incrementally; duplicate of history drops
    _write_batch(spark, src, [("z9", GOOD), ("f1", FRESH)])
    main(argv)
    assert set(_texts(spark, tbl)) == {"g1", "f1"}

    # batch-only stage rejected loudly in streaming mode
    with pytest.raises(SystemExit):
        main(argv + ["--pack-budget", "256"])
    # streaming embedding tier needs the vectors ON the rows
    with pytest.raises(SystemExit):
        main(argv + ["--embedding-dedup", "0.99"])


def test_near_verify_cross_batch(spark, tmp_path):
    """near_verify=True: true cross-batch near-dups still drop (the
    signatures agree), the signature index accumulates exactly the
    committed survivors, and a replay is a no-op."""
    dirs = src, tbl, idx, ckpt = _dirs(tmp_path)
    kw = dict(near=True, near_verify=True)
    _write_batch(spark, src, [("g1", GOOD)])
    _run(spark, dirs, **kw)
    _write_batch(spark, src, [("n1", NEAR), ("f1", FRESH)])
    _run(spark, dirs, **kw)
    t = _texts(spark, tbl)
    assert set(t) == {"g1", "f1"}
    sigs = load_rows(spark, index_dirs(idx)["sigs"])
    assert {r["id"] for r in sigs.select("id").collect()} == {"g1", "f1"}
    _run(spark, dirs, **kw)  # replay no-op
    assert set(_texts(spark, tbl)) == {"g1", "f1"}


def test_embedding_tier_cross_batch(spark, tmp_path):
    """embedding_col enables the fourth dedup family inside the composed
    stream: a doc whose vector near-dups a committed survivor drops even
    when its TEXT is fresh, and the membership index tracks survivors."""
    import numpy as np

    def unit(v):
        v = np.asarray(v, dtype=float)
        return [float(x) for x in v / np.linalg.norm(v)]

    rng = np.random.default_rng(42)
    a0 = np.asarray(unit(rng.normal(size=8)))
    a1 = unit(a0 + 0.005 * rng.normal(size=8))
    s0 = unit(rng.normal(size=8))
    a0 = unit(a0)

    src, tbl, idx, ckpt = dirs = _dirs(tmp_path)

    def write(rows):
        spark.createDataFrame(
            rows, "url string, text string, embedding array<double>"
        ).coalesce(1).write.mode("append").parquet(src)

    kw = dict(
        schema="url string, text string, embedding array<double>",
        embedding_col="embedding",
        embedding_dim=8,
        embedding_n_probe=0,
    )
    write([("g1", GOOD, a0)])
    _run(spark, dirs, **kw)
    write([("e9", FRESH, a1), ("f1", SP1, s0)])
    _run(spark, dirs, **kw)
    t = _texts(spark, tbl)
    # e9's text is fresh but its vector near-dups committed g1 -> dropped
    assert set(t) == {"g1", "f1"}
    from invoice_extraction_spark.streaming.embedding_dedup_stream import (
        load_membership_index,
    )

    mb = load_membership_index(spark, index_dirs(idx)["emb"])
    assert {r["id"] for r in mb.select("id").distinct().collect()} == {
        "g1", "f1",
    }
    _run(spark, dirs, **kw)  # replay no-op
    assert set(_texts(spark, tbl)) == {"g1", "f1"}


def test_per_batch_retention_stats(spark, tmp_path):
    """stats=True records one retention row per enabled stage per batch,
    delta-first and replay-idempotent; load_rows over the stats dir is
    the whole retention history."""
    dirs = src, tbl, idx, ckpt = _dirs(tmp_path)
    kw = dict(min_quality=0.05, repetition_gate=True, stats=True)
    _write_batch(
        spark, src, [("g1", GOOD), ("junk", JUNK), ("g1b", GOOD)]
    )
    _run(spark, dirs, **kw)
    rows = {
        (r["batch_id"], r["stage"]): r["n_docs"]
        for r in load_rows(spark, f"{idx}/stats").collect()
    }
    assert rows == {
        (0, "input"): 3,
        (0, "gates"): 2,   # junk gated out
        (0, "exact"): 1,   # g1b collapsed within batch
    }
    _write_batch(spark, src, [("z9", GOOD), ("f1", FRESH)])
    _run(spark, dirs, **kw)
    rows = {
        (r["batch_id"], r["stage"]): r["n_docs"]
        for r in load_rows(spark, f"{idx}/stats").collect()
    }
    assert rows[(1, "input")] == 2
    assert rows[(1, "exact")] == 1  # z9 dropped vs history
    _run(spark, dirs, **kw)  # replay: stats unchanged
    assert len(load_rows(spark, f"{idx}/stats").collect()) == 6


def test_quota_and_embedding_tiers_compose(spark, tmp_path):
    """ADVICE r5 (medium): with BOTH --embedding-dedup and --max-per-domain
    on, a doc that clears the embedding tier but is then quota-dropped must
    NOT leave its vector in the membership index — otherwise a later doc
    whose vector near-dups the never-committed one is silently dropped as a
    'history' near-dup. The emb delta must hold exactly the committed
    corpus."""
    import numpy as np

    def unit(v):
        v = np.asarray(v, dtype=float)
        return [float(x) for x in v / np.linalg.norm(v)]

    rng = np.random.default_rng(7)
    va = unit(rng.normal(size=8))
    vb = unit(rng.normal(size=8))  # ~orthogonal to va in 8-dim w.h.p.
    vb_near = unit(np.asarray(vb) + 0.005 * rng.normal(size=8))

    src, tbl, idx, ckpt = dirs = _dirs(tmp_path)

    def write(rows):
        spark.createDataFrame(
            rows, "url string, text string, embedding array<double>"
        ).coalesce(1).write.mode("append").parquet(src)

    kw = dict(
        schema="url string, text string, embedding array<double>",
        embedding_col="embedding",
        embedding_dim=8,
        embedding_n_probe=0,
        max_per_domain=1,
    )
    # batch 1: two docs of ONE domain, distinct texts + vectors — both
    # clear the embedding tier, the quota keeps exactly one
    write([
        ("https://one.dom.com/a", GOOD, va),
        ("https://one.dom.com/b", FRESH, vb),
    ])
    _run(spark, dirs, **kw)
    committed = set(_texts(spark, tbl))
    assert len(committed) == 1, committed
    dropped_vec = vb if committed == {"https://one.dom.com/a"} else va
    near_dropped = (
        vb_near
        if committed == {"https://one.dom.com/a"}
        else unit(np.asarray(va) + 0.005 * rng.normal(size=8))
    )
    # the membership index holds ONLY the committed doc's vector
    from invoice_extraction_spark.streaming.embedding_dedup_stream import (
        load_membership_index,
    )

    mb = load_membership_index(spark, index_dirs(idx)["emb"])
    assert {r["id"] for r in mb.select("id").distinct().collect()} == committed
    # batch 2 (other domain): near-dup of the DROPPED vector must survive
    write([("https://two.dom.net/c", SP1, near_dropped)])
    _run(spark, dirs, **kw)
    assert "https://two.dom.net/c" in set(_texts(spark, tbl))


def test_near_verify_requires_sig_index(spark, tmp_path):
    """ADVICE r5 (low): an index root built with near_verify=False has
    bands but no signatures — flipping near_verify on must FAIL LOUDLY
    instead of silently skipping cross-batch near dedup forever."""
    import pytest as _pytest

    dirs = _dirs(tmp_path)
    _write_batch(spark, dirs[0], [("g1", GOOD)])
    _run(spark, dirs, near=True, near_verify=False)
    _write_batch(spark, dirs[0], [("n1", NEAR)])
    with _pytest.raises(Exception, match="signature sibling"):
        _run(spark, dirs, near=True, near_verify=True)
