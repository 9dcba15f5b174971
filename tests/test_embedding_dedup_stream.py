"""The curation stream's embedding tier alone (``run_curate_stream``
with ``exact=False, embedding_col="embedding"``) and its kernel
(streaming/embedding_dedup_stream.py): within-batch clusters collapse to
the min-id canonical, cross-batch near-dups drop with history winning (and
a re-ingested id is idempotent), checkpoint replay is a no-op, an orphan
delta partition from a crashed attempt never poisons its own batch's
replay, the probe-time hot-bucket cap skips candidates without losing
index rows, and membership-index compaction preserves the union."""

import os

import numpy as np
import pytest

from invoice_extraction_spark.sources.atomic import read_table
from invoice_extraction_spark.streaming.curate_stream import (
    index_dirs,
    run_curate_stream,
)
from invoice_extraction_spark.streaming.embedding_dedup_stream import (
    dedup_batch_memberships,
    load_membership_index,
)
from invoice_extraction_spark.streaming.seq_index import (
    compact_rows,
    n_seq_partitions,
)

DIM = 8
SCHEMA = "url string, text string, embedding array<double>"


def _unit(v):
    v = np.asarray(v, dtype=float)
    return v / np.linalg.norm(v)


@pytest.fixture(scope="module")
def vecs():
    """Deterministic geometry (the test_embedding_dedup crafted style):
    cluster around base_a, a three-step chain, and orthogonal-ish
    singletons."""
    rng = np.random.default_rng(42)
    base_a = _unit(rng.normal(size=DIM))
    a1 = _unit(base_a + 0.005 * rng.normal(size=DIM))
    a2 = _unit(base_a + 0.005 * rng.normal(size=DIM))
    s0 = _unit(rng.normal(size=DIM))
    s1 = _unit(rng.normal(size=DIM))
    # chain drawn from its own stream: seed 1001 keeps all three links in
    # ONE sign-LSH bucket under the default planes (verified below), so
    # the chain tests exercise history-wins semantics, not LSH misses
    rng2 = np.random.default_rng(1001)
    b0 = _unit(rng2.normal(size=DIM))
    step = _unit(rng2.normal(size=DIM))
    b1 = _unit(b0 + 0.10 * step)
    b2 = _unit(b1 + 0.10 * step)
    v = {
        "a0": base_a, "a1": a1, "a2": a2,
        "b0": b0, "b1": b1, "b2": b2,
        "s0": s0, "s1": s1,
    }
    # the geometry the tests rely on
    assert np.dot(base_a, a1) > 0.99 and np.dot(base_a, a2) > 0.99
    assert np.dot(b0, b1) > 0.99 and np.dot(b1, b2) > 0.99
    assert np.dot(b0, b2) < 0.99  # chain ends are NOT near-dups
    for s in (s0, s1):
        for t in (base_a, b0, b2):
            assert abs(np.dot(s, t)) < 0.9
    # bucket-sharing premise under the frozen seed-7 planes (numpy twin
    # of similarity._hyperplanes / lsh_bucket_expr)
    import random as _random

    prng = _random.Random(7)
    planes = [[prng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(4)]

    def _bucket(w):
        return "".join(
            "1" if float(np.dot(w, p)) >= 0 else "0" for p in planes
        )

    assert _bucket(base_a) == _bucket(a1) == _bucket(a2)
    assert _bucket(b0) == _bucket(b1) == _bucket(b2)
    assert len({_bucket(s0), _bucket(s1), _bucket(base_a), _bucket(b0)}) == 4
    return {k: [float(x) for x in w] for k, w in v.items()}


def _write_batch(spark, src, rows):
    spark.createDataFrame(
        [(u, f"text of {u}", v) for u, v in rows], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)


def _dirs(tmp_path):
    return (
        str(tmp_path / "src"),
        str(tmp_path / "tbl"),
        str(tmp_path / "idx"),
        str(tmp_path / "ckpt"),
    )


def _run(spark, dirs, **kw):
    src, tbl, root, ckpt = dirs
    kw.setdefault("embedding_n_probe", 0)
    run_curate_stream(
        spark, src, tbl, root, ckpt, schema=SCHEMA, exact=False,
        embedding_col="embedding", embedding_dim=DIM, **kw,
    )


def _ids(spark, tbl):
    return {r["url"] for r in read_table(spark, tbl).select("url").collect()}


def test_within_cross_batch_and_replay_idempotent(spark, tmp_path, vecs):
    dirs = src, tbl, root, _ = _dirs(tmp_path)
    idx = index_dirs(root)["emb"]
    _write_batch(spark, src, [("a0", vecs["a0"]), ("a1", vecs["a1"]),
                              ("a2", vecs["a2"]), ("s0", vecs["s0"])])
    _run(spark, dirs)
    # within-batch cluster -> min-id canonical; singleton untouched
    assert _ids(spark, tbl) == {"a0", "s0"}

    _write_batch(spark, src, [("a9", vecs["a1"]), ("s1", vecs["s1"])])
    _run(spark, dirs)
    # a9 duplicates committed history (a1's vector ~ a0) -> dropped
    assert _ids(spark, tbl) == {"a0", "s0", "s1"}

    # replay with the same checkpoint: full no-op on table AND index
    before = {
        (r["id"], r["bucket"])
        for r in load_membership_index(spark, idx).collect()
    }
    _run(spark, dirs)
    assert _ids(spark, tbl) == {"a0", "s0", "s1"}
    after = {
        (r["id"], r["bucket"])
        for r in load_membership_index(spark, idx).collect()
    }
    assert after == before
    # the index holds exactly the survivors' memberships
    assert {i for i, _b in after} == {"a0", "s0", "s1"}


def test_reingested_id_is_idempotent(spark, tmp_path, vecs):
    dirs = src, tbl, _, _ = _dirs(tmp_path)
    _write_batch(spark, src, [("s0", vecs["s0"])])
    _run(spark, dirs)
    _write_batch(spark, src, [("s0", vecs["s0"])])  # duplicate feed
    _run(spark, dirs)
    assert _ids(spark, tbl) == {"s0"}
    assert read_table(spark, tbl).count() == 1  # no second row landed


def test_history_wins_chain_asymmetry(spark, tmp_path, vecs):
    """b0 committed, then b1~b0 drops, then b2~b1 but b2!~b0: the dropped
    middle link is NOT in the index, so b2 survives — the documented
    incremental asymmetry (one-shot components over {b0,b1,b2} would keep
    only b0)."""
    dirs = src, tbl, _, _ = _dirs(tmp_path)
    for rows in ([("b0", vecs["b0"])], [("b1", vecs["b1"])],
                 [("b2", vecs["b2"])]):
        _write_batch(spark, src, rows)
        _run(spark, dirs)
    assert _ids(spark, tbl) == {"b0", "b2"}


def test_orphan_delta_partition_does_not_poison_replay(spark, tmp_path, vecs):
    """Crash between the delta write and the survivor commit: the replay
    must NOT see its own orphan partition — a batch probing into its own
    membership rows collides with itself at cosine 1.0 and the whole
    batch drops."""
    dirs = src, tbl, root, _ = _dirs(tmp_path)
    idx = index_dirs(root)["emb"]
    _write_batch(spark, src, [("a0", vecs["a0"])])
    _run(spark, dirs)

    # stage batch 1 AND hand-plant the delta a dead attempt would leave
    _write_batch(spark, src, [("s1", vecs["s1"])])
    from invoice_extraction_spark.operators.similarity import (
        candidate_memberships,
    )

    b1 = spark.createDataFrame(
        [("s1", vecs["s1"])], "url string, embedding array<double>"
    )
    candidate_memberships(
        b1, 4, 7, "embedding", "url", DIM,
        max_bucket_size=None, sub_bucket_planes=0, n_probe=0,
    ).select("id", "v", "bucket", "is_primary").write.mode("overwrite").parquet(
        f"{idx}/seq=1"
    )

    _run(spark, dirs)
    # s1's vector exists ONLY in the orphan — it must survive
    assert _ids(spark, tbl) == {"a0", "s1"}


def test_probe_time_cap_skips_but_index_stays_complete(spark, vecs):
    """max_bucket_size=1: every >=2-member bucket is skipped for candidate
    generation, so the a-cluster near-dups are NOT dropped (the cap is
    honest, not silent) — yet their membership rows, the batch's index
    delta, are returned in full."""
    batch = spark.createDataFrame(
        [("a0", vecs["a0"]), ("a1", vecs["a1"])],
        "url string, embedding array<double>",
    )
    kept = dedup_batch_memberships(batch, None, dim=DIM, max_bucket_size=1)
    assert {r["id"] for r in kept.collect()} == {"a0", "a1"}


def test_compaction_preserves_union_and_future_batches(spark, tmp_path, vecs):
    dirs = src, tbl, root, _ = _dirs(tmp_path)
    idx = index_dirs(root)["emb"]
    _write_batch(spark, src, [("a0", vecs["a0"]), ("s0", vecs["s0"])])
    _run(spark, dirs)
    _write_batch(spark, src, [("s1", vecs["s1"])])
    _run(spark, dirs)

    before = {
        (r["id"], r["bucket"], r["is_primary"])
        for r in load_membership_index(spark, idx).collect()
    }
    assert compact_rows(spark, idx) == 2
    after = {
        (r["id"], r["bucket"], r["is_primary"])
        for r in load_membership_index(spark, idx).collect()
    }
    assert after == before
    assert len(os.listdir(idx)) == 1
    assert compact_rows(spark, idx) == 1  # already compact

    # a post-compaction batch still dedups against the whole history
    _write_batch(spark, src, [("a9", vecs["a2"])])
    _run(spark, dirs)
    assert _ids(spark, tbl) == {"a0", "s0", "s1"}


def test_compaction_cadence_policy(spark, tmp_path, vecs):
    """compact_every=2 with one-file micro-batches: the index keeps folding
    back to one partition, and every batch still dedups against the full
    compacted history."""
    dirs = src, tbl, root, _ = _dirs(tmp_path)
    idx = index_dirs(root)["emb"]
    files = [
        [("a0", vecs["a0"])],
        [("s0", vecs["s0"])],
        [("a9", vecs["a1"])],  # near a0: must drop vs compacted history
        [("s1", vecs["s1"])],
    ]
    for rows in files:
        _write_batch(spark, src, rows)
    _run(spark, dirs, max_files_per_trigger=1, compact_every=2)

    assert n_seq_partitions(idx) == 1
    assert _ids(spark, tbl) == {"a0", "s0", "s1"}
    idx_ids = {r["id"] for r in load_membership_index(spark, idx).collect()}
    assert idx_ids == {"a0", "s0", "s1"}


def test_multiprobe_memberships_persist(spark, tmp_path, vecs):
    """n_probe=1: each survivor persists (1+1) membership rows (primary +
    one flipped-bit probe), and cross-batch near-dups still drop."""
    dirs = src, tbl, root, _ = _dirs(tmp_path)
    idx = index_dirs(root)["emb"]
    _write_batch(spark, src, [("a0", vecs["a0"])])
    _run(spark, dirs, embedding_n_probe=1)
    rows = load_membership_index(spark, idx).collect()
    assert len(rows) == 2
    assert sum(1 for r in rows if r["is_primary"]) == 1
    _write_batch(spark, src, [("a9", vecs["a1"])])
    _run(spark, dirs, embedding_n_probe=1)
    assert _ids(spark, tbl) == {"a0"}
