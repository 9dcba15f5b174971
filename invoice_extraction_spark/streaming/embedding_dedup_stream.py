"""The embedding-cosine tier of the curation stream — its micro-batch
kernel and its cross-batch bucket-membership index.

``dedup_batch_memberships`` near-dup-gates a batch of documents carrying
an embedding column against the PERSISTED membership index (the sign-LSH
``candidate_memberships`` rows of every previously committed survivor):
within-batch clusters collapse to one survivor via connected components
(the same chain-safe rule as ``embedding_dedup_survivors``), then any
remaining document whose exact cosine against a bucket-sharing committed
survivor reaches ``min_cos`` is dropped — history always wins, the same
asymmetric contract as the stream's other tiers. Historical VECTORS live
in the index rows themselves, so committed batches are never re-read:
each drop costs the drop plus an index probe. The survivors' membership
rows are the batch's delta, written delta-first under ``seq=<batch_id>/``
(``seq_index.py``); a replayed batch that could see its own delta would
collide with itself at cosine 1.0 and drop whole.

Bucketing policy is FIXED for the life of an index (``n_planes``, the
plane seed ``PLANE_SEED``, ``dim`` and ``n_probe`` stay constant): the
per-batch data-dependent hot-bucket REFINEMENT of the batch operators
would assign history and future rows inconsistent keys, so the stream
persists plain deterministic memberships and instead applies
``max_bucket_size`` at PROBE time — buckets whose combined (history +
batch) membership count exceeds the cap are skipped for candidate
generation that batch (their index rows are still persisted, so the cap
never loses index completeness; a truly degenerate bucket is the exact-dup
tier's job). Size ``n_planes`` with ``similarity.auto_n_planes`` for the
expected corpus so buckets stay executor-sized.

Scale shape: index rows are (id, vector, bucket-key, flag) — O(survivors x
(1+n_probe)) rows of dim floats, no text; the probe is one equi join on a
short bucket string with exact-cosine verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.components import connected_components
from ..operators.similarity import (
    DEFAULT_MAX_BUCKET_SIZE,
    candidate_memberships,
    cosine,
)
from .seq_index import load_rows

# hyperplane seed: history and every future batch must hash alike
PLANE_SEED = 7


def load_membership_index(
    spark: SparkSession, index_dir: str, before_seq: int | None = None
) -> DataFrame | None:
    """The logical (id, v, bucket, is_primary) membership index: the union
    of the per-batch survivor partitions. ``before_seq`` excludes this
    batch's own partition during a replay. None when no index exists
    yet."""
    mb = load_rows(spark, index_dir, before_seq)
    return None if mb is None else mb.select("id", "v", "bucket", "is_primary")


def _near_dup_pairs(mb: DataFrame, min_cos: float) -> DataFrame:
    """(id_a < id_b, cos_sim) threshold pairs within one membership frame —
    the ``embedding_near_dup_pairs`` join discipline (a-side primary-only,
    so Hamming-2 probe-probe co-occurrences never join) applied to a frame
    that was already built."""
    prim = mb.filter("is_primary")
    pairs = prim.alias("a").join(
        mb.alias("b"),
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") != F.col("b.id")),
    )
    return (
        pairs.select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= min_cos)
        .dropDuplicates(["id_a", "id_b"])
    )


def dedup_batch_memberships(
    batch_df: DataFrame,
    hist: DataFrame | None,
    vec_col: str = "embedding",
    id_col: str = "url",
    min_cos: float = 0.99,
    n_planes: int = 4,
    dim: int = 64,
    n_probe: int = 0,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """The embedding-dedup micro-batch kernel of the curation stream:
    fixed-policy memberships for the batch, probe-time hot-bucket cap over
    the COMBINED (batch + history) occupancy, within-batch cluster
    collapse via connected components (min-id canonical), then the
    cross-batch history-wins drop (at-least-one-primary bucket join +
    exact cosine verify against committed survivor vectors). Returns the
    batch survivors' (id, v, bucket, is_primary) membership rows — the
    batch's index delta; survivors are ``distinct(id)`` of it.

    The cap skips candidate generation for over-cap buckets this batch;
    membership rows persist in full, so the cap costs recall (observable:
    the bucket only grows), never index completeness."""
    mb = candidate_memberships(
        batch_df,
        n_planes,
        PLANE_SEED,
        vec_col,
        id_col,
        dim,
        max_bucket_size=None,  # cap applies at probe time, not to the index
        sub_bucket_planes=0,  # fixed keys: no data-dependent refinement
        n_probe=n_probe,
    )
    probe_mb = mb
    probe_hist = hist
    if max_bucket_size is not None:
        occupancy = mb.select("bucket")
        if hist is not None:
            occupancy = occupancy.unionByName(hist.select("bucket"))
        cold = (
            occupancy.groupBy("bucket")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("bucket")
        )
        probe_mb = mb.join(F.broadcast(cold), "bucket", "left_semi")
        if hist is not None:
            probe_hist = hist.join(F.broadcast(cold), "bucket", "left_semi")
    # 1) within-batch: components over threshold pairs, min-id survives
    drop_within = (
        connected_components(_near_dup_pairs(probe_mb, min_cos))
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("id"))
    )
    kept = mb.join(drop_within, "id", "left_anti")
    probe_kept = probe_mb.join(drop_within, "id", "left_anti")
    # 2) cross-batch: history always wins — at-least-one-primary bucket
    # join + exact cosine verify against committed survivor vectors
    if probe_hist is not None:
        h = probe_hist.select(
            "bucket",
            F.col("v").alias("_h_v"),
            F.col("is_primary").alias("_h_prim"),
        )
        cross = (
            probe_kept.join(h, "bucket")
            .filter(F.col("is_primary") | F.col("_h_prim"))
            .filter(F.round(cosine(F.col("v"), F.col("_h_v")), 4) >= min_cos)
            .select("id")
            .distinct()
        )
        kept = kept.join(cross, "id", "left_anti")
    return kept
