"""Streaming embedding-cosine near-dup dedup — the third dedup family to
get the operator-lifecycle pairing (MinHash/LSH: ``dedup_stream.py``;
exact-substring spans: ``span_dedup_stream.py``; embeddings: here).

Each micro-batch of new documents carrying an embedding column is
near-dup-gated against the PERSISTED bucket-membership index (the sign-LSH
``candidate_memberships`` rows of every previously committed survivor):
within-batch clusters collapse to one survivor via connected components
(the same chain-safe rule as ``embedding_dedup_survivors``), then any
remaining document whose exact cosine against a bucket-sharing committed
survivor reaches ``min_cos`` is dropped — history always wins, exactly the
asymmetric contract of the other two streams. Historical VECTORS live in
the index rows themselves, so committed batches are never re-read: each
drop costs the drop plus an index probe.

Exactly-once, with the commit->index crash window ELIMINATED BY
CONSTRUCTION (the ``span_dedup_stream`` protocol, not the LSH stream's
heal-on-start): the index is an append-only directory of per-batch
partitions ``seq=<batch_id>/`` and the sink writes the batch's survivor
memberships FIRST (an idempotent overwrite — a replayed batch regenerates
byte-equal content into its own directory), then commits survivors through
the atomic manifest keyed by batch id. The probe folds only ``seq <
batch_id`` partitions, so a replayed batch can never see its own delta —
which would make every batch document "collide" with itself (cosine 1.0)
and drop the whole batch. Die between delta write and commit: the replay
finds no manifest, the delta overwrite is a no-op, the commit lands. Die
after the commit: the replay is skipped wholesale and the delta is already
on disk.

Bucketing policy is FIXED for the life of an index (keep ``n_planes`` /
``seed`` / ``dim`` / ``n_probe`` constant, like ``l`` for the span
stream): the per-batch data-dependent hot-bucket REFINEMENT of the batch
operators would assign history and future rows inconsistent keys, so the
stream persists plain deterministic memberships and instead applies
``max_bucket_size`` at PROBE time — buckets whose combined (history +
batch) membership count exceeds the cap are skipped for candidate
generation that batch (their index rows are still persisted, so the cap
never loses index completeness; a truly degenerate bucket is the exact-dup
tier's job). Size ``n_planes`` with ``similarity.auto_n_planes`` for the
expected corpus so buckets stay executor-sized.

Scale shape: index rows are (id, vector, bucket-key, flag) — O(survivors x
(1+n_probe)) rows of dim floats, no text; the probe is one equi join on a
short bucket string with exact-cosine verify; per-batch partitions fold
O(batches) and ``compact_membership_index`` / ``compact_every`` rewrite
them to one partition with the marker-protected directory swap shared with
the span stream.
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
from ..sources.atomic import commit_append, list_manifests
from .seq_index import (  # shared seq=<batch>/ directory protocol
    compact_rows,
    index_files as _index_files,
    n_seq_partitions as _n_seq_partitions,
    recover_compaction as _recover_compaction,
)


def load_membership_index(
    spark: SparkSession, index_dir: str, before_seq: int | None = None
) -> DataFrame | None:
    """The logical (id, v, bucket, is_primary) membership index: the union
    of the per-batch survivor partitions (no fold semantics — membership
    rows are facts, not counts). ``before_seq`` excludes this batch's own
    partition during a replay (partition-pruned). None when no index
    exists yet."""
    _recover_compaction(index_dir)
    if not _index_files(index_dir):
        return None
    df = spark.read.option("basePath", index_dir).parquet(index_dir)
    if before_seq is not None:
        df = df.filter(F.col("seq") < before_seq)  # partition-pruned
    return df.select("id", "v", "bucket", "is_primary")


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
    seed: int = 7,
    dim: int = 64,
    n_probe: int = 0,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """The embedding-dedup micro-batch kernel, shared by
    ``run_embedding_dedup_stream`` and the composed curation stream:
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
        seed,
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


def run_embedding_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    table_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema=None,
    vec_col: str = "embedding",
    id_col: str = "url",
    min_cos: float = 0.99,
    n_planes: int = 4,
    seed: int = 7,
    dim: int = 64,
    n_probe: int = 0,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
) -> None:
    """Drain all unseen source parquet files (Trigger.AvailableNow): per
    batch — collapse within-batch near-dup clusters to their min-id
    canonical (connected components: chains A~B~C with A!~C keep exactly
    one survivor), drop every remaining document whose cosine against a
    bucket-sharing committed survivor reaches ``min_cos`` (a re-ingested
    id collides with its own history row at cosine 1.0, so duplicate
    feeds are idempotent), write the survivors' membership rows as the
    idempotent ``seq=<batch_id>`` index partition, commit the survivor
    rows atomically. Keep the bucketing params constant for the life of
    an index (module docstring).

    The history-wins asymmetry is the same as the other two streams: a
    chain arriving across batches (A committed, then B~A, then C~B with
    C!~A) keeps C, where the one-shot components pass over the full
    corpus would collapse all three — incremental dedup trades that
    transitive reach for never re-reading history.

    ``compact_every``: fold the per-batch index partitions back to one
    whenever the live partition count reaches this many (after the
    batch's commit, so it never races a replay)."""
    from pyspark.sql import types as T

    schema = schema or T.StructType(
        [
            T.StructField(id_col, T.StringType(), False),
            T.StructField(vec_col, T.ArrayType(T.DoubleType())),
        ]
    )

    def _sink(batch_df, batch_id: int) -> None:
        run_id = f"emb-dedup-{batch_id}"
        if any(m["run_id"] == run_id for m in list_manifests(table_dir)):
            return  # replay of a fully-landed batch: delta is already on disk
        sp = batch_df.sparkSession
        hist = load_membership_index(sp, index_dir, before_seq=batch_id)
        # both sink actions (delta write, commit) derive from the
        # membership kernel — cache it for the batch's life
        from pyspark import StorageLevel

        kept = dedup_batch_memberships(
            batch_df, hist, vec_col, id_col, min_cos,
            n_planes, seed, dim, n_probe, max_bucket_size,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # Delta partition FIRST (module docstring): deterministic
            # content keyed by batch id, so a replay overwrites itself.
            kept.select("id", "v", "bucket", "is_primary").write.mode(
                "overwrite"
            ).parquet(f"{index_dir}/seq={batch_id}")
            out = batch_df.join(
                kept.select(F.col("id").alias(id_col)).distinct(),
                id_col,
                "left_semi",
            )
            commit_append(
                out,
                table_dir,
                run_id=run_id,
                ok_predicate=f"{vec_col} IS NOT NULL",
            )
        finally:
            kept.unpersist()
        if compact_every is not None and _n_seq_partitions(index_dir) >= compact_every:
            compact_membership_index(sp, index_dir)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    (
        reader.parquet(source_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def compact_membership_index(spark: SparkSession, index_dir: str) -> int:
    """Rewrite every per-batch partition into a single one tagged with the
    max seq (rows unchanged — memberships union, they don't fold), via the
    shared marker-protected directory swap (``seq_index.compact_rows``);
    an interrupted swap is healed by the next ``load_membership_index``.
    Returns the number of partitions consolidated."""
    return compact_rows(spark, index_dir)
