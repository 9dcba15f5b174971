"""Streaming incremental span dedup — the exact-substring (Lee et al.)
family as a Structured Streaming job, completing the operator-lifecycle
pairing the LSH band index already has (``dedup_stream.py``).

Each micro-batch of new documents is span-deduplicated against the
PERSISTED span-gram index (every prior batch's gram hashes), its
non-canonical repeated >= L-token spans cut, and the survivor text
committed atomically; the batch's own gram delta extends the index for
the next batch. Historical document TEXT is never re-read — only the
(gh, n_occ, canon) hash index — so a 10^12-doc corpus span-dedups each
day's drop at cost proportional to the drop plus the index probe.

Exactly-once, WITHOUT the commit->index crash window the LSH stream
heals on start: the index is an append-only directory of per-batch
partitions ``seq=<batch_id>/`` and the sink writes the delta partition
FIRST (an idempotent overwrite — a replayed batch regenerates byte-equal
content into its own directory), then commits survivors through the
atomic manifest keyed by batch id. The probe folds only ``seq <
batch_id`` partitions, so a replayed batch can never see its own delta
(which would cut its canonical occurrences too — span_dedup.py's
documented replay hazard). Die between delta write and commit: the
checkpoint replays the batch, the manifest guard finds nothing, the
delta overwrite is a no-op, the commit lands. Die after the commit: the
replay is skipped wholesale and the delta is already on disk. No heal
pass exists because no state can be lost between the two writes.

Scale shape: the per-batch partitions grow O(batches); the fold is one
hash aggregation over hash-width rows (8-byte keys).
``compact_span_index`` folds them back to a single partition with a
marker-protected directory swap for long-running streams; pass
``compact_every`` to run it automatically whenever the live partition
count reaches that many (the cadence fires AFTER the batch's commit, so
a crash mid-compaction is healed by the standard recovery rule and a
replayed batch can never observe a half-compacted index).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.span_dedup import (
    DEFAULT_SPAN_TOKENS,
    remove_duplicate_spans_incremental,
)
from ..sources.atomic import commit_append, list_manifests

# directory protocol shared with every seq-partitioned streaming index
# (seq_index.py); this module keeps its FOLD-semantics load/compaction on
# top (gram counts sum, earliest canonical wins — not a row union)
from .seq_index import index_files as _index_files
from .seq_index import n_seq_partitions as _n_seq_partitions
from .seq_index import recover_compaction as _recover_compaction


def load_span_index(
    spark: SparkSession, index_dir: str, before_seq: int | None = None
) -> DataFrame | None:
    """Fold the per-batch delta partitions into the logical
    (gh, n_occ, canon) index: counts add; the EARLIEST batch's canonical
    wins (history is committed and must stay the survivor — same
    asymmetry as ``merge_gram_index``). ``before_seq`` excludes this
    batch's own partition during a replay. None when no index exists yet."""
    _recover_compaction(index_dir)
    if not _index_files(index_dir):
        return None
    df = spark.read.option("basePath", index_dir).parquet(index_dir)
    if before_seq is not None:
        df = df.filter(F.col("seq") < before_seq)  # partition-pruned
    return df.groupBy("gh").agg(
        F.sum("n_occ").alias("n_occ"),
        F.min(F.struct("seq", "canon"))["canon"].alias("canon"),
    )


def _empty_index(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "gh bigint, n_occ bigint, canon string")


def run_span_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    table_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema=None,
    text_col: str = "text",
    id_col: str = "url",
    l: int = DEFAULT_SPAN_TOKENS,
    min_count: int = 2,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
    use_bloom: bool = False,
) -> None:
    """Drain all unseen source parquet files (Trigger.AvailableNow):
    per batch — probe the persisted gram index, cut every non-canonical
    occurrence of a duplicated span (cross-batch: history always wins;
    within-batch: batch-canonical survives), write the idempotent index
    delta partition, commit the rewritten survivors atomically.

    ``compact_every``: cadence policy for a long-running stream — fold
    the per-batch index partitions back to one whenever the live
    partition count reaches this many (None = compact manually). The
    fold runs after the batch's manifest commit, so it never races a
    replay, and an interrupted fold is healed on the next load.

    ``use_bloom``: probe through the compact Bloom
    presence tier (``build_gram_bloom``) so the O(distinct grams) index
    is scanned once per batch but never shuffled — output provably
    identical (the exact verify tier re-checks every candidate;
    test_span_bloom), the right trade once the index dwarfs the drops."""
    from pyspark.sql import types as T

    schema = schema or T.StructType(
        [
            T.StructField(id_col, T.StringType(), False),
            T.StructField(text_col, T.StringType()),
        ]
    )

    def _sink(batch_df, batch_id: int) -> None:
        run_id = f"span-dedup-{batch_id}"
        if any(m["run_id"] == run_id for m in list_manifests(table_dir)):
            return  # replay of a fully-landed batch: delta is already on disk
        sp = batch_df.sparkSession
        index = load_span_index(sp, index_dir, before_seq=batch_id)
        bloom = None
        if index is None:
            index = _empty_index(sp)
        elif use_bloom:
            from ..operators.span_dedup import build_gram_bloom

            bloom = build_gram_bloom(index)
        # NOTE: deliberately NO caching of the gram occurrences here —
        # measured at sf1, persisting the O(tokens) occurrence frame costs
        # MORE than recomputing the rolling-hash kernel for the second
        # action (cache materialization breaks the kernel -> partial-agg
        # pipelining and serializes ~tokens rows; the kernel itself is
        # ~1 s/drop). Walls: 6.4-7.1 s/drop uncached vs 16-18 s cached
        # (BENCH/span_stream_sf1_r5.json) — the curate stream's caching
        # win comes from its DOC-ROW frontiers, not token-level frames.
        out, delta = remove_duplicate_spans_incremental(
            batch_df, index, text_col, id_col, l, min_count, bloom=bloom
        )
        # Delta partition FIRST (see module docstring): deterministic
        # content keyed by batch id, so a replay overwrites itself.
        delta.write.mode("overwrite").parquet(f"{index_dir}/seq={batch_id}")
        commit_append(
            out,
            table_dir,
            run_id=run_id,
            ok_predicate=f"{text_col} IS NOT NULL",
        )
        if compact_every is not None and _n_seq_partitions(index_dir) >= compact_every:
            compact_span_index(sp, index_dir)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        # bound each micro-batch (a production drop-feed's unit of work);
        # AvailableNow still drains everything, in several batches
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    (
        reader.parquet(source_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def compact_span_index(spark: SparkSession, index_dir: str) -> int:
    """Fold every per-batch partition into a single one (keeping the fold's
    merged counts and first-seen canonicals, tagged with the max seq so
    future ``before_seq`` probes still include it). Directory-swap protocol
    with a recovery rule in ``load_span_index``:

    1. write the consolidated fold to ``<index>.compact.tmp/seq=<max>``
    2. rename the live dir aside (atomic)
    3. rename tmp into place (atomic)
    4. remove the old dir

    A crash after (2) is healed by ``_recover_compaction`` (tmp is complete
    before (2) ever runs); a crash before (2) leaves the live dir untouched
    and a stale tmp that the next compaction overwrites. Returns the number
    of partitions folded."""
    _recover_compaction(index_dir)
    if not _index_files(index_dir):
        return 0
    df = spark.read.option("basePath", index_dir).parquet(index_dir)
    seqs = [r["seq"] for r in df.select("seq").distinct().collect()]
    if len(seqs) <= 1:
        return len(seqs)
    max_seq = max(seqs)
    folded = df.groupBy("gh").agg(
        F.sum("n_occ").alias("n_occ"),
        F.min(F.struct("seq", "canon"))["canon"].alias("canon"),
    )
    tmp = index_dir + ".compact.tmp"
    old = index_dir + ".compact.old"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    folded.write.mode("overwrite").parquet(f"{tmp}/seq={max_seq}")
    os.rename(index_dir, old)
    os.rename(tmp, index_dir)
    shutil.rmtree(old)
    return len(seqs)
