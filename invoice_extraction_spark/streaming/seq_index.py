"""Shared protocol for the curation stream's seq-partitioned indexes.

Every cross-batch index of ``curate_stream.py`` (exact fingerprints, LSH
bands, MinHash signatures, embedding memberships, span grams, domain
quotas) is an append-only directory of per-batch parquet partitions
``seq=<batch_id>/``.

Exactly-once WITHOUT a commit->index crash window: the sink writes each
index delta FIRST, as an idempotent overwrite keyed by batch id (a
replayed batch regenerates byte-equal content into its own directory),
then commits survivors through the atomic manifest keyed by batch id.
Probes fold only ``seq < batch_id`` partitions, so a replayed batch can
never see its own delta — which would anti-join its own fingerprints
away, make its vectors collide with themselves at cosine 1.0, or cut the
canonical occurrences of its own spans (span_dedup.py's documented replay
hazard). Die between a delta write and the commit: the checkpoint replays
the batch, the manifest guard finds nothing, the delta overwrite is a
no-op, the commit lands. Die after the commit: the replay is skipped
wholesale and the deltas are already on disk. No heal pass exists because
no state can be lost between the two writes.

This module holds the pieces every such index shares:

- ``recover_compaction`` / ``index_files`` / ``n_seq_partitions``:
  directory state, including healing an interrupted compaction swap.
- ``load_rows``: the logical view over the partitions. The default fold
  is a UNION (fingerprints, band rows, bucket memberships — facts that
  accumulate); the span-gram index passes its own fold (counts sum, the
  earliest canonical wins).
- ``compact_rows``: fold the per-batch partitions back to a single one
  tagged with the max seq, via the marker-protected directory swap:

  1. write the consolidated rows to ``<index>.compact.tmp/seq=<max>``
  2. rename the live dir aside (atomic)
  3. rename tmp into place (atomic)
  4. remove the old dir

  A crash after (2) is healed by ``recover_compaction`` (tmp is complete
  before (2) ever runs); a crash before (2) leaves the live dir untouched
  and a stale tmp the next compaction overwrites. The max-seq tag keeps
  every future ``before_seq`` probe including the compacted history.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _union(df: DataFrame) -> DataFrame:
    return df.drop("seq")


def n_seq_partitions(index_dir: str) -> int:
    if not os.path.isdir(index_dir):
        return 0
    return sum(1 for d in os.listdir(index_dir) if d.startswith("seq="))


def index_files(index_dir: str) -> bool:
    return os.path.isdir(index_dir) and any(
        f.endswith(".parquet") for _r, _d, fs in os.walk(index_dir) for f in fs
    )


def recover_compaction(index_dir: str) -> None:
    """Finish a compaction interrupted between the two directory renames:
    the consolidated tmp dir is complete by construction once the live dir
    has been moved aside, so promoting it is always safe."""
    tmp = index_dir + ".compact.tmp"
    if not os.path.isdir(index_dir) and os.path.isdir(tmp):
        os.rename(tmp, index_dir)
    old = index_dir + ".compact.old"
    if os.path.isdir(index_dir) and os.path.isdir(old):
        shutil.rmtree(old)


def _read(spark: SparkSession, index_dir: str) -> DataFrame | None:
    recover_compaction(index_dir)
    if not index_files(index_dir):
        return None
    return spark.read.option("basePath", index_dir).parquet(index_dir)


def load_rows(
    spark: SparkSession,
    index_dir: str,
    before_seq: int | None = None,
    fold: Callable[[DataFrame], DataFrame] = _union,
) -> DataFrame | None:
    """The logical index: ``fold`` over every per-batch partition's rows
    (``seq`` still on them; the default union drops it). ``before_seq``
    excludes this batch's own partition during a replay
    (partition-pruned). None when no index exists yet."""
    df = _read(spark, index_dir)
    if df is None:
        return None
    if before_seq is not None:
        df = df.filter(F.col("seq") < before_seq)  # partition-pruned
    return fold(df)


def compact_rows(
    spark: SparkSession,
    index_dir: str,
    fold: Callable[[DataFrame], DataFrame] = _union,
) -> int:
    """Consolidate every per-batch partition into a single one holding
    ``fold`` of them, tagged with the max seq. Returns the number of
    partitions consolidated."""
    df = _read(spark, index_dir)
    if df is None:
        return 0
    seqs = [r["seq"] for r in df.select("seq").distinct().collect()]
    if len(seqs) <= 1:
        return len(seqs)
    tmp = index_dir + ".compact.tmp"
    old = index_dir + ".compact.old"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    fold(df).write.mode("overwrite").parquet(f"{tmp}/seq={max(seqs)}")
    os.rename(index_dir, old)
    os.rename(tmp, index_dir)
    shutil.rmtree(old)
    return len(seqs)
