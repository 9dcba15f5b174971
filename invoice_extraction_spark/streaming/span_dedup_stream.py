"""The span-gram index of the curation stream's span tier — the
exact-substring (Lee et al.) family's cross-batch state.

``curate_stream.py``'s span tier cuts each batch's non-canonical repeated
>= L-token spans against this PERSISTED index of every prior batch's gram
hashes, then writes the batch's own gram delta as partition
``seq=<batch_id>/`` (the delta-first protocol of ``seq_index.py``).
Historical document TEXT is never re-read — only the (gh, n_occ, canon)
hash index — so each drop costs the drop plus the index probe.

Unlike the other indexes, grams FOLD rather than union: counts add across
partitions and the EARLIEST batch's canonical wins (history is committed
and must stay the survivor — the same asymmetry as ``merge_gram_index``).
The fold is one hash aggregation over hash-width rows (8-byte keys);
``compact_span_index`` writes it back as a single partition through the
shared directory swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .seq_index import compact_rows, load_rows


def _fold_grams(df: DataFrame) -> DataFrame:
    return df.groupBy("gh").agg(
        F.sum("n_occ").alias("n_occ"),
        F.min(F.struct("seq", "canon"))["canon"].alias("canon"),
    )


def load_span_index(
    spark: SparkSession, index_dir: str, before_seq: int | None = None
) -> DataFrame | None:
    """The logical (gh, n_occ, canon) index folded from the per-batch
    delta partitions. ``before_seq`` excludes this batch's own partition
    during a replay. None when no index exists yet."""
    return load_rows(spark, index_dir, before_seq, fold=_fold_grams)


def _empty_index(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "gh bigint, n_occ bigint, canon string")


def compact_span_index(spark: SparkSession, index_dir: str) -> int:
    """Fold every per-batch partition into a single one (merged counts,
    first-seen canonicals), tagged with the max seq so future
    ``before_seq`` probes still include it. An interrupted swap is healed
    by the next load. Returns the number of partitions folded."""
    return compact_rows(spark, index_dir, fold=_fold_grams)
