"""Incremental curation stream — the batch ``jobs/curate.py`` gate chain
as a daily-drop Structured Streaming job, composing the per-family
incremental dedup machinery behind ONE atomic commit per batch.

Per micro-batch of new documents:

1. stateless gates first (map-only, no cross-batch state): optional text
   repair, quality-score floor, Gopher repetition gate, and the frozen
   supervised NB doc-quality scorer (``nb_weights_path``) — junk never
   reaches a shuffle or an index;
2. exact dedup — within-batch ``dedup_exact``, then an anti-join of the
   batch's text fingerprints against the persisted fingerprint index of
   every previously committed document;
3. near dedup (optional) — within-batch ``dedup_near`` (its near-only
   step ``drop_near_duplicates`` when the exact tier ran), then
   ``dedup_incremental`` against the persisted LSH band index; with
   ``near_verify`` (DEFAULT ON — the sf1 measurement found 6.8% of the
   corpus silently deleted by pure band collisions at candidate level,
   BENCH/BASELINE.md) the collisions are confirmed against a persisted
   signature index (``dedup_incremental_sigverify`` — estimated jaccard
   by MinHash lane agreement) so a pure band collision cannot drop a
   non-duplicate, still without ever reading history text; pass
   ``near_verify=False`` for the cheaper candidate-level contract;
3b. embedding dedup (optional, when the stream's rows carry an
   embedding column) — within-batch cluster collapse + history-wins
   cosine drop against the persisted bucket-membership index
   (``embedding_dedup_stream.dedup_batch_memberships``, on doc rows);
3c. per-domain quota (optional, when ids are urls) — committed history
   counts against the quota first, then the batch competes for the
   remaining slots under the batch operator's deterministic md5(url)
   rank (``domain_quota_incremental``); runs after the dedup tiers so a
   duplicate never consumes quota;
4. span dedup (optional) — ``remove_duplicate_spans_incremental`` against
   the persisted span-gram index: non-canonical repeated >= L-token spans
   are CUT (text rewritten), history always winning;
5. the survivors commit as one atomic snapshot, and each enabled index
   gains the batch's delta partition.

Historical TEXT is never re-read by any tier: exact probes fingerprints,
near probes band hashes, span probes gram hashes — each O(drop + index).

Exactly-once via the shared seq-partitioned index protocol
(``seq_index.py``): ALL enabled index deltas are written BEFORE the
manifest commit, each an idempotent overwrite keyed by batch id, and every
probe folds only ``seq < batch_id`` — so a replayed batch can never see
its own deltas (its own fingerprints would anti-join the whole batch away;
its own grams would cut canonical occurrences). Die anywhere between the
first delta write and the commit: the replay regenerates byte-equal deltas
and the commit lands. Die after the commit: the replay is a no-op. The
multi-index generalization holds because deltas are per-batch-idempotent
INDIVIDUALLY — there is no cross-index ordering to get wrong.

Index contents are exactly the COMMITTED corpus: gates run before the
dedup tiers (unlike the batch job, which orders dedup first — for a
stream the gates are stateless map-only work, and a gated-out document
must not occupy index rows for a corpus it never joined). Fingerprints
and band rows key on the AS-INGESTED text (a future copy of the same raw
page arrives raw), while the committed table holds the span-rewritten
text.

Batch-only concerns stay in ``jobs/curate.py``: the LM perplexity gate
(needs a corpus-wide fit), mixture sampling, and sequence packing are
whole-corpus decisions a drop-feed cannot make incrementally.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.text_metrics import (
    quality_score,
    repetition_keep,
    repetition_stats,
)
from ..operators.dedup import (
    band_index,
    band_keys_from_sig,
    dedup_exact,
    dedup_incremental,
    dedup_incremental_sigverify,
    dedup_near,
    drop_near_duplicates,
    sig_index,
)
from ..operators.span_dedup import (
    DEFAULT_SPAN_TOKENS,
    remove_duplicate_spans_incremental,
)
from ..sources.atomic import commit_append, list_manifests
from .embedding_dedup_stream import (
    dedup_batch_memberships,
    load_membership_index,
)
from .seq_index import compact_rows, load_rows, n_seq_partitions
from .span_dedup_stream import (
    _empty_index,
    compact_span_index,
    load_span_index,
)

# Index layout, fixed for the life of an index root: every batch must
# band, count and bucket exactly as the deltas it probes were written.
NUM_BANDS = 4
ROWS_PER_BAND = 2
SPAN_MIN_COUNT = 2
EMBEDDING_N_PLANES = 4


def index_dirs(index_root: str) -> dict[str, str]:
    """The per-family index directories under one root (each its own
    seq-partitioned directory with the shared protocol)."""
    return {
        "exact": f"{index_root}/exact",
        "bands": f"{index_root}/bands",
        "sigs": f"{index_root}/sigs",
        "emb": f"{index_root}/emb",
        "grams": f"{index_root}/grams",
        "quota": f"{index_root}/quota",
    }


def run_curate_stream(
    spark: SparkSession,
    source_dir: str,
    table_dir: str,
    index_root: str,
    checkpoint_dir: str,
    schema=None,
    text_col: str = "text",
    id_col: str = "url",
    fix_text: bool = False,
    min_quality: float | None = None,
    repetition_gate: bool = False,
    nb_weights_path: str | None = None,
    nb_threshold: float = 0.0,
    exact: bool = True,
    near: bool = False,
    near_verify: bool = True,
    jaccard: float = 0.7,
    embedding_col: str | None = None,
    embedding_min_cos: float = 0.99,
    embedding_dim: int = 64,
    embedding_n_probe: int = 1,
    max_per_domain: int | None = None,
    span_l: int | None = None,
    span_bloom: bool = False,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
    stats: bool = False,
) -> None:
    """Drain all unseen source parquet files (Trigger.AvailableNow) through
    the incremental curation chain (module docstring). Keep the tier
    config (``span_l``, ``embedding_dim``, ``embedding_n_probe``) constant
    for the life of an index root; the band layout, span count floor and
    embedding planes are module constants for the same reason.

    ``nb_weights_path``: a frozen supervised doc-quality model
    (``operators/doc_quality.save_doc_nb``) — joins the stateless gates
    as a map-only Arrow scorer; keep docs scoring >= ``nb_threshold``.
    The FIT stays batch-only (a per-batch refit would drift); the frozen
    scorer is exactly as stream-safe as the heuristic gates.

    ``max_per_domain``: cap committed documents per registered domain
    across the stream's whole history (``id_col`` must hold urls); the
    per-domain committed counts persist as their own seq-partitioned
    index — O(domains) rows, summed at probe time.

    ``compact_every``: fold each enabled index's per-batch partitions back
    to one whenever its live partition count reaches this many (after the
    batch's commit, so it never races a replay).

    ``stats``: write one per-batch retention row (rows in, survivors after
    each enabled stage) to ``<index_root>/stats/seq=<batch_id>`` — the
    streaming analog of the batch job's per-stage counts. Costs one extra
    count() action per enabled stage per batch (the observability trade
    the batch job documents); the row is delta-first and idempotent like
    every other index partition, and ``load_rows`` over the stats dir is
    the whole retention history."""
    from pyspark.sql import types as T

    nb_model = None
    if nb_weights_path is not None:
        from ..operators.doc_quality import load_doc_nb

        nb_model = load_doc_nb(nb_weights_path)  # once per stream, not per batch

    schema = schema or T.StructType(
        [
            T.StructField(id_col, T.StringType(), False),
            T.StructField(text_col, T.StringType()),
        ]
    )
    dirs = index_dirs(index_root)

    def _sink(batch_df, batch_id: int) -> None:
        # The sink runs one Spark ACTION per index delta plus the commit
        # (5+ for a full-tier batch); without caching, every action
        # recomputes the whole gate+dedup chain from the source. Persist
        # the expensive frontiers (MEMORY_AND_DISK — a micro-batch by
        # definition fits the cluster or spills) and release them when the
        # batch lands OR fails: the chain runs ONCE, the deltas read cache.
        cached: list = []
        try:
            _sink_body(batch_df, batch_id, cached)
        finally:
            for f in cached:
                f.unpersist()

    def _sink_body(batch_df, batch_id: int, cached: list) -> None:
        run_id = f"curate-{batch_id}"
        if any(m["run_id"] == run_id for m in list_manifests(table_dir)):
            return  # replay of a fully-landed batch: deltas already on disk
        sp = batch_df.sparkSession
        batch = batch_df
        tier_counts: list[tuple[str, int]] = []
        from pyspark import StorageLevel

        def _persist(frame):
            frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
            cached.append(frame)
            return frame

        def record(name: str, frame):
            if stats:
                tier_counts.append((name, frame.count()))
            return frame

        batch = record("input", batch)
        # 1) stateless gates — map-only, cheapest first
        if fix_text:
            from ..functions.textfix import clean_text

            batch = batch.withColumn(text_col, clean_text(F.col(text_col)))
        if min_quality is not None:
            batch = batch.filter(quality_score(F.col(text_col)) >= min_quality)
        if repetition_gate:
            batch = batch.filter(
                repetition_keep(repetition_stats(F.col(text_col)))
            )
        if nb_model is not None:
            from ..operators.doc_quality import doc_nb_keep

            batch = doc_nb_keep(
                batch,
                nb_model[0],
                nb_model[1],
                text_col=text_col,
                threshold=nb_threshold,
            )
        if (
            fix_text
            or min_quality is not None
            or repetition_gate
            or nb_model is not None
        ):
            batch = record("gates", batch)
        # 2) exact tier: within-batch, then vs the fingerprint index
        if exact:
            batch = dedup_exact(batch, text_col=text_col, id_col=id_col)
            batch = batch.withColumn("_cs_fp", F.md5(F.col(text_col)))
            fp_idx = load_rows(sp, dirs["exact"], before_seq=batch_id)
            if fp_idx is not None:
                batch = batch.join(
                    fp_idx.withColumnRenamed("fp", "_cs_fp"),
                    "_cs_fp",
                    "left_anti",
                )
            batch = record("exact", batch)
        # 3) near tier: within-batch, then vs the band index. With
        # near_verify, band collisions are confirmed against the persisted
        # MinHash signatures (estimated jaccard by lane agreement) before
        # any drop — a pure band collision can no longer kill a
        # non-duplicate, and history text is still never read
        new_sigs = None
        if near:
            # the exact tier has already made the survivors dedup_near would
            batch = (drop_near_duplicates if exact else dedup_near)(
                batch,
                text_col=text_col,
                id_col=id_col,
                threshold=jaccard,
                num_bands=NUM_BANDS,
                rows_per_band=ROWS_PER_BAND,
            )
            # the frame new_sigs AND the cross-batch probe both read —
            # caching it stops the bands/sigs delta writes from re-running
            # the gates + exact + within-batch near chain
            batch = _persist(batch)
            band_idx = load_rows(sp, dirs["bands"], before_seq=batch_id)
            if near_verify:
                new_sigs = sig_index(
                    batch, text_col, id_col, NUM_BANDS * ROWS_PER_BAND
                )
                sig_idx = load_rows(sp, dirs["sigs"], before_seq=batch_id)
                if band_idx is not None and sig_idx is None:
                    # an index root populated with --no-near-verify has
                    # bands but no sigs: silently skipping the tier would
                    # disable cross-batch near dedup for every subsequent
                    # batch (ADVICE r5) — fail loudly, the config changed
                    # mid-index-lifetime
                    raise ValueError(
                        "near_verify=True but the band index at "
                        f"{dirs['bands']} has no signature sibling "
                        f"({dirs['sigs']} is empty) — the index was built "
                        "with near_verify=False; rebuild the index or keep "
                        "near_verify off for its lifetime"
                    )
                if band_idx is not None and sig_idx is not None:
                    batch = dedup_incremental_sigverify(
                        batch,
                        band_idx,
                        sig_idx,
                        text_col,
                        id_col,
                        NUM_BANDS,
                        ROWS_PER_BAND,
                        threshold=jaccard,
                        new_sigs=new_sigs,
                    )
            elif band_idx is not None:
                batch = dedup_incremental(
                    batch, band_idx, text_col, id_col, NUM_BANDS, ROWS_PER_BAND
                )
            batch = record("near", batch)
        # 3b) embedding tier (when the source carries a vector column):
        # within-batch cluster collapse + history-wins cosine drop against
        # the persisted membership index, gated on the doc rows
        emb_kept = None
        if embedding_col is not None:
            emb_hist = load_membership_index(
                sp, dirs["emb"], before_seq=batch_id
            )
            # feeds the emb delta AND the survivor semi-join below
            emb_kept = _persist(
                dedup_batch_memberships(
                    batch,
                    emb_hist,
                    vec_col=embedding_col,
                    id_col=id_col,
                    min_cos=embedding_min_cos,
                    n_planes=EMBEDDING_N_PLANES,
                    dim=embedding_dim,
                    n_probe=embedding_n_probe,
                )
            )
            batch = batch.join(
                emb_kept.select(F.col("id").alias(id_col)).distinct(),
                id_col,
                "left_semi",
            )
            batch = record("embedding", batch)
        # 3c) per-domain quota (when ids are urls): committed history
        # counts first, the batch competes for the remaining slots under
        # the batch operator's md5(url) rank — runs AFTER the dedup tiers
        # (a duplicate must not consume quota) and before the span tier
        # (which rewrites text but drops no docs), so the quota index is
        # exactly the committed corpus summed per domain
        quota_delta = None
        if max_per_domain is not None:
            from ..functions.urls import domain_quota_incremental

            q_counts = load_rows(sp, dirs["quota"], before_seq=batch_id)
            batch, quota_delta = domain_quota_incremental(
                batch, q_counts, max_per_domain, url_col=id_col
            )
            batch = record("quota", batch)
        # the final survivor frame: every delta below and the span tier
        # derive from it
        batch = _persist(batch)
        # 4) span tier: cut repeated spans vs the gram index (rewrites text;
        # fingerprints/bands above keyed on the as-ingested text)
        if span_l is not None:
            gram_idx = load_span_index(sp, dirs["grams"], before_seq=batch_id)
            bloom = None
            if gram_idx is None:
                gram_idx = _empty_index(sp)
            elif span_bloom:
                # probe through the compact presence tier: the gram index
                # is scanned once per batch but never shuffled; the exact
                # verify tier keeps the output provably identical
                from ..operators.span_dedup import build_gram_bloom

                bloom = build_gram_bloom(gram_idx)
            # (the rolling-hash occurrences are deliberately NOT cached:
            # measured at sf1 the O(tokens) cache write costs more than
            # recomputing the kernel over the cached doc rows — it breaks
            # the kernel -> partial-agg pipelining; 16-18 s/drop cached vs
            # 6.4-7.1 s uncached, BENCH/span_stream_sf1_r5.json)
            out, gram_delta = remove_duplicate_spans_incremental(
                batch,
                gram_idx,
                text_col,
                id_col,
                span_l,
                SPAN_MIN_COUNT,
                bloom=bloom,
            )
            # the rewritten frame feeds the exact delta AND the commit
            out = _persist(out)
        else:
            out, gram_delta = batch, None
        # 5) deltas FIRST (module docstring), each idempotent per batch id,
        # then the atomic commit — the batch's single completion marker
        if exact:
            out.select(F.col("_cs_fp").alias("fp")).write.mode(
                "overwrite"
            ).parquet(f"{dirs['exact']}/seq={batch_id}")
        if near:
            # bands from `batch`, not `out`: signatures key on the
            # as-ingested text (span rewrite happens after this tier, and
            # future copies of the same raw page arrive raw); span dedup
            # drops no docs, so the row sets are identical
            if near_verify:
                # one MinHash pass feeds everything: new_sigs (computed
                # for the probe) derives both deltas — bands are just
                # md5 slices of the signature (band_index == sig +
                # band_keys_from_sig by construction), so re-hashing the
                # batch text a third time would buy nothing
                surv_sigs = new_sigs.join(
                    batch.select(F.col(id_col).alias("id")), "id", "left_semi"
                )
                surv_sigs.select(
                    "id",
                    F.explode(
                        band_keys_from_sig(
                            F.col("sig"), NUM_BANDS, ROWS_PER_BAND
                        )
                    ).alias("band"),
                ).write.mode("overwrite").parquet(
                    f"{dirs['bands']}/seq={batch_id}"
                )
                surv_sigs.write.mode("overwrite").parquet(
                    f"{dirs['sigs']}/seq={batch_id}"
                )
            else:
                band_index(
                    batch, text_col, id_col, NUM_BANDS, ROWS_PER_BAND
                ).write.mode("overwrite").parquet(
                    f"{dirs['bands']}/seq={batch_id}"
                )
        if emb_kept is not None:
            # the emb delta must hold exactly the COMMITTED corpus: tiers
            # after 3b (the quota gate) may drop docs whose vectors are in
            # emb_kept, and persisting those would make a future near-dup
            # of a never-committed doc silently drop (ADVICE r5 medium) —
            # derive the delta from the final survivor frame, mirroring
            # surv_sigs
            emb_out = emb_kept
            if max_per_domain is not None:
                emb_out = emb_kept.join(
                    out.select(F.col(id_col).alias("id")), "id", "left_semi"
                )
            emb_out.select("id", "v", "bucket", "is_primary").write.mode(
                "overwrite"
            ).parquet(f"{dirs['emb']}/seq={batch_id}")
        if gram_delta is not None:
            gram_delta.write.mode("overwrite").parquet(
                f"{dirs['grams']}/seq={batch_id}"
            )
        if quota_delta is not None:
            quota_delta.coalesce(1).write.mode("overwrite").parquet(
                f"{dirs['quota']}/seq={batch_id}"
            )
        if stats:
            # stats row delta-first too: same idempotence as every index
            # partition (a replay overwrites byte-equal content)
            sp.createDataFrame(
                [(batch_id, name, int(n)) for name, n in tier_counts],
                "batch_id bigint, stage string, n_docs bigint",
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{index_root}/stats/seq={batch_id}"
            )
        commit_append(
            out.drop("_cs_fp"),
            table_dir,
            run_id=run_id,
            ok_predicate=f"{text_col} IS NOT NULL AND length({text_col}) > 0",
        )
        if compact_every is not None:
            for d in (
                dirs["exact"],
                dirs["bands"],
                dirs["sigs"],
                dirs["emb"],
                dirs["quota"],
            ):
                if n_seq_partitions(d) >= compact_every:
                    compact_rows(sp, d)
            if n_seq_partitions(dirs["grams"]) >= compact_every:
                compact_span_index(sp, dirs["grams"])

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
