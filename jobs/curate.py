"""Training-data curation job — the post-extraction half of the pipeline.

    spark-submit --py-files <pkg.zip> jobs/curate.py \
        --source /path/to/docs_parquet --table /path/to/curated_table \
        [--url-dedup] [--exact-dedup] [--near-dedup] \
        [--min-quality 0.3] [--repetition-gate] [--max-pseudo-ppl 500] \
        [--bench /path/to/benchmarks.parquet] \
        [--mixture src0=0.3,src1=0.05 --stratum-col source] \
        [--pack-budget 2048]

Chains the corpus-curation operators in the order a production pretraining
pipeline runs them — each stage cheaper filters first so later (more
expensive) stages see less data:

  1. url dedup          (cheapest: canonical-string groupBy)
  2. exact dedup        (md5 payload hash groupBy)
  3. near dedup         (MinHash/LSH + jaccard verify, hot-band capped)
  3b. line dedup        (C4-style corpus-wide repeated-line removal)
  3c. text repair       (mojibake / control chars / punctuation)
  4. quality gate       (length/stopword/punct Column score)
  5. repetition gate    (Gopher dup-token / top-bigram rules)
  6. LM perplexity gate (corpus-fit unigram model, broadcast scoring)
  7. decontamination    (benchmark n-gram overlap, broadcast index)
  8. mixture sampling   (deterministic per-stratum hash thresholds)
  9. sequence packing   (adds pack_id/pack_seq/pack_offset columns)

Every enabled stage reports its retention count. Each stage's frame carries
a named row count (``DataFrame.observe``); the commit's own write action
fills them all, so counting adds no Spark job and persists nothing, and the
counts print after the commit. A count is taken only from a copy of the
stage that the write's executed plan proves it read in full
(``plans/observed_counts.py``); a stage without one is recounted, loudly.
The result lands as ONE atomic snapshot with lineage, so a curation run is
resumable/auditable exactly like an extraction run.
"""

from __future__ import annotations

import argparse
import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _parse_mixture(spec: str) -> dict[str, float]:
    out = {}
    for part in spec.split(","):
        k, v = part.split("=")
        out[k.strip()] = float(v)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True, help="input documents parquet (id, text, ... columns)")
    ap.add_argument("--table", required=True, help="output table dir (atomic snapshots)")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--url-dedup", action="store_true", help="canonical-url dedup (needs a url column)")
    ap.add_argument("--exact-dedup", action="store_true")
    ap.add_argument("--near-dedup", action="store_true", help="MinHash/LSH + jaccard verify")
    ap.add_argument("--jaccard", type=float, default=0.7)
    ap.add_argument(
        "--embedding-dedup",
        type=float,
        default=None,
        metavar="MIN_COS",
        help="embedding-cosine near-dup removal at this threshold (needs "
        "--embeddings; connected components, one survivor per cluster)",
    )
    ap.add_argument(
        "--embeddings",
        default=None,
        help="embeddings parquet (vec_id, embedding array) sharing the id "
        "domain with --id-col",
    )
    ap.add_argument(
        "--embedding-probes",
        type=int,
        default=1,
        metavar="Q",
        help="multi-probe bit flips for the embedding-dedup candidate pass "
        "(0 = single-bucket)",
    )
    ap.add_argument(
        "--line-dedup",
        type=int,
        default=None,
        metavar="K",
        help="rewrite text dropping lines that appear in >= K distinct docs "
        "corpus-wide (C4-style chrome removal)",
    )
    ap.add_argument(
        "--span-dedup",
        type=int,
        default=None,
        metavar="L",
        help="cut every non-canonical verbatim repeated span of >= L tokens "
        "(Lee et al. exact-substring dedup; keeps one occurrence)",
    )
    ap.add_argument(
        "--fix-text",
        action="store_true",
        help="repair text in place (mojibake round-trip, control-char strip, "
        "punctuation normalization) before the quality gates",
    )
    ap.add_argument(
        "--max-per-domain",
        type=int,
        default=None,
        metavar="N",
        help="cap documents per registered domain (needs a url column; "
        "streaming mode: across the stream's whole committed history via "
        "the persisted per-domain counts index)",
    )
    ap.add_argument(
        "--nb-train",
        default=None,
        help="labeled parquet (text + 0/1 'label' column) to fit the "
        "supervised NB doc-quality classifier; gates docs scoring below "
        "--nb-threshold (batch mode)",
    )
    ap.add_argument(
        "--nb-threshold",
        type=float,
        default=0.0,
        help="NB doc-quality keep threshold (mean per-token LLR + prior)",
    )
    ap.add_argument(
        "--nb-weights",
        default=None,
        metavar="PATH",
        help="frozen NB doc-quality model (json from --nb-save): gate "
        "without refitting — works in BOTH batch and streaming mode",
    )
    ap.add_argument(
        "--nb-save",
        default=None,
        metavar="PATH",
        help="freeze the --nb-train fit to this json for later --nb-weights runs",
    )
    ap.add_argument("--min-quality", type=float, default=None, help="drop docs below this quality_score")
    ap.add_argument("--repetition-gate", action="store_true", help="Gopher dup-token / top-bigram gate")
    ap.add_argument(
        "--max-pseudo-ppl",
        type=float,
        default=None,
        help="fit a unigram LM on the surviving corpus and drop docs above "
        "this pseudo-perplexity (the CCNet tail cut)",
    )
    ap.add_argument("--lm-fit-fraction", type=float, default=None, help="hash-sample fraction for the LM fit (scale path)")
    ap.add_argument("--bench", default=None, help="benchmark parquet (text column) to decontaminate against")
    ap.add_argument("--bench-ngram", type=int, default=8)
    ap.add_argument("--mixture", default=None, help="stratum=fraction[,...] deterministic down-sampling")
    ap.add_argument("--stratum-col", default="source")
    ap.add_argument("--pack-budget", type=int, default=None, help="emit pack_id/pack_seq/pack_offset for this token budget")
    ap.add_argument(
        "--token-counter",
        choices=["bpe", "whitespace"],
        default="bpe",
        help="token economics for packing: frozen-BPE counts (default) or whitespace estimate",
    )
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--streaming",
        action="store_true",
        help="incremental mode: drain unseen source files as micro-batches "
        "through the gates + exact/near/span tiers against persisted "
        "seq-partitioned indexes (streaming/curate_stream.py), one atomic "
        "commit per batch; requires --index-root and --checkpoint. "
        "Batch-only stages (LM gate, decontam, mixture, packing, url/"
        "embedding dedup) are rejected in this mode",
    )
    ap.add_argument("--index-root", default=None, help="dedup index root dir (streaming mode)")
    ap.add_argument(
        "--embedding-col",
        default=None,
        help="streaming mode: embedding column carried by the source rows, "
        "enabling the embedding near-dup tier at the --embedding-dedup "
        "threshold (vs the persisted membership index)",
    )
    ap.add_argument("--embedding-dim", type=int, default=64, help="embedding dimension (streaming embedding tier)")
    ap.add_argument("--checkpoint", default=None, help="stream checkpoint dir (streaming mode)")
    ap.add_argument("--compact-every", type=int, default=None, help="fold each index when its live partitions reach this many (streaming mode)")
    ap.add_argument(
        "--near-verify",
        action=argparse.BooleanOptionalAction,
        default=True,
        help="confirm cross-batch band collisions against the persisted "
        "MinHash signature index before dropping (streaming mode; history "
        "text still never read). DEFAULT ON — candidate-level dropped 6.8%% "
        "of the sf1 corpus on pure collisions; --no-near-verify restores "
        "the cheaper candidate-level contract",
    )
    ap.add_argument(
        "--stream-stats",
        action="store_true",
        help="streaming mode: write one per-batch retention row per enabled "
        "stage to <index-root>/stats (costs one count() per stage per batch)",
    )
    ap.add_argument(
        "--span-bloom",
        action="store_true",
        help="probe the span-gram index through the Bloom presence tier "
        "(streaming mode; output provably identical)",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from invoice_extraction_spark.functions.text_metrics import (
        quality_score,
        repetition_keep,
        repetition_stats,
        token_count,
    )
    from invoice_extraction_spark.plans.observed_counts import ObservedCounts
    from invoice_extraction_spark.session import get_spark
    from invoice_extraction_spark.sources.atomic import commit_append

    owned = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="curate-job", master=args.master)
    if args.streaming:
        if not (args.index_root and args.checkpoint):
            ap.error("--streaming requires --index-root and --checkpoint")
        if args.embedding_dedup is not None and not args.embedding_col:
            ap.error(
                "--embedding-dedup with --streaming requires --embedding-col "
                "(the source rows must carry the vectors)"
            )
        bad = [
            flag
            for flag, on in [
                ("--url-dedup", args.url_dedup),
                ("--embeddings", bool(args.embeddings)),
                ("--line-dedup", args.line_dedup is not None),
                ("--max-pseudo-ppl", args.max_pseudo_ppl is not None),
                ("--bench", bool(args.bench)),
                ("--mixture", bool(args.mixture)),
                ("--pack-budget", bool(args.pack_budget)),
                ("--nb-train", bool(args.nb_train)),
            ]
            if on
        ]
        if bad:
            ap.error(
                "batch-only stages not available with --streaming: "
                + ", ".join(bad)
            )
        from invoice_extraction_spark.sources.atomic import list_manifests
        from invoice_extraction_spark.streaming.curate_stream import (
            run_curate_stream,
        )

        run_curate_stream(
            spark,
            args.source,
            args.table,
            args.index_root,
            args.checkpoint,
            # readStream needs an explicit schema: take the source's own
            schema=spark.read.parquet(args.source).schema,
            text_col=args.text_col,
            id_col=args.id_col,
            fix_text=args.fix_text,
            min_quality=args.min_quality,
            repetition_gate=args.repetition_gate,
            nb_weights_path=args.nb_weights,
            nb_threshold=args.nb_threshold,
            exact=args.exact_dedup,
            near=args.near_dedup,
            near_verify=args.near_verify,
            jaccard=args.jaccard,
            embedding_col=(
                args.embedding_col if args.embedding_dedup is not None else None
            ),
            embedding_min_cos=(
                args.embedding_dedup if args.embedding_dedup is not None else 0.99
            ),
            embedding_dim=args.embedding_dim,
            embedding_n_probe=args.embedding_probes,
            max_per_domain=args.max_per_domain,
            span_l=args.span_dedup,
            span_bloom=args.span_bloom,
            compact_every=args.compact_every,
            stats=args.stream_stats,
        )
        n_batches = len(list_manifests(args.table))
        print(f"streaming drain complete: {n_batches} committed batches")
        return
    if os.path.isdir(os.path.join(args.source, "_manifests")):
        # the source is itself an atomic table (e.g. jobs/extract.py output):
        # read the committed snapshot, never uncommitted files
        from invoice_extraction_spark.sources.atomic import read_table

        df = read_table(spark, args.source)
    else:
        df = spark.read.parquet(args.source)
    from invoice_extraction_spark.plans.parallelism import ensure_min_parallelism

    df = ensure_min_parallelism(df)  # Arrow gates downstream; no-op at scale
    id_col, text_col = args.id_col, args.text_col

    run_id = uuid.uuid4().hex[:12]
    stages: list[tuple[str, DataFrame]] = []

    def record(name: str, frame):
        """Attach a row count named after the stage (and this run) to a
        stage's survivors and return the observed frame. The commit's write
        fills it without a persist or an extra job; ``stage_counts`` reads
        it from a copy the write read in full."""
        stages.append((name, frame))
        return frame.observe(f"stage:{run_id}:{name}", F.count(F.lit(1)).alias("n"))

    def stage_counts(seen) -> list[tuple[str, int]]:
        """Every stage's count, as ``seen`` read it off the commit's plan.
        A stage no copy of which the commit provably read in full (the
        write reached it only through a semi join, or adaptive execution
        dropped its branch) is recounted from its frame, loudly."""
        if seen.error:
            print(f"stage counts: {seen.error}", file=sys.stderr)
        out = []
        for name, frame in stages:
            n = seen.get(f"stage:{run_id}:{name}")
            if n is None:
                print(f"stage {name}: not read in full by the commit; recounting", file=sys.stderr)
                n = frame.count()
            out.append((name, n))
        return out

    df = record("input", df)
    if args.url_dedup:
        from invoice_extraction_spark.functions.urls import dedup_by_canonical_url

        df = record("url_dedup", dedup_by_canonical_url(df, url_col="url"))
    if args.exact_dedup:
        from invoice_extraction_spark.operators.dedup import dedup_exact

        df = record("exact_dedup", dedup_exact(df, text_col=text_col, id_col=id_col))
    if args.near_dedup:
        from invoice_extraction_spark.operators.dedup import (
            dedup_near,
            drop_near_duplicates,
        )

        # --exact-dedup has already made the survivors dedup_near would
        near = drop_near_duplicates if args.exact_dedup else dedup_near
        df = record(
            "near_dedup",
            near(df, text_col=text_col, id_col=id_col, threshold=args.jaccard),
        )
    if args.embedding_dedup is not None:
        if not args.embeddings:
            ap.error("--embedding-dedup requires --embeddings")
        from invoice_extraction_spark.operators.similarity import (
            auto_n_planes,
            embedding_dedup_survivors,
        )

        emb = spark.read.parquet(args.embeddings)
        n_vec = emb.count()
        dim = len(emb.select("embedding").first()["embedding"])
        df = record(
            "embedding_dedup",
            embedding_dedup_survivors(
                df,
                emb,
                min_cos=args.embedding_dedup,
                doc_id_col=id_col,
                # scale-aware defaults: planes from corpus size, probe-1
                # multi-probe (the measured sf1 recipe — BENCH/BASELINE.md)
                n_planes=auto_n_planes(n_vec),
                dim=dim,
                n_probe=args.embedding_probes,
            ),
        )
    if args.line_dedup:
        from invoice_extraction_spark.operators.line_dedup import dedup_lines

        df = record(
            "line_dedup",
            dedup_lines(df, text_col=text_col, id_col=id_col, min_docs=args.line_dedup),
        )
    if args.span_dedup:
        from invoice_extraction_spark.operators.span_dedup import (
            remove_duplicate_spans,
        )

        df = record(
            "span_dedup",
            remove_duplicate_spans(
                df, text_col=text_col, id_col=id_col, l=args.span_dedup
            ).drop("n_tokens_removed"),
        )
    if args.fix_text:
        from invoice_extraction_spark.functions.textfix import clean_text

        df = record("fix_text", df.withColumn(text_col, clean_text(F.col(text_col))))
    if args.min_quality is not None:
        df = record(
            "quality_gate", df.filter(quality_score(F.col(text_col)) >= args.min_quality)
        )
    if args.repetition_gate:
        df = record(
            "repetition_gate",
            df.filter(repetition_keep(repetition_stats(F.col(text_col)))),
        )
    if args.nb_train or args.nb_weights:
        from invoice_extraction_spark.operators.doc_quality import (
            doc_nb_keep,
            fit_doc_nb,
            load_doc_nb,
            save_doc_nb,
        )

        if args.nb_weights:
            nb_w, nb_p = load_doc_nb(args.nb_weights)
        else:
            train = spark.read.parquet(args.nb_train)
            nb_w, nb_p = fit_doc_nb(train, text_col=args.text_col)
            if args.nb_save:
                save_doc_nb(args.nb_save, nb_w, nb_p)
        df = record(
            "nb_quality",
            doc_nb_keep(
                df, nb_w, nb_p, text_col=text_col, threshold=args.nb_threshold
            ),
        )
    if args.max_pseudo_ppl is not None:
        from invoice_extraction_spark.operators.lm_score import fit_unigram_lm, lm_quality

        lm = fit_unigram_lm(df, text_col=text_col, fit_fraction=args.lm_fit_fraction)
        keep = (
            lm_quality(df, lm, text_col=text_col, id_col=id_col)
            .filter(F.col("pseudo_perplexity") <= args.max_pseudo_ppl)
            .select(id_col)
        )
        df = record("lm_gate", df.join(keep, id_col, "left_semi"))
    if args.bench:
        from invoice_extraction_spark.operators.decontam import decontaminate

        bench = spark.read.parquet(args.bench)
        df = record(
            "decontaminate",
            decontaminate(df, bench, text_col=text_col, id_col=id_col, n=args.bench_ngram),
        )
    if args.max_per_domain is not None:
        from invoice_extraction_spark.functions.urls import domain_quota_filter

        df = record(
            "domain_quota",
            # url_col follows --id-col like the streaming path (ADVICE r5:
            # a hardcoded "url" diverged the two modes for renamed columns)
            domain_quota_filter(df, args.max_per_domain, url_col=id_col),
        )
    if args.mixture:
        from invoice_extraction_spark.operators.sampling import mixture_sample

        df = record(
            "mixture",
            mixture_sample(df, args.stratum_col, _parse_mixture(args.mixture), key_col=id_col),
        )
    if args.pack_budget:
        from invoice_extraction_spark.operators.packing import pack_documents

        if "n_tokens" not in df.columns:
            if args.token_counter == "bpe":
                from invoice_extraction_spark.functions.bpe import (
                    frozen_bpe_token_count,
                )

                df = df.withColumn(
                    "n_tokens", frozen_bpe_token_count()(F.col(text_col))
                )
            else:
                df = df.withColumn("n_tokens", token_count(F.col(text_col)))
        shard = args.stratum_col if args.stratum_col in df.columns else id_col
        df = pack_documents(
            df, "n_tokens", budget=args.pack_budget, shard_col=shard, order_col=id_col
        )

    with ObservedCounts(spark) as seen:
        manifest = commit_append(
            df,
            args.table,
            run_id=run_id,
            ok_predicate=f"{text_col} IS NOT NULL AND length({text_col}) > 0",
        )
    n = sum(ln["n_rows"] for ln in manifest["lineage"])
    for name, c in stage_counts(seen):
        print(f"stage {name}: {c} docs")
    print(f"committed run_id={manifest['run_id']} rows={n}")
    if owned:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
