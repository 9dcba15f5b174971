"""Dataset datasheet job: one auditable card per curated corpus snapshot.

    spark-submit --py-files <pkg.zip> jobs/datacard.py \
        --table /path/to/curated_table --out /path/to/card_dir \
        [--text-col text] [--id-col doc_id] [--stratum-col source]

Training-data releases ship a datasheet ("Datasheets for Datasets",
Gebru et al. 2021): what's in the corpus, how much, in which languages,
how long, how clean. This job computes the quantitative half from the
committed snapshot and writes ``datacard.json`` (machine-readable) +
``DATACARD.md`` (human-readable):

  - volume: docs, tokens, bytes; per-language and per-stratum splits
  - length distribution: token-count quantiles (exact at card time;
    the sketch operators cover the incremental path)
  - quality: mean quality score, repetition-gate pass rate
  - provenance: snapshot run_ids + lineage totals from the manifests

Every number is ONE aggregation pass over the table plus manifest reads —
driver-side memory only holds the aggregate rows. Deterministic: a card
regenerated from the same snapshot is byte-identical (no wall-clock in
the card body; the snapshot ids date it).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="committed table dir (atomic snapshots)")
    ap.add_argument("--out", required=True, help="card output dir")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--stratum-col", default="source")
    ap.add_argument("--lang-col", default="lang")
    ap.add_argument(
        "--token-counter",
        choices=["bpe", "whitespace"],
        default="bpe",
        help="token economics: real frozen-BPE counts (default) or the whitespace estimate",
    )
    ap.add_argument(
        "--incremental",
        action="store_true",
        help="sketch-backed mode: maintain per-snapshot stats (--stats-dir) "
        "and fold them — each run scans only unprocessed snapshot deltas",
    )
    ap.add_argument(
        "--stats-dir",
        default=None,
        help="stats store for --incremental (default: <table>/_card_stats)",
    )
    ap.add_argument("--top-terms", type=int, default=20)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from invoice_extraction_spark.functions.text_metrics import (
        quality_score,
        repetition_keep,
        repetition_stats,
        token_count,
    )
    from invoice_extraction_spark.session import get_spark
    from invoice_extraction_spark.sources.atomic import list_manifests, read_table

    owned = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="datacard-job", master=args.master)

    if args.incremental:
        from invoice_extraction_spark.operators.card_stats import (
            card_from_stats,
            update_card_stats,
        )

        stats_dir = args.stats_dir or os.path.join(args.table, "_card_stats")
        upd = update_card_stats(
            spark,
            args.table,
            stats_dir,
            text_col=args.text_col,
            lang_col=args.lang_col,
            stratum_col=args.stratum_col,
            token_counter=args.token_counter,
        )
        card = card_from_stats(
            spark, args.table, stats_dir, top_k_terms=args.top_terms
        )
        _write_card(card, args.out)
        print(
            f"card (incremental): {card['n_docs']} docs, {card['n_tokens']} tokens; "
            f"processed {len(upd['processed'])} new snapshot(s) -> {args.out}"
        )
        if owned:
            spark.stop()
        return 0

    from invoice_extraction_spark.plans.parallelism import ensure_min_parallelism

    df = ensure_min_parallelism(read_table(spark, args.table))
    text = F.col(args.text_col)
    if args.token_counter == "bpe":
        from invoice_extraction_spark.functions.bpe import frozen_bpe_token_count

        _tok_expr = frozen_bpe_token_count()(text)
    else:
        _tok_expr = token_count(text)
    enriched = df.withColumn("_tok", _tok_expr).withColumn(
        "_q", quality_score(text)
    ).withColumn(
        "_rep_ok", repetition_keep(repetition_stats(text)).cast("double")
    )

    totals = enriched.agg(
        F.count("*").alias("n_docs"),
        F.sum("_tok").cast("bigint").alias("n_tokens"),
        F.sum(F.length(text)).cast("bigint").alias("n_chars"),
        F.round(F.avg("_q"), 4).alias("mean_quality"),
        F.round(F.avg("_rep_ok"), 4).alias("repetition_pass_rate"),
        F.expr("percentile(_tok, array(0.1, 0.5, 0.9, 0.99))").alias("tok_q"),
    ).collect()[0]

    def _split(col: str) -> list[dict]:
        if col not in df.columns:
            return []
        rows = (
            enriched.groupBy(col)
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("_tok").cast("bigint").alias("n_tokens"),
            )
            .orderBy(F.desc("n_docs"), col)
            .collect()
        )
        return [
            {"value": r[col], "n_docs": r["n_docs"], "n_tokens": r["n_tokens"]}
            for r in rows
        ]

    # exact top terms at card time (the incremental mode estimates the same
    # list from the merged CMS + candidate union)
    terms = (
        df.select(
            F.explode(F.split(F.lower(F.col(args.text_col)), " ")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(args.top_terms)
        .collect()
    )

    manifests = list_manifests(args.table)
    card = {
        "mode": "full",
        "table": os.path.abspath(args.table),
        "snapshots": [m["run_id"] for m in manifests],
        "n_docs": totals["n_docs"],
        "n_tokens": totals["n_tokens"],
        "token_counter": args.token_counter,
        "n_chars": totals["n_chars"],
        "token_quantiles": {
            p: float(v)
            for p, v in zip(("p10", "p50", "p90", "p99"), totals["tok_q"])
        },
        "mean_quality": totals["mean_quality"],
        "repetition_pass_rate": totals["repetition_pass_rate"],
        "by_language": _split(args.lang_col),
        "by_stratum": _split(args.stratum_col),
        "top_terms": [
            {"term": r["term"], "est_count": int(r["n"])} for r in terms
        ],
        "lineage_rows": sum(
            ln["n_rows"] for m in manifests for ln in m.get("lineage", [])
        ),
    }
    _write_card(card, args.out)
    print(
        f"card: {card['n_docs']} docs, {card['n_tokens']} tokens, "
        f"{len(card['snapshots'])} snapshot(s) -> {args.out}"
    )
    if owned:
        spark.stop()
    return 0


def _write_card(card: dict, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "datacard.json"), "w") as fh:
        json.dump(card, fh, indent=1, sort_keys=True)

    md = [
        "# Dataset card",
        "",
        f"Snapshots: `{'`, `'.join(card['snapshots'])}`",
        "",
        f"- documents: **{card['n_docs']:,}**",
        f"- tokens: **{card['n_tokens']:,}**  (p50 doc length {card['token_quantiles']['p50']:g}, p99 {card['token_quantiles']['p99']:g})",
        f"- mean quality score: {card['mean_quality']}",
        f"- repetition-gate pass rate: {card['repetition_pass_rate']}",
        "",
        "## By language",
        "",
        "| lang | docs | tokens |",
        "|---|---|---|",
    ]
    md += [
        f"| {e['value']} | {e['n_docs']:,} | {e['n_tokens']:,} |"
        for e in card["by_language"]
    ]
    md += ["", "## By source", "", "| source | docs | tokens |", "|---|---|---|"]
    md += [
        f"| {e['value']} | {e['n_docs']:,} | {e['n_tokens']:,} |"
        for e in card["by_stratum"]
    ]
    if card.get("top_terms"):
        md += ["", "## Top terms", "", "| term | count |", "|---|---|"]
        md += [
            f"| {e['term']} | {e['est_count']:,} |" for e in card["top_terms"]
        ]
    with open(os.path.join(out, "DATACARD.md"), "w") as fh:
        fh.write("\n".join(md) + "\n")


if __name__ == "__main__":
    sys.exit(main())
