"""Sketch-backed incremental datacard stats: O(delta) per snapshot.

``jobs/datacard.py``'s full mode aggregates the whole table every run —
right for a one-off release card, wrong as a standing dashboard over a
growing 10^12-doc corpus (run N rescans N-1 snapshots' rows). This module
keeps a tiny per-snapshot stats store next to the table and answers the
card by MERGING stats, never rereading history:

  stats_dir/
    agg/   one row per snapshot: exact additive scalars (docs, tokens,
           chars, quality/repetition sums), per-language / per-stratum
           count maps (JSON — merged by key addition)
    hist/  exact per-doc token-count histogram rows (value, n) — the
           quantile store. Token counts are small integers, so the
           histogram has at most max-doc-tokens distinct rows per
           snapshot; merging is plain addition and quantiles read off
           the cumulative distribution are EXACT and deterministic.
           (KLL was tried first: DataSketches compaction flips unseeded
           random bits inside the JVM, so folding the SAME store twice
           could differ by ±1 — unacceptable for a regeneration-
           deterministic card. KLL stays in operators/sketches.py for
           real-valued/unbounded domains where a histogram can't work.)
    cms/   count-min sketch rows (depth, bucket, n) over document tokens
    cand/  the snapshot's local top-N tokens (heavy-hitter candidates)

``update_card_stats`` reads ONLY snapshots without a stats row
(``sources.atomic.read_snapshot_delta`` — the per-snapshot incremental
read), so each run scans the delta, test-asserted via inputFiles counts.
``card_from_stats`` folds the store: sums and quantiles are EXACT
(addition commutes; the histogram CDF is exact), top terms from the
merged CMS ranked over the unioned candidates. Compaction snapshots
rewrite history and append nothing — they are skipped (recorded with
zero rows).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text_metrics import (
    quality_score,
    repetition_keep,
    repetition_stats,
    token_count,
)
from ..sources.atomic import _read_manifests, list_manifests, read_snapshot_delta
from .cms import (
    DEFAULT_DEPTH,
    DEFAULT_WIDTH,
    cms_heavy_hitters,
    cms_merge,
    cms_sketch,
    local_top_candidates,
)

TOP_N_CANDIDATES = 256


def _tokens(df: DataFrame, text_col: str) -> DataFrame:
    """Space-split lowercase tokens — the same pre-tokenization the BPE /
    LM operators use, so term stats line up with token economics."""
    return df.select(
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("value")
    ).filter(F.col("value") != "")


def _token_count_col(text_col: str, token_counter: str):
    if token_counter == "bpe":
        from ..functions.bpe import frozen_bpe_token_count

        return frozen_bpe_token_count()(F.col(text_col))
    return token_count(F.col(text_col))


def _split_json(delta: DataFrame, col: str) -> str:
    """Per-value (n_docs, n_tokens) for one snapshot as a JSON object —
    merged across snapshots by key-wise addition (tiny: one row per
    language / stratum)."""
    if col not in delta.columns:
        return "{}"
    rows = (
        delta.groupBy(col)
        .agg(F.count("*").alias("d"), F.sum("_tok").cast("bigint").alias("t"))
        .collect()
    )
    return json.dumps(
        {str(r[col]): [int(r["d"]), int(r["t"])] for r in rows}, sort_keys=True
    )


def update_card_stats(
    spark: SparkSession,
    table_dir: str,
    stats_dir: str,
    text_col: str = "text",
    lang_col: str = "lang",
    stratum_col: str = "source",
    token_counter: str = "bpe",
    cms_depth: int = DEFAULT_DEPTH,
    cms_width: int = DEFAULT_WIDTH,
) -> dict:
    """Bring the stats store up to date with the table: one pass over each
    UNPROCESSED snapshot's delta, nothing else. Returns
    ``{"processed": [run_id, ...], "scanned_files": {run_id: n}}`` —
    the O(delta) evidence the tests assert on.

    Vacuumed pre-compaction history (ADVICE r4): a first incremental run on
    a table that was ``compact()``-ed then ``vacuum()``-ed cannot read the
    pre-compaction deltas (their files are gone). Those snapshots are
    absorbed by BOOTSTRAPPING from the compaction base — the base holds
    every row up to its point, so one scan of it yields exact stats for the
    whole absorbed history (recorded under the base's run_id; the absorbed
    snapshots get zero-marker rows so they are never attempted again). If
    the store already covers SOME of the unreadable history, bootstrapping
    would double-count — that mixed state raises with instructions to
    rebuild the stats store fresh."""
    agg_dir = os.path.join(stats_dir, "agg")
    done: set[str] = set()
    if os.path.isdir(agg_dir):
        done = {
            r["run_id"] for r in spark.read.parquet(agg_dir).select("run_id").collect()
        }

    processed: list[str] = []
    scanned: dict[str, int] = {}
    manifests = list_manifests(table_dir)
    deferred: list[tuple[int, dict]] = []  # unreadable (vacuumed) deltas
    for ordinal, m in enumerate(manifests):
        run_id = m["run_id"]
        if run_id in done:
            continue
        if m.get("base"):
            if any(not os.path.exists(f) for f in m["files"]):
                # superseded base (a LATER compaction made its files
                # vacuum-able) — absorbed by that later base like any
                # other unreadable snapshot
                deferred.append((ordinal, m))
                continue
            prior_covered = [
                mm["run_id"]
                for mm in manifests[:ordinal]
                if mm["run_id"] in done or mm["run_id"] in processed
            ]
            if deferred and prior_covered:
                raise ValueError(
                    f"stats store at {stats_dir} covers part of the "
                    f"pre-compaction history ({sorted(prior_covered)}) but "
                    f"{[mm['run_id'] for _o, mm in deferred]} have vacuumed "
                    "deltas — bootstrapping from the compaction base would "
                    "double-count. Delete the stats dir and rerun to "
                    "bootstrap cleanly."
                )
            if deferred:
                # bootstrap: one scan of the base covers ALL absorbed
                # pre-compaction rows exactly; mark the absorbed snapshots
                # so they're never attempted again
                for o2, m2 in deferred:
                    _write_agg_row(
                        spark, agg_dir, m2["run_id"], o2, None, token_counter
                    )
                    processed.append(m2["run_id"])
                    scanned[m2["run_id"]] = 0
                deferred = []
                base_df = _read_manifests(spark, [m], table_dir)
                _process_snapshot(
                    spark, stats_dir, agg_dir, run_id, ordinal, base_df,
                    text_col, lang_col, stratum_col, token_counter,
                    cms_depth, cms_width,
                )
                scanned[run_id] = len(m["files"])
            else:
                # compaction with fully-covered history: rewrites prior
                # rows, appends none — record an empty marker row
                _write_agg_row(spark, agg_dir, run_id, ordinal, None, token_counter)
                scanned[run_id] = 0
            processed.append(run_id)
            continue
        missing = [f for f in m["files"] if not os.path.exists(f)]
        if missing:
            deferred.append((ordinal, m))
            continue
        _process_snapshot(
            spark, stats_dir, agg_dir, run_id, ordinal,
            read_snapshot_delta(spark, table_dir, run_id),
            text_col, lang_col, stratum_col, token_counter, cms_depth, cms_width,
        )
        scanned[run_id] = len(m["files"])
        processed.append(run_id)
    if deferred:
        raise FileNotFoundError(
            f"snapshot(s) {[mm['run_id'] for _o, mm in deferred]} in "
            f"{table_dir} have vacuumed data files and no later compaction "
            "base to bootstrap from — the table is unreadable at those "
            "snapshots (this state normally cannot arise: vacuum only "
            "collects files a compaction superseded)."
        )
    return {"processed": processed, "scanned_files": scanned}


def _process_snapshot(
    spark, stats_dir, agg_dir, run_id, ordinal, delta_df,
    text_col, lang_col, stratum_col, token_counter, cms_depth, cms_width,
) -> None:
    """One snapshot's full stats pass (hist / cms / cand / agg). The agg row
    is written LAST as the completion marker (the done-check keys on it), so
    a crash between writes just reprocesses the snapshot and each overwrite
    is idempotent — no silent undercount (agg-first) and no double-append
    (append-mode stores) either way."""
    from ..plans.parallelism import ensure_min_parallelism

    # starve-proof BEFORE persist: the cache materializes on the first
    # action, so the _tok kernel must already see a parallel layout
    delta = ensure_min_parallelism(delta_df).withColumn(
        "_tok", _token_count_col(text_col, token_counter)
    )
    delta = delta.persist()
    try:
        delta.groupBy(
            F.coalesce(F.col("_tok"), F.lit(0)).cast("bigint").alias("value")
        ).agg(F.count("*").cast("bigint").alias("n")).withColumn(
            "run_id", F.lit(run_id)
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(stats_dir, "hist", run_id)
        )
        toks = _tokens(delta, text_col)
        cms_sketch(toks, depth=cms_depth, width=cms_width).withColumn(
            "run_id", F.lit(run_id)
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(stats_dir, "cms", run_id)
        )
        local_top_candidates(toks, n=TOP_N_CANDIDATES).withColumn(
            "run_id", F.lit(run_id)
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(stats_dir, "cand", run_id)
        )
        _write_agg_row(
            spark, agg_dir, run_id, ordinal,
            (delta, text_col, lang_col, stratum_col), token_counter,
        )
    finally:
        delta.unpersist()


def _write_agg_row(spark, agg_dir, run_id, ordinal, payload, token_counter) -> None:
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("run_id", T.StringType(), False),
            T.StructField("ordinal", T.IntegerType(), False),
            T.StructField("n_docs", T.LongType(), False),
            T.StructField("n_tokens", T.LongType(), False),
            T.StructField("n_chars", T.LongType(), False),
            T.StructField("sum_quality", T.DoubleType(), False),
            T.StructField("sum_rep_ok", T.DoubleType(), False),
            T.StructField("by_lang", T.StringType(), False),
            T.StructField("by_stratum", T.StringType(), False),
            T.StructField("token_counter", T.StringType(), False),
        ]
    )
    if payload is None:  # compaction marker row
        row = (run_id, ordinal, 0, 0, 0, 0.0, 0.0, "{}", "{}", token_counter)
    else:
        delta, text_col, lang_col, stratum_col = payload
        text = F.col(text_col)
        t = delta.withColumn("_q", quality_score(text)).withColumn(
            "_r",
            repetition_keep(repetition_stats(text)).cast("double"),
        )
        totals = t.agg(
            F.count("*").alias("d"),
            F.coalesce(F.sum("_tok"), F.lit(0)).cast("bigint").alias("tok"),
            F.coalesce(F.sum(F.length(text)), F.lit(0)).cast("bigint").alias("ch"),
            F.coalesce(F.sum("_q"), F.lit(0.0)).alias("q"),
            F.coalesce(F.sum("_r"), F.lit(0.0)).alias("r"),
        ).collect()[0]
        row = (
            run_id,
            ordinal,
            int(totals["d"]),
            int(totals["tok"]),
            int(totals["ch"]),
            float(totals["q"]),
            float(totals["r"]),
            _split_json(delta, lang_col),
            _split_json(delta, stratum_col),
            token_counter,
        )
    spark.createDataFrame([row], schema).coalesce(1).write.mode("append").parquet(
        agg_dir
    )


def card_from_stats(
    spark: SparkSession,
    table_dir: str,
    stats_dir: str,
    top_k_terms: int = 20,
    cms_depth: int = DEFAULT_DEPTH,
    cms_width: int = DEFAULT_WIDTH,
) -> dict:
    """Assemble the card numbers by MERGING the stats store — cost is the
    store size (rows per snapshot), independent of table size. Additive
    numbers are exact; quantiles are the exact-histogram fold; top terms
    are CMS estimates over the candidate union.

    The fold is reconciled with the table's CURRENT manifest chain
    (ADVICE r4): stats rows whose snapshot was ``rollback()``-archived are
    orphans — folding them silently overcounts rolled-back docs/tokens —
    so they are pruned here and reported under ``orphaned_snapshots``."""
    manifests = list_manifests(table_dir)
    live = {m["run_id"] for m in manifests}
    agg = spark.read.parquet(os.path.join(stats_dir, "agg")).orderBy("ordinal")
    all_rows = agg.collect()
    rows = [r for r in all_rows if r["run_id"] in live]
    orphaned = sorted({r["run_id"] for r in all_rows} - live)
    if not rows:
        raise FileNotFoundError(
            f"no stats rows for any live snapshot at {stats_dir}"
            + (f" (orphaned: {orphaned})" if orphaned else "")
        )
    counters = {r["token_counter"] for r in rows}
    if len(counters) > 1:
        raise ValueError(f"mixed token counters in stats store: {sorted(counters)}")

    n_docs = sum(r["n_docs"] for r in rows)
    by_lang: dict[str, list[int]] = {}
    by_stratum: dict[str, list[int]] = {}
    for r in rows:
        for store, blob in ((by_lang, r["by_lang"]), (by_stratum, r["by_stratum"])):
            for k, (d, t) in json.loads(blob).items():
                cur = store.setdefault(k, [0, 0])
                cur[0] += d
                cur[1] += t

    # fold ONLY run dirs whose completion marker (agg row) exists — a
    # crashed half-written snapshot leaves idempotent per-run dirs that the
    # next update_card_stats overwrites, and is invisible until then
    def _run_dirs(store: str) -> list[str]:
        dirs = [
            os.path.join(stats_dir, store, r["run_id"])
            for r in rows
        ]
        return [d for d in dirs if os.path.isdir(d)]

    # exact quantiles from the merged histogram: q(p) = smallest value whose
    # cumulative count reaches ceil(p * N) (type-1) — deterministic by
    # construction, unlike a KLL fold (randomized compaction)
    hist_dirs = _run_dirs("hist")
    hist = (
        sorted(
            (int(r["value"]), int(r["n"]))
            for r in spark.read.parquet(*hist_dirs)
            .groupBy("value")
            .agg(F.sum("n").alias("n"))
            .collect()
        )
        if hist_dirs
        else []
    )
    total = sum(n for _, n in hist)

    def _q(p: float) -> float:
        target = max(1, -(-int(p * total * 1_000_000) // 1_000_000))  # ceil, fp-safe
        cum = 0
        for v, n in hist:
            cum += n
            if cum >= target:
                return float(v)
        return float(hist[-1][0]) if hist else float("nan")

    sk = cms_merge(spark.read.parquet(*_run_dirs("cms")))
    cands = spark.read.parquet(*_run_dirs("cand")).select("value")
    terms = cms_heavy_hitters(
        sk, cands, k=top_k_terms, depth=cms_depth, width=cms_width
    ).collect()

    def _fmt(store: dict[str, list[int]]) -> list[dict]:
        return [
            {"value": k, "n_docs": d, "n_tokens": t}
            for k, (d, t) in sorted(
                store.items(), key=lambda kv: (-kv[1][0], kv[0])
            )
        ]

    return {
        "mode": "incremental",
        "table": os.path.abspath(table_dir),
        "snapshots": [r["run_id"] for r in rows],
        "orphaned_snapshots": orphaned,
        "n_docs": n_docs,
        "n_tokens": sum(r["n_tokens"] for r in rows),
        "token_counter": rows[0]["token_counter"],
        "n_chars": sum(r["n_chars"] for r in rows),
        "token_quantiles": {
            p: _q(v)
            for p, v in (("p10", 0.1), ("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
        },
        "mean_quality": round(sum(r["sum_quality"] for r in rows) / n_docs, 4),
        "repetition_pass_rate": round(sum(r["sum_rep_ok"] for r in rows) / n_docs, 4),
        "by_language": _fmt(by_lang),
        "by_stratum": _fmt(by_stratum),
        "top_terms": [{"term": r["value"], "est_count": int(r["est"])} for r in terms],
        "lineage_rows": sum(
            ln["n_rows"] for m in manifests for ln in m.get("lineage", [])
        ),
    }
