"""Spark DataFrame operators: the engine's public dataflow surface.

One import gets a user everything the reference pipeline did plus the
training-data-pipeline extras::

    from invoice_extraction_spark.operators import (
        extract_pages, validate_sellers, pseudo_labels,   # extraction
        dedup_exact, dedup_near, dedup_incremental,       # dedup
        brute_force_topk, lsh_topk, ivf_topk,             # similarity
        categorize_errors, save_error_report,             # error analytics
        hash_quota_sample, hash_split, mixture_sample,    # sampling / mixture
        fit_unigram_lm, lm_quality,                       # LM quality scoring
        pack_documents, pack_stats,                       # sequence packing
        decontaminate, benchmark_contamination,           # eval decontamination
        dedup_lines, line_frequencies,                    # C4 line dedup
        extract_block_features, path_nb_score,            # block classifier
        distinct_sketches, merge_distinct_estimate,       # sketch rollups
        pq_encode, pq_topk, ivf_pq_topk,                  # product quantization
        interval_join, salted_join,                       # range / skewed joins
        z_value, zorder_layout,                           # z-order layout
    )

Resolution is LAZY (PEP 562 module ``__getattr__``): importing any single
operator module (what every pickled Arrow kernel makes the Python workers
do, e.g. ``operators.extract``) must not drag the whole package in. The
wall cost today is dominated by pandas (~0.85 s/worker, paid either way),
but eager re-exports couple every worker to every operator module — one
import error or heavy new dependency anywhere in the package would break
or slow ALL kernels; lazily, a worker imports exactly its own module's
dependency closure.
"""

import importlib

_EXPORTS = {
    # dedup
    "band_index": ".dedup",
    "cross_doc_contamination": ".dedup",
    "dedup_exact": ".dedup",
    "dedup_incremental": ".dedup",
    "dedup_near": ".dedup",
    "drop_near_duplicates": ".dedup",
    "lsh_band_stats": ".dedup",
    "lsh_candidate_pairs": ".dedup",
    "ngram_jaccard_pairs": ".dedup",
    "simhash_buckets": ".dedup",
    # errors
    "categorize_errors": ".errors",
    "confidence_vs_errors": ".errors",
    "error_distribution": ".errors",
    "error_severity_rollup": ".errors",
    "field_success_summary": ".errors",
    "save_error_report": ".errors",
    # blocks
    "extract_block_features": ".blocks",
    "fit_path_nb_weights": ".blocks",
    "hashed_path_features": ".blocks",
    "path_nb_score": ".blocks",
    # decontam
    "benchmark_contamination": ".decontam",
    "benchmark_ngram_index": ".decontam",
    "decontaminate": ".decontam",
    # extract
    "extract_pages": ".extract",
    "pseudo_labels": ".extract",
    "salted_repartition": ".extract",
    # fuzzy
    "fuzzy_join": ".fuzzy",
    "validate_sellers": ".fuzzy",
    # line dedup
    "dedup_lines": ".line_dedup",
    "line_frequencies": ".line_dedup",
    # LM scoring
    "fit_unigram_lm": ".lm_score",
    "lm_quality": ".lm_score",
    "lm_quality_buckets": ".lm_score",
    # multimodal
    "extract_features": ".multimodal",
    "frame_sample": ".multimodal",
    "media_stats": ".multimodal",
    # packing
    "pack_documents": ".packing",
    "pack_stats": ".packing",
    "packing_summary": ".packing",
    # product quantization
    "fit_pq_codebooks": ".pq",
    "ivf_pq_index": ".pq",
    "ivf_pq_topk": ".pq",
    "pq_adc_distance": ".pq",
    "pq_encode": ".pq",
    "pq_topk": ".pq",
    # range join
    "interval_join": ".range_join",
    # supervised doc-quality classifier
    "fit_doc_nb": ".doc_quality",
    "doc_nb_score": ".doc_quality",
    "doc_nb_keep": ".doc_quality",
    "save_doc_nb": ".doc_quality",
    "load_doc_nb": ".doc_quality",
    # sampling
    "hash_quota_sample": ".sampling",
    "hash_split": ".sampling",
    "mixture_sample": ".sampling",
    # sketches
    "distinct_sketches": ".sketches",
    "merge_distinct_estimate": ".sketches",
    "merge_quantile_estimate": ".sketches",
    "quantile_sketches": ".sketches",
    # skew
    "key_skew_report": ".skew",
    "salted_join": ".skew",
    # span dedup (Lee et al. exact-substring family)
    "duplicate_span_intervals": ".span_dedup",
    "merge_gram_index": ".span_dedup",
    "remove_duplicate_spans_incremental": ".span_dedup",
    "span_gram_index": ".span_dedup",
    "gram_occurrences": ".span_dedup",
    "hot_grams": ".span_dedup",
    "remove_duplicate_spans": ".span_dedup",
    "span_dedup_stats": ".span_dedup",
    # similarity
    "brute_force_topk": ".similarity",
    "embedding_topk_pairs": ".similarity",
    "fit_ivf_centroids": ".similarity",
    "ivf_topk": ".similarity",
    "lsh_topk": ".similarity",
    "pairwise_topk_per_label": ".similarity",
    # z-order
    "z_value": ".zorder",
    "zorder_layout": ".zorder",
}

__all__ = sorted(_EXPORTS)


def __getattr__(name: str):
    mod = _EXPORTS.get(name)
    if mod is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(mod, __name__), name)
    globals()[name] = value  # cache: subsequent lookups skip __getattr__
    return value


def __dir__():
    return sorted(set(globals()) | set(_EXPORTS))
