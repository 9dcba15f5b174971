"""From-scratch byte-pair encoding: corpus-trained tokenizer, Arrow encode.

The pipeline's token counts so far are estimates (``text_metrics.
bpe_ish_token_count``'s pre-tokenizer regex). This module provides the real
thing, self-contained: train BPE merges on (a sample of) the corpus itself
(Sennrich et al. 2016 — the exact algorithm GPT-2-family vocabularies
descend from), freeze the merge list as a plain Python literal, and encode
documents in Arrow batches. Real token counts make sequence packing
budgets and token-cost accounting exact instead of approximate.

Determinism: merge selection breaks frequency ties lexicographically, so
the same corpus always trains the same vocabulary — the merge table is
freezable exactly like the IVF centroids / PQ codebooks.

Scale shape: training runs driver-side on a hash-sampled word-frequency
table (ONE groupBy over the sample, pruned to the top-K head forms INSIDE
Spark before the collect — pair statistics converge like any count
statistic, and merges only ever come from the head of the Zipfian
distribution); encoding is a ``pandas_udf`` whose per-word LRU cache
exploits the Zipfian reality that a handful of word forms dominate any
web corpus (cache hit rates >99% in practice), so the per-document cost
is a dict lookup per word, not a merge loop.
"""

from __future__ import annotations


import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

END = "</w>"  # word terminator symbol (Sennrich-style)


def _word_freqs_spark(
    df: DataFrame,
    text_col: str,
    sample_fraction: float | None,
    seed: int,
    min_count: int = 1,
    top_k: int | None = 100_000,
) -> dict[str, int]:
    """Word-frequency table for BPE training, PRUNED INSIDE SPARK before the
    driver collect (mirrors ``lm_score.fit_unigram_lm``'s top-K vocab): a
    web-scale sample has tens of millions of distinct "words" (URLs-in-text,
    hashes, typos) and ``sample_fraction`` bounds rows scanned, not distinct
    words. BPE only ever merges pairs from the HEAD of the Zipfian
    distribution, so ``min_count`` + deterministic top-K (n desc, word asc —
    a TakeOrderedAndProject, never a full sort) bound the driver at
    ``top_k`` rows with no effect on the merges any realistic ``n_merges``
    selects."""
    src = df
    if sample_fraction is not None:
        bucket = F.pmod(F.xxhash64(F.col(text_col), F.lit(seed)), F.lit(1000))
        src = df.filter(bucket < int(sample_fraction * 1000))
    agg = (
        src.select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    if min_count > 1:
        agg = agg.filter(F.col("n") >= min_count)
    if top_k is not None:
        agg = agg.orderBy(F.desc("n"), F.asc("w")).limit(top_k)
    rows = agg.collect()
    return {r["w"]: int(r["n"]) for r in rows}


def train_bpe_merges(word_freqs: dict[str, int], n_merges: int) -> list[tuple[str, str]]:
    """Classic BPE training over a word-frequency table: repeatedly merge
    the most frequent adjacent symbol pair (ties -> lexicographically
    smallest pair, fully deterministic). Returns the ordered merge list."""
    vocab: dict[tuple[str, ...], int] = {
        tuple(w) + (END,): n for w, n in word_freqs.items()
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, n in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == best[0] and syms[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges


def fit_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 512,
    sample_fraction: float | None = None,
    seed: int = 42,
    min_count: int = 1,
    top_k: int | None = 100_000,
) -> list[tuple[str, str]]:
    """Train merges on the corpus (hash-sampled when ``sample_fraction``
    is set; word table pruned to ``top_k`` head forms inside Spark — the
    100-TB path keeps the driver bounded regardless of distinct-word
    count). Output is a plain literal, freezable."""
    return train_bpe_merges(
        _word_freqs_spark(df, text_col, sample_fraction, seed, min_count, top_k),
        n_merges,
    )


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """GPT-2-style greedy encoding: repeatedly apply the LOWEST-rank merge
    present in the current symbol sequence."""
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def decode_tokens(tokens: list[str]) -> str:
    """Inverse of per-word encoding across a document: concatenate and turn
    word terminators back into spaces."""
    return "".join(tokens).replace(END, " ").strip()


def bpe_token_count_udf(merges: list[tuple[str, str]]):
    """A ``pandas_udf`` counting REAL BPE tokens per document with the
    frozen ``merges``. The per-word cache rides the executor (Zipfian word
    forms -> near-total hit rate)."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf(IntegerType())
    def _count(texts: pd.Series) -> pd.Series:
        # plain-dict word cache built executor-side per Arrow call (an
        # lru_cache closure would not pickle); Zipfian word forms make even
        # a per-batch cache overwhelmingly hot
        cache: dict[str, int] = {}

        def count_word(w: str) -> int:
            v = cache.get(w)
            if v is None:
                v = len(encode_word(w, ranks))
                if len(cache) < 65536:
                    cache[w] = v
            return v

        def doc(s):
            if not isinstance(s, str) or not s:
                return 0
            return sum(count_word(w) for w in s.lower().split(" ") if w)

        return texts.map(doc)

    return _count


def frozen_bpe_token_count():
    """The default token-economics Column factory: ``bpe_token_count_udf``
    bound to the FROZEN corpus-trained merge table
    (``bpe_merges.FROZEN_BPE_MERGES`` — scripts/freeze_bpe_merges.py).
    Real BPE counts, deterministic across runs, replayable driver-side."""
    from .bpe_merges import FROZEN_BPE_MERGES

    return bpe_token_count_udf(FROZEN_BPE_MERGES)
