"""Text-analysis operators as pure Column expressions (JVM-side, codegen'd).

The training-data-pipeline extras the task calls for: language-ID (n-gram /
script heuristic), quality scoring (length/punct/stopword ratios), token
counting, document fingerprinting. Each builder returns a Column over a text
column, so these compose into any query and never leave WholeStageCodegen —
except ``repetition_stats``, whose per-token counting loop runs as an Arrow
kernel (pandas UDF).

Every expression here is deliberately writable in ANSI SQL too (DuckDB
oracle parity — __spark_entry__.oracle_sql builds the mirror query).
"""

from __future__ import annotations

from typing import Iterator  # noqa: UP035 — the pandas_udf hint parser
# resolves annotations against MODULE globals; typing.Iterator here makes
# repetition_stats's Iterator[pd.Series] signature recognizable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# deterministic stopword set for quality scoring / language evidence
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]

_PUNCT_RE = r"[^.,;:!?]"  # everything that is NOT punctuation, for ratio


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization — split on single spaces (inputs are already
    whitespace-collapsed by the extraction contract)."""
    return F.split(F.col(text) if isinstance(text, str) else text, " ")


def token_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.when(F.length(c) == 0, F.lit(0)).otherwise(F.size(tokens(c)))


# GPT-style pre-tokenizer approximation, kept RE2/Java-portable (no
# lookarounds): letter runs, SINGLE digits (GPT-4 style), or one non-space
# symbol — each match is one proto-token before BPE merges.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_ish_token_count(text: Column | str) -> Column:
    """Task-brief 'BPE-ish regex' token counter: counts pre-tokenizer matches
    (letter runs / single digits / single symbols) — the standard quick
    estimate of LLM token cost before running a real BPE."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def punct_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?]", ""))


def stopword_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.filter(tokens(F.lower(c)), lambda t: t.isin(STOPWORDS_EN)))


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1] quality score from length / punctuation / stopword
    evidence — the boilerplate-vs-content scoring idea (reference vision-
    heuristics, vision.py:126-273) lifted to corpus-quality filtering.

    score = 0.4*min(1, n_tokens/100) + 0.3*min(1, 10*stopword_ratio)
          + 0.3*(1 - min(1, 20*punct_ratio_excess)) rounded to 4.
    """
    c = F.col(text) if isinstance(text, str) else text
    ntok = token_count(c).cast("double")
    nchars = F.greatest(F.length(c).cast("double"), F.lit(1.0))
    stop_ratio = stopword_count(c).cast("double") / F.greatest(ntok, F.lit(1.0))
    punct_ratio = punct_count(c).cast("double") / nchars
    return F.round(
        0.4 * F.least(F.lit(1.0), ntok / 100.0)
        + 0.3 * F.least(F.lit(1.0), 10.0 * stop_ratio)
        + 0.3 * (1.0 - F.least(F.lit(1.0), 20.0 * punct_ratio)),
        4,
    )


def lang_guess(text: Column | str) -> Column:
    """Script/n-gram heuristic language ID (reference EDA ``detect_language``:
    Devanagari presence -> Hindi/Mixed; here extended with CJK/Cyrillic and an
    English-stopword majority rule)."""
    c = F.col(text) if isinstance(text, str) else text
    en_evidence = stopword_count(c)
    return (
        F.when(c.rlike("[\\u0900-\\u097F]"), F.lit("hi"))
        .when(c.rlike("[\\u4E00-\\u9FFF]"), F.lit("zh"))
        .when(c.rlike("[\\u0400-\\u04FF]"), F.lit("ru"))
        .when(en_evidence >= 3, F.lit("en"))
        .otherwise(F.lit("und"))
    )


def repetition_stats(text: Column | str) -> Column:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1 use duplicate line/paragraph fractions; this corpus is
    single-line word text, so the token is the repetition unit), in ONE
    Arrow batch pass returning
    ``struct(dup_token_frac, top_bigram_frac, max_bigram_n)``:

    - ``dup_token_frac``: fraction of tokens that repeat an earlier token;
    - ``max_bigram_n``: multiplicity of the most frequent word bigram;
    - ``top_bigram_frac``: the share of bigram slots it takes (the Gopher
      'top n-gram character fraction' adapted to token counts).

    Fractions are rounded half-up to 4 dp for oracle parity; NULL text
    gives a NULL row. The Column folds in tests/references.py are the
    equality reference (test_repetition); as Spark HOFs they are
    interpreted per element — measured ~40 ms/doc, which turned a 50k-doc
    corpus-wide gate into a 30+ minute single-stage crawl at the sf1
    rehearsal."""
    import math
    from collections import Counter

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("dup_token_frac", DoubleType()),
            StructField("top_bigram_frac", DoubleType()),
            StructField("max_bigram_n", IntegerType()),
        ]
    )

    def _r4(x: float) -> float:  # Spark ROUND = HALF_UP (non-negative here)
        return math.floor(x * 10000 + 0.5) / 10000

    def _one(s):
        if not isinstance(s, str):
            return None, None, None
        toks = s.split(" ")  # == F.split(text, " ") incl. empty tokens
        n = len(toks)
        dup = _r4(1.0 - len(set(toks)) / max(n, 1))
        # bigram slots i in 1..max(n-1, 1); a doc under two tokens has
        # one slot holding its single token (or "")
        if n >= 2:
            bigrams = [f"{toks[i]} {toks[i + 1]}" for i in range(n - 1)]
        else:
            bigrams = toks[:1] or [""]
        best = max(Counter(bigrams).values())
        top = _r4(best / max(n - 1, 1))
        return dup, top, best

    @pandas_udf(schema)
    def _stats(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in batches:
            yield pd.DataFrame(
                [_one(s) for s in texts],
                columns=["dup_token_frac", "top_bigram_frac", "max_bigram_n"],
            )

    return _stats(F.col(text) if isinstance(text, str) else text)


def repetition_keep(
    stats: Column, max_dup_tokens: float = 0.6, max_top_bigram: float = 0.08
) -> Column:
    """Gopher-style repetition gate over a ``repetition_stats`` struct.
    Thresholds sit at ~p60/p92 of this corpus's measured distributions
    (dup-token p50=0.54 max=0.72; top-bigram p90=0.069 max=0.167) so the
    gate genuinely splits the data; the RULE — drop documents dominated by
    repeated units — is the published one (Rae et al. 2021 §A1.1). A
    bigram seen once is never 'repetition' — without the multiplicity
    guard, any short document fails the fraction test purely by having
    few bigram slots."""
    return (stats["dup_token_frac"] <= max_dup_tokens) & (
        (stats["max_bigram_n"] < 2) | (stats["top_bigram_frac"] <= max_top_bigram)
    )


def blocklist_hit(text: Column | str, terms: list[str]) -> Column:
    """True when any blocklisted token appears (C4's badwords filter shape:
    exact token membership against a small list, evaluated as a literal
    in-expression set — no join, no shuffle, stays in codegen). Case-
    insensitive. For 100k+ term lists switch to a broadcast semi-join on
    exploded tokens instead of a literal."""
    c = _c_(text)
    lowered = [t.lower() for t in terms]
    return F.exists(tokens(F.lower(c)), lambda t: t.isin(lowered))


def _c_(text: Column | str) -> Column:
    return F.col(text) if isinstance(text, str) else text


def fingerprint(text: Column | str, prefix_len: int = 64) -> Column:
    """Cheap stable document fingerprint: md5 over (length, head, tail) —
    the rolling-hash idea collapsed to a portable expression."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(
        F.concat_ws(
            "|",
            F.length(c).cast("string"),
            F.substring(c, 1, prefix_len),
            F.substring(F.reverse(c), 1, prefix_len),
        )
    )
