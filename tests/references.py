"""Column-expression references for the Arrow kernels the package ships.

Each operator below has one production implementation, a pandas UDF or
mapInPandas kernel. The forms here restate the same semantics as plain
Spark Column expressions (md5, higher-order functions, literal maps), the
way the DuckDB twins restate them in SQL. Spark interprets their lambdas
per element, so they are far too slow for production, but they are
independent of the kernels' Python code, and the equality tests assert
that both give the same rows:

- ``md5_gram_occurrences``  vs ``span_dedup.gram_occurrences``
  (test_span_dedup);
- ``minhash_signature`` and ``simhash_bits`` vs ``dedup.minhash_signature``
  and ``dedup.simhash`` (test_dedup);
- ``doc_nb_score`` vs ``doc_quality.doc_nb_score`` (test_doc_quality);
- ``dup_token_fraction``, ``max_bigram_count``, ``top_bigram_fraction``
  and ``repetition_keep`` vs ``text_metrics.repetition_stats`` and
  ``text_metrics.repetition_keep`` (test_repetition).
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from invoice_extraction_spark.functions.text_metrics import tokens
from invoice_extraction_spark.operators.dedup import word_shingles
from invoice_extraction_spark.operators.doc_quality import _tokens as nb_tokens


def md5_gram_occurrences(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", l: int = 20
) -> DataFrame:
    """(id, pos, gh) for every L-token gram, ``gh`` = md5 of the gram
    string (concat_ws over a slice). Gram equality is exact here, and the
    hash domain is a 32-char string, not the kernel's int64."""
    toks = F.split(F.col(text_col), " ")
    n_grams = F.size(toks) - (l - 1)
    grams = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, l)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(grams).alias("p0", "g")
    ).select(
        "id",
        (F.col("p0") + 1).alias("pos"),  # posexplode is 0-based
        F.md5("g").alias("gh"),
    )


def minhash_signature(text_col, num_hashes: int = 8, shingle_n: int = 3):
    """sig_j = min over shingles s of md5(j || ':' || s), hex strings."""
    sh = word_shingles(text_col, shingle_n)
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda j: F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(j.cast("string"), F.lit(":"), s)))
        ),
    )


def simhash_bits(text_col, bits: int = 32):
    """Per token t, bit b's evidence is the high bit of hex nibble b of
    md5(t) (hex char >= '8'); the document bit is the sign of the summed
    evidence."""
    toks = F.split(text_col, " ")
    return F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda b: F.when(
                F.aggregate(
                    toks,
                    F.lit(0),
                    lambda acc, t: acc
                    + F.when(F.substring(F.md5(t), b, 1) >= "8", 1).otherwise(-1),
                )
                > 0,
                F.lit("1"),
            ).otherwise(F.lit("0")),
        ),
    )


def doc_nb_score(
    text: Column | str, weights: list[tuple[str, float]], prior: float
) -> Column:
    """Mean per-token weight plus the prior, rounded to 4, with the
    vocabulary as a literal map in the plan (OOV tokens contribute 0)."""
    m = F.create_map(*[F.lit(x) for tw in weights for x in (tw[0], float(tw[1]))])
    toks = nb_tokens(text)
    total = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.coalesce(m[t], F.lit(0.0))
    )
    n = F.greatest(F.size(toks), F.lit(1))
    return F.round(total / n + F.lit(float(prior)), 4)


def dup_token_fraction(text: Column | str) -> Column:
    """Fraction of tokens that repeat an earlier token, rounded to 4."""
    t = tokens(text)
    n = F.greatest(F.size(t), F.lit(1)).cast("double")
    return F.round(F.lit(1.0) - F.size(F.array_distinct(t)).cast("double") / n, 4)


def _bigrams(t: Column) -> Column:
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(t) - 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.try_element_at(t, i), F.try_element_at(t, i + 1)),
    )


def max_bigram_count(text: Column | str) -> Column:
    """Multiplicity of the most frequent bigram: the longest run in the
    sorted bigram array. NULL text -> NULL."""
    c = F.col(text) if isinstance(text, str) else text
    b = F.array_sort(_bigrams(tokens(text)))
    run = F.aggregate(
        F.sequence(F.lit(2), F.greatest(F.size(b), F.lit(2))),
        F.struct(F.lit(1).alias("cur"), F.lit(1).alias("best")),
        lambda acc, i: F.when(
            F.try_element_at(b, i).isNotNull()
            & (F.try_element_at(b, i) == F.try_element_at(b, i - 1)),
            F.struct(
                (acc["cur"] + 1).alias("cur"),
                F.greatest(acc["best"], acc["cur"] + 1).alias("best"),
            ),
        ).otherwise(F.struct(F.lit(1).alias("cur"), acc["best"].alias("best"))),
    )
    return F.when(c.isNotNull(), run["best"])


def top_bigram_fraction(text: Column | str) -> Column:
    """Share of bigram slots taken by the most frequent bigram, rounded to 4."""
    t = tokens(text)
    nb = F.greatest(F.size(t) - 1, F.lit(1)).cast("double")
    return F.round(max_bigram_count(text).cast("double") / nb, 4)


def repetition_keep(
    text: Column | str, max_dup_tokens: float = 0.6, max_top_bigram: float = 0.08
) -> Column:
    """The repetition gate's decision, straight from the text."""
    return (dup_token_fraction(text) <= max_dup_tokens) & (
        (max_bigram_count(text) < 2) | (top_bigram_fraction(text) <= max_top_bigram)
    )
