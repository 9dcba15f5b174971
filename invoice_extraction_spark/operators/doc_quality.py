"""Supervised document-quality classifier — the MODEL-BASED quality tier
of a web-scale curation pipeline (CCNet's fastText LM-vs-crawl classifier,
LLaMA's Wikipedia-reference classifier, FineWeb-Edu's educational-value
scorer all have this shape): a linear scorer over token evidence, TRAINED
on labeled documents, sitting above the heuristic gates
(`functions/text_metrics.quality_score`) and the unsupervised perplexity
gate (`operators/lm_score`). The reference has no analog (single-invoice
OCR pipeline); this family comes from the task brief's training-data
pipeline extras.

Design (the `operators/blocks.py` tag-path NB recipe, lifted to document
level with a TOKEN VOCABULARY instead of hash buckets):

- **Fit = counting.** One `groupBy(token)` aggregation over the labeled
  corpus yields per-class token counts; multinomial Naive Bayes turns them
  into log-likelihood-ratio weights with Laplace smoothing. No iterations,
  no RNG — refitting on the same corpus is bit-identical, and the weights
  are plain Python ready to freeze as literals (the frozen-quantizer
  deployment shape used by IVF/PQ/BPE).
- **Bounded vocabulary.** Weights are kept for the top-`vocab_k` tokens by
  total count (count desc, token asc — deterministic), selected INSIDE
  Spark via TakeOrderedAndProject before a <= vocab_k collect (the
  `functions/bpe.py` fit discipline: the driver never sees the unbounded
  token universe). Out-of-vocabulary tokens score 0 — explicitly a
  lexicon classifier, like the fastText models it mirrors (whose hashed
  n-gram table is likewise finite).
- **Scoring is map-only.** `doc_nb_score` is an Arrow kernel carrying the
  vocabulary as a plain dict inside the pandas UDF — zero shuffle, zero
  join, no map literal in the plan, O(tokens) per doc. A Column form that
  folds a literal token->weight map over the tokens lives in
  tests/references.py as the equality reference, and the DuckDB twins in
  test_doc_quality pin the kernel itself. At 100 TB the scorer is
  embarrassingly parallel; the only cross-node traffic is the fit's single
  count shuffle, and the fit can run on a hash-sample (count statistics
  converge — the LM/IVF sampled-fit argument).

Tokenization matches the corpus queries' contract: lowercase, split on
single spaces (`string_split(text, ' ')` in the DuckDB twins), empty
tokens dropped.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), " "), lambda t: t != "")


def fit_doc_nb(
    df: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    vocab_k: int = 2000,
    min_count: int = 2,
    alpha: float = 1.0,
) -> tuple[list[tuple[str, float]], float]:
    """Multinomial-NB token weights + class prior from a labeled corpus
    (``label_col``: 1 = keep-worthy, 0 = junk). Returns
    ``([(token, llr_weight), ...], prior)`` — weights sorted by token for
    reproducible freezing, every float rounded to 6dp so refits and
    cross-engine twins compare exactly.

        w[t]  = ln( (c1[t]+a)/(T1+a*V)  /  (c0[t]+a)/(T0+a*V) )
        prior = ln( (n1_docs+a) / (n0_docs+a) )

    where c{y}[t] are per-class token occurrence counts over the top-K
    vocabulary, T{y} the per-class occurrence totals OVER THAT VOCABULARY
    (so the oracle twin needs no second corpus pass), and V the vocabulary
    size. Vocabulary = tokens with total count >= ``min_count``, top
    ``vocab_k`` by (count desc, token asc) — ranked inside Spark; the
    driver collects <= vocab_k rows, never the token universe.
    """
    y = F.col(label_col).cast("int")
    tok = (
        df.select(y.alias("y"), F.explode(_tokens(text_col)).alias("t"))
        .groupBy("t")
        .agg(
            F.sum("y").alias("c1"),
            F.sum(1 - F.col("y")).alias("c0"),
        )
        .withColumn("n", F.col("c1") + F.col("c0"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.desc("n"), F.asc("t"))
        .limit(vocab_k)  # TakeOrderedAndProject: bounded driver transfer
        .collect()
    )
    t1 = sum(int(r["c1"]) for r in tok)
    t0 = sum(int(r["c0"]) for r in tok)
    v = len(tok)
    weights = sorted(
        (
            r["t"],
            round(
                math.log(
                    (int(r["c1"]) + alpha)
                    / (t1 + alpha * v)
                    / ((int(r["c0"]) + alpha) / (t0 + alpha * v))
                ),
                6,
            ),
        )
        for r in tok
    )
    docs = df.agg(
        F.sum(y).alias("n1"), F.sum(1 - y).alias("n0")
    ).collect()[0]
    prior = round(
        math.log((int(docs["n1"]) + alpha) / (int(docs["n0"]) + alpha)), 6
    )
    return weights, prior


def doc_nb_score(
    text: Column | str, weights: list[tuple[str, float]], prior: float
) -> Column:
    """Mean per-token log-likelihood ratio over the document plus the
    prior, rounded to 4. Positive = keep-worthy. OOV tokens contribute 0;
    mean rather than sum so the score is length-invariant (a long junk page
    can't buy its way positive on OOV mass, and thresholds transfer across
    documents of different lengths). The vocabulary travels once per
    executor inside the pandas UDF closure as a plain dict — map-only, no
    join, O(tokens) per document."""
    table = {t: float(w) for t, w in weights}
    p = float(prior)

    def kernel(s):
        import pandas as pd

        def one(txt):
            if txt is None:
                return None
            toks = [t for t in txt.lower().split(" ") if t != ""]
            if not toks:
                return round(p, 4)
            total = 0.0
            for t in toks:
                total += table.get(t, 0.0)
            return round(total / len(toks) + p, 4)

        return pd.Series([one(v) for v in s])

    f = F.pandas_udf(kernel, T.DoubleType())
    return f(F.col(text) if isinstance(text, str) else text)


def save_doc_nb(
    path: str, weights: list[tuple[str, float]], prior: float
) -> None:
    """Freeze a fitted model to a json file — the deployment artifact the
    frozen-quantizer components (IVF centroids, PQ codebooks, BPE merges)
    keep as literal modules; a json file lets operators retrain without a
    code change. Written atomically (tmp + rename) so a reader never sees
    a torn model."""
    import json
    import os

    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"prior": prior, "weights": [[t, w] for t, w in weights]}, f)
    os.replace(tmp, path)


def load_doc_nb(path: str) -> tuple[list[tuple[str, float]], float]:
    import json

    with open(path) as f:
        m = json.load(f)
    return [(t, float(w)) for t, w in m["weights"]], float(m["prior"])


def doc_nb_keep(
    df: DataFrame,
    weights: list[tuple[str, float]],
    prior: float,
    text_col: str = "text",
    threshold: float = 0.0,
) -> DataFrame:
    """The gate form: keep documents scoring >= ``threshold`` (map-only)."""
    return df.filter(doc_nb_score(F.col(text_col), weights, prior) >= threshold)
