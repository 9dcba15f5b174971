"""Operators whose driver-registry slots were given to newer ops keep
hash-checked parity here (the registry is capped at 50 driver rows; the
operator coverage itself must not regress): document fingerprints,
top-N frequency, and per-source token stats (slot given to
span_dedup_stats in round 5)."""

import pytest
from pyspark.sql import functions as F

from invoice_extraction_spark.functions import text_metrics as tm
from parity import assert_parity, duck

FINGERPRINT_SQL = """
SELECT doc_id, md5(concat_ws('|', CAST(length(text) AS VARCHAR),
       substr(text, 1, 64), substr(reverse(text), 1, 64))) AS fp
FROM documents WHERE doc_id < 100 ORDER BY doc_id
"""

TOP5_SQL = """
SELECT event_type, COUNT(*) AS n FROM events
GROUP BY event_type ORDER BY n DESC, event_type LIMIT 5
"""


@pytest.fixture(scope="module")
def con():
    c = duck()
    yield c
    c.close()


def test_fingerprints_parity(spark, con):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 100
    )
    got = d.select("doc_id", tm.fingerprint("text").alias("fp")).orderBy("doc_id")
    assert_parity(got, con, FINGERPRINT_SQL)


TOKEN_STATS_SQL = """
WITH t AS (SELECT source,
    CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text,' ')) END AS n_tokens
    FROM documents)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX(n_tokens) AS INT) AS max_tokens
FROM t GROUP BY source ORDER BY source
"""


def test_token_stats_by_source_parity(spark, con):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = (
        d.select("source", tm.token_count("text").alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("source")
    )
    assert_parity(got, con, TOKEN_STATS_SQL)


def test_top5_frequency_parity(spark, con):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "event_type")
        .limit(5)
    )
    assert_parity(got, con, TOP5_SQL)


LSH_TOPK_SQL_TMPL = """
WITH b AS (SELECT vec_id, embedding,
           {bucket} AS bucket
           FROM embeddings),
qr AS (SELECT embedding::DOUBLE[] AS qv, bucket AS qbucket
       FROM b WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_dot_product(embedding::DOUBLE[], qv)
           / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
FROM b, qr WHERE b.bucket = qr.qbucket
ORDER BY cos_sim DESC, vec_id LIMIT 5
"""


def test_lsh_topk_bucket_parity(spark, con):
    """Slot given to embedding_near_dup_pairs in round 5; the sign-LSH
    bucket-probe top-k keeps its DuckDB hash parity here."""
    from invoice_extraction_spark.operators import similarity as sim
    from __spark_entry__ import _lsh_bucket_sql

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = sim.lsh_topk(e, qv, k=5, n_planes=4)
    assert_parity(
        got, con, LSH_TOPK_SQL_TMPL.format(bucket=_lsh_bucket_sql("embedding::DOUBLE[]"))
    )


REPETITION_FILTER_SQL = """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
m AS (SELECT doc_id, lang, len(toks) AS n, len(list_distinct(toks)) AS d,
      (SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM unnest(
          list_transform(range(1, greatest(len(toks)-1, 1) + 1),
                         i -> concat_ws(' ', toks[i], toks[i+1]))) AS u(x)
          GROUP BY x)) AS mb
      FROM t),
k AS (SELECT lang,
      (ROUND(1.0 - d * 1.0 / n, 4) <= 0.6
       AND (mb < 2 OR ROUND(mb * 1.0 / greatest(n - 1, 1), 4) <= 0.08)) AS keep
      FROM m)
SELECT lang, keep, COUNT(*) AS n FROM k GROUP BY lang, keep
ORDER BY lang, keep
"""


def test_repetition_filter_counts_parity(spark, con):
    """Slot given to nb_quality_scores in round 5; the corpus-wide
    repetition KEEP gate (repetition_scores keeps the family's driver
    row) retains its DuckDB hash parity here."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = (
        d.select(
            "lang",
            tm.repetition_keep(tm.repetition_stats("text")).alias("keep"),
        )
        .groupBy("lang", "keep")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "keep")
    )
    assert_parity(got, con, REPETITION_FILTER_SQL)
