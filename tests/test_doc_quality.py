"""Supervised doc-quality NB classifier (operators/doc_quality.py): the
counting fit is deterministic and matches a DuckDB twin exactly, the
Arrow scorer matches a DuckDB scoring twin under the tests/parity.py comparator
and equals the Column reference (tests/references.py), and the gate
separates labeled junk from keep-worthy text on held-out documents."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from invoice_extraction_spark.operators.doc_quality import (
    doc_nb_keep,
    doc_nb_score,
    fit_doc_nb,
)
from tests import references as ref
from tests.parity import assert_parity, duck

GOOD = [
    "the committee published the annual report on water quality in the region",
    "researchers measured rainfall and temperature across the northern valley",
    "the library extended its opening hours for students during exam season",
    "a new bridge connects the old town with the industrial district",
    "the council approved funding for the restoration of the opera house",
    "farmers rotated crops to preserve soil health across the valley",
    "the museum opened an exhibition about the history of printing",
    "engineers inspected the dam after the heavy rainfall last week",
]
JUNK = [
    "buy buy buy cheap cheap pills pills pills click here click here",
    "win win win free free free money money money now now now",
    "click click subscribe subscribe cheap cheap deal deal deal wow",
    "free pills cheap pills buy pills win money click now wow wow",
    "deal deal deal wow wow wow subscribe now now free free free",
    "money money cheap cheap win win click click buy buy now now",
]
HELD_GOOD = "the annual report measured water quality across the region"
HELD_JUNK = "cheap pills free money click now buy deal wow subscribe"


def _labeled(spark):
    rows = [(i, t, 1) for i, t in enumerate(GOOD)] + [
        (100 + i, t, 0) for i, t in enumerate(JUNK)
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "label"])
    )


def _fit_sql(vocab_k: int, min_count: int) -> str:
    return f"""
        WITH toks AS (
            SELECT label, unnest(string_split(lower(text), ' ')) AS t
            FROM train
        ),
        c AS (
            SELECT t, CAST(SUM(label) AS BIGINT) AS c1,
                   CAST(SUM(1 - label) AS BIGINT) AS c0,
                   COUNT(*) AS n
            FROM toks WHERE t <> '' GROUP BY t
            HAVING COUNT(*) >= {min_count}
        ),
        top AS (SELECT * FROM c ORDER BY n DESC, t ASC LIMIT {vocab_k}),
        tot AS (
            SELECT CAST(SUM(c1) AS BIGINT) AS t1,
                   CAST(SUM(c0) AS BIGINT) AS t0,
                   COUNT(*) AS v
            FROM top
        )
        SELECT t AS token,
               ROUND(LN(((c1 + 1.0) / (t1 + 1.0 * v))
                        / ((c0 + 1.0) / (t0 + 1.0 * v))), 6) AS w
        FROM top, tot ORDER BY token
    """


@pytest.fixture(scope="module")
def fitted(spark):
    df = _labeled(spark)
    return df, fit_doc_nb(df, vocab_k=64, min_count=2)


def test_fit_matches_duckdb_twin(spark, fitted):
    """The counting fit is exactly the SQL any engine would run: per-class
    vocab counts -> Laplace LLR, deterministic top-K tiebreak."""
    df, (weights, prior) = fitted
    con = duck()
    con.register("train", df.toPandas())
    oracle = con.sql(_fit_sql(64, 2)).df()
    assert [(r.token, r.w) for r in oracle.itertuples()] == [
        (t, pytest.approx(w, abs=1e-6)) for t, w in weights
    ]
    # prior: ln((8+1)/(6+1))
    import math

    assert prior == round(math.log(9 / 7), 6)
    # refit is bit-identical (counting, no RNG)
    w2, p2 = fit_doc_nb(df, vocab_k=64, min_count=2)
    assert w2 == weights and p2 == prior


def test_score_matches_duckdb_twin(spark, fitted):
    """Arrow scorer vs a DuckDB twin joining the SAME frozen weights —
    the driver-comparator contract (sorted columns, 4dp floats)."""
    df, (weights, prior) = fitted
    scored = df.select(
        "doc_id", doc_nb_score(F.col("text"), weights, prior).alias("score")
    )
    con = duck()
    con.register("train", df.toPandas())
    vals = ", ".join(f"('{t}', {w!r})" for t, w in weights)
    sql = f"""
        WITH w(t, wt) AS (VALUES {vals}),
        toks AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
            FROM train
        ),
        tk AS (SELECT doc_id, t FROM toks WHERE t <> ''),
        s AS (
            SELECT tk.doc_id, SUM(COALESCE(w.wt, 0.0)) AS total,
                   COUNT(*) AS n
            FROM tk LEFT JOIN w ON tk.t = w.t GROUP BY tk.doc_id
        )
        SELECT doc_id, ROUND(total / GREATEST(n, 1) + {prior!r}, 4) AS score
        FROM s ORDER BY doc_id
    """
    assert_parity(scored, con, sql)


def test_fast_path_equals_column_reference(spark, fitted):
    df, (weights, prior) = fitted
    extra = spark.createDataFrame(
        pd.DataFrame(
            [(1, HELD_GOOD), (2, HELD_JUNK), (3, ""), (4, None)],
            columns=["doc_id", "text"],
        )
    )
    both = df.select("doc_id", "text").unionByName(extra).select(
        "doc_id",
        ref.doc_nb_score(F.col("text"), weights, prior).alias("ref"),
        doc_nb_score(F.col("text"), weights, prior).alias("kernel"),
    )
    rows = both.collect()
    for r in rows:
        assert r["ref"] == r["kernel"], (r["doc_id"], r["ref"], r["kernel"])


def test_classifier_separates_held_out(spark, fitted):
    """Held-out documents (never seen in the fit) score on the right side
    of zero, and the gate keeps/drops accordingly."""
    df, (weights, prior) = fitted
    held = spark.createDataFrame(
        pd.DataFrame(
            [(1, HELD_GOOD), (2, HELD_JUNK)], columns=["doc_id", "text"]
        )
    )
    scores = {
        r["doc_id"]: r["s"]
        for r in held.select(
            "doc_id", doc_nb_score(F.col("text"), weights, prior).alias("s")
        ).collect()
    }
    assert scores[1] > 0 > scores[2]
    kept = doc_nb_keep(held, weights, prior)
    assert [r["doc_id"] for r in kept.collect()] == [1]
    # the Column reference's gate agrees
    kept_ref = held.filter(ref.doc_nb_score(F.col("text"), weights, prior) >= 0.0)
    assert [r["doc_id"] for r in kept_ref.collect()] == [1]


def test_batch_cli_nb_gate(spark, tmp_path, fitted):
    """jobs/curate.py --nb-train: fit on the labeled parquet, gate the
    corpus; --streaming rejects the stage loudly (the fit is a batch
    decision)."""
    import pytest as _pytest

    from jobs.curate import main

    df, _ = fitted
    train = str(tmp_path / "train")
    df.write.parquet(train)
    src, tbl = str(tmp_path / "src"), str(tmp_path / "tbl")
    spark.createDataFrame(
        pd.DataFrame(
            [(1, HELD_GOOD), (2, HELD_JUNK)], columns=["doc_id", "text"]
        )
    ).write.parquet(src)
    main([
        "--source", src, "--table", tbl,
        "--nb-train", train, "--nb-threshold", "0.0",
    ])
    from invoice_extraction_spark.sources.atomic import read_table

    assert [r["doc_id"] for r in read_table(spark, tbl).collect()] == [1]
    with _pytest.raises(SystemExit):
        main([
            "--source", src, "--table", str(tmp_path / "t2"),
            "--streaming", "--index-root", str(tmp_path / "i2"),
            "--checkpoint", str(tmp_path / "c2"),
            "--nb-train", train,
        ])


def test_frozen_model_roundtrip_and_streaming_gate(spark, tmp_path, fitted):
    """save_doc_nb/load_doc_nb round-trip exactly; a frozen model gates a
    curation STREAM as a stateless map-only stage (--nb-weights), and the
    batch CLI can freeze a fit with --nb-save then reuse it."""
    from invoice_extraction_spark.operators.doc_quality import (
        load_doc_nb,
        save_doc_nb,
    )
    from invoice_extraction_spark.sources.atomic import read_table
    from invoice_extraction_spark.streaming.curate_stream import (
        run_curate_stream,
    )

    df, (weights, prior) = fitted
    model = str(tmp_path / "nb.json")
    save_doc_nb(model, weights, prior)
    assert load_doc_nb(model) == (weights, prior)

    src = str(tmp_path / "src")
    spark.createDataFrame(
        pd.DataFrame(
            [("u1", HELD_GOOD), ("u2", HELD_JUNK)], columns=["url", "text"]
        )
    ).coalesce(1).write.parquet(src)
    tbl = str(tmp_path / "tbl")
    run_curate_stream(
        spark, src, tbl, str(tmp_path / "idx"), str(tmp_path / "ckpt"),
        nb_weights_path=model, exact=False,
    )
    assert [r["url"] for r in read_table(spark, tbl).collect()] == ["u1"]

    # batch CLI: freeze with --nb-save, reuse with --nb-weights
    from jobs.curate import main

    train = str(tmp_path / "train")
    df.write.parquet(train)
    model2 = str(tmp_path / "nb2.json")
    main([
        "--source", src, "--table", str(tmp_path / "t2"),
        "--id-col", "url",
        "--nb-train", train, "--nb-save", model2,
    ])
    assert load_doc_nb(model2) == (weights, prior)
    main([
        "--source", src, "--table", str(tmp_path / "t3"),
        "--id-col", "url",
        "--nb-weights", model2,
    ])
    assert [
        r["url"] for r in read_table(spark, str(tmp_path / "t3")).collect()
    ] == ["u1"]


def test_vocab_bounds_and_oov(spark, fitted):
    df, (weights, prior) = fitted
    assert len(weights) <= 64
    # min_count honored: every vocab token occurs >= 2 times in the corpus
    counts: dict[str, int] = {}
    for t in GOOD + JUNK:
        for w in t.lower().split():
            counts[w] = counts.get(w, 0) + 1
    assert all(counts[t] >= 2 for t, _ in weights)
    # a fully-OOV document scores exactly the prior
    oov = spark.createDataFrame(
        pd.DataFrame([(1, "zzz qqq xxx")], columns=["doc_id", "text"])
    )
    got = oov.select(
        doc_nb_score(F.col("text"), weights, prior).alias("s")
    ).collect()[0]["s"]
    assert got == round(prior, 4)
    # tight vocab_k truncates deterministically (top-K by count desc, token asc)
    w8, _ = fit_doc_nb(df, vocab_k=8, min_count=2)
    top8 = sorted(
        sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
    )
    assert [t for t, _ in w8] == [t for t, _ in top8]
