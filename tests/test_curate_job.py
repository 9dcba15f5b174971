"""jobs/curate.py end-to-end: the full curation chain over a corpus with
planted duplicates and benchmark contamination, committed atomically."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from invoice_extraction_spark.sources.atomic import read_table


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("curate")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # plant an exact duplicate pair (doc 9001 == doc 5's text) and keep it
    # non-empty so the dup survives the quality gate to be caught by dedup
    src = docs.filter("length(text) > 50")
    dup = src.filter("doc_id = 5").withColumn("doc_id", F.lit(9001))
    out = str(base / "docs.parquet")
    src.unionByName(dup).write.parquet(out)
    return out


@pytest.fixture(scope="module")
def bench_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bench")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(base / "bench.parquet")
    docs.filter("doc_id = 17").select("text").write.parquet(out)
    return out


def test_curate_chain(spark, corpus_dir, bench_dir, tmp_path, capsys):
    from jobs.curate import main

    tbl = str(tmp_path / "curated")
    main(
        [
            "--source", corpus_dir,
            "--table", tbl,
            "--exact-dedup",
            "--min-quality", "0.05",
            "--repetition-gate",
            "--bench", bench_dir,
            "--mixture", "src0=0.5",
            "--pack-budget", "256",
        ]
    )
    printed = capsys.readouterr().out
    assert "stage input:" in printed and "committed run_id=" in printed

    got = read_table(spark, tbl)
    ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    # exact dedup kept ONE of the planted pair (min id wins)
    assert 5 in ids and 9001 not in ids
    # decontamination dropped the benchmark-verbatim doc
    assert 17 not in ids
    # packing columns landed
    assert {"pack_id", "pack_seq", "pack_offset", "n_tokens"} <= set(got.columns)
    # packs respect the greedy-overflow invariant: offset < budget always
    assert got.filter("pack_offset >= 256").count() == 0
    # mixture applied to src0 only: fewer src0 docs than input, others intact
    src_counts = {
        r["source"]: r["n"]
        for r in got.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    in_counts = {
        r["source"]: r["n"]
        for r in spark.read.parquet(corpus_dir)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert src_counts.get("src0", 0) < in_counts["src0"]


def test_stage_counts_monotone(spark, corpus_dir, tmp_path, capsys):
    from jobs.curate import main

    tbl = str(tmp_path / "curated2")
    main(
        [
            "--source", corpus_dir,
            "--table", tbl,
            "--exact-dedup",
            "--near-dedup",
            "--min-quality", "0.05",
        ]
    )
    printed = capsys.readouterr().out
    counts = [
        int(line.split(":")[1].split()[0])
        for line in printed.splitlines()
        if line.startswith("stage ")
    ]
    assert len(counts) == 4  # input, exact, near, quality
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert counts[0] > counts[1]  # the planted dup actually fell out


def test_line_dedup_stage(spark, tmp_path, capsys):
    """--line-dedup rewrites text, removing corpus-wide chrome lines."""
    import pandas as pd

    from jobs.curate import main

    chrome = "Accept cookies to continue"
    rows = [(i, f"{chrome}\nunique paragraph {i} words here") for i in range(5)]
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])).write.parquet(src)

    tbl = str(tmp_path / "curated")
    main(["--source", src, "--table", tbl, "--line-dedup", "3"])
    capsys.readouterr()
    got = {r["doc_id"]: r["text"] for r in read_table(spark, tbl).collect()}
    assert len(got) == 5
    assert all(chrome not in t for t in got.values())
    assert got[2] == "unique paragraph 2 words here"


def test_fix_text_stage(spark, tmp_path, capsys):
    """--fix-text repairs mojibake before the quality gates."""
    import pandas as pd

    from jobs.curate import main

    rows = [(1, "CafÃ© rÃ©sumÃ© needs fixing here"), (2, "already clean words here")]
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])).write.parquet(src)
    tbl = str(tmp_path / "out")
    main(["--source", src, "--table", tbl, "--fix-text"])
    capsys.readouterr()
    got = {r["doc_id"]: r["text"] for r in read_table(spark, tbl).collect()}
    assert got[1] == "Café résumé needs fixing here"
    assert got[2] == "already clean words here"


def _stage_counts(printed: str) -> dict[str, int]:
    return {
        line.split(":")[0][len("stage "):]: int(line.split(":")[1].split()[0])
        for line in printed.splitlines()
        if line.startswith("stage ")
    }


def _edge_tables():
    import random

    rng = random.Random(3)
    words = "alpha beta gamma delta eps zeta eta theta iota kappa".split()
    base = " ".join(rng.choice(words) for _ in range(40))
    return {
        "all_unique": [
            (i, f"doc {i} " + " ".join(rng.choice(words) for _ in range(30)))
            for i in range(60)
        ],
        "one_doc": [(1, "just one document here")],
        "identical": [(i, base) for i in range(50)],
        "null_empty_short": [
            (0, None), (1, ""), (2, "a"), (3, "a b"), (4, None), (5, ""), (6, "a b"), (7, "x y z"),
        ],
        "random_short": [
            (i, " ".join(rng.choice(words[:3]) for _ in range(rng.randint(1, 4))))
            for i in range(80)
        ],
        "near_copies": [(i, base + (" " + words[i % 10]) * (i % 3)) for i in range(30)]
        + [
            (100 + i, f"u{i} " + " ".join(rng.choice(words) for _ in range(30)))
            for i in range(30)
        ],
        # more near-copies (low ids) than unique docs (high ids): a copy of
        # exact_dedup read by a sort-merge semi join stops at the last
        # candidate id in each partition and counts about the 40 near-copies,
        # still above near_dedup's 12
        "low_copies": [(i, (base if i % 2 else base[::-1]) + f" w{i}") for i in range(40)]
        + [
            (1000 + i, f"u{i} " + " ".join(rng.choice(words) for _ in range(30)))
            for i in range(10)
        ],
    }


@pytest.fixture(scope="module")
def edge_dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("edge")
    out = {}
    for name, rows in _edge_tables().items():
        out[name] = str(base / name)
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(out[name])
    return out


def _counted(spark, src):
    """What persisting and counting each stage gives."""
    from invoice_extraction_spark.operators.dedup import dedup_exact, dedup_near

    df = spark.read.parquet(src)
    return {
        "input": df.count(),
        "exact_dedup": dedup_exact(df).count(),
        "near_dedup": dedup_near(df).count(),
    }


@pytest.mark.parametrize(
    "table",
    ["all_unique", "one_doc", "identical", "null_empty_short", "random_short", "near_copies", "low_copies"],
)
def test_observed_counts_equal_counted(spark, edge_dirs, tmp_path, capsys, table):
    """Stage counts come from row counts the commit's write fills and equal
    what persisting and counting each stage gives."""
    from jobs.curate import main

    tbl = str(tmp_path / "t")
    main(["--source", edge_dirs[table], "--table", tbl, "--exact-dedup", "--near-dedup"])
    out = capsys.readouterr()
    assert _stage_counts(out.out) == _counted(spark, edge_dirs[table])
    assert "recounting" not in out.err  # every count was observed


def test_observed_counts_under_sort_merge_joins(spark, edge_dirs, tmp_path, capsys):
    """With sort-merge joins a stage frame read by a semi join in the same
    task is pulled only in part, so that copy of its count is short (on
    low_copies by more than near_dedup's floor); the counts come from the
    copies the write read in full, so none is recounted."""
    from jobs.curate import main

    keys = ["spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold"]
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        for table in ("all_unique", "near_copies", "low_copies"):
            tbl = str(tmp_path / table)
            main(["--source", edge_dirs[table], "--table", tbl, "--exact-dedup", "--near-dedup"])
            out = capsys.readouterr()
            assert _stage_counts(out.out) == _counted(spark, edge_dirs[table]), table
            assert "recounting" not in out.err
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_observed_counts_with_lm_gate(spark, corpus_dir, tmp_path, capsys):
    """The LM gate runs its own actions over the stage frames before the
    commit; the counts still equal what counting each stage gives."""
    from jobs.curate import main
    from invoice_extraction_spark.operators.dedup import dedup_exact
    from invoice_extraction_spark.operators.lm_score import fit_unigram_lm, lm_quality

    df = spark.read.parquet(corpus_dir)
    exact = dedup_exact(df)
    lm = fit_unigram_lm(exact, fit_fraction=0.5)
    ppl = lm_quality(exact, lm, id_col="doc_id")
    cut = sorted(r["pseudo_perplexity"] for r in ppl.collect())[ppl.count() // 2]
    expected = {
        "input": df.count(),
        "exact_dedup": exact.count(),
        "lm_gate": ppl.filter(F.col("pseudo_perplexity") <= cut).count(),
    }
    assert 0 < expected["lm_gate"] < expected["exact_dedup"]
    main(
        [
            "--source", corpus_dir,
            "--table", str(tmp_path / "t"),
            "--exact-dedup",
            "--max-pseudo-ppl", str(cut),
            "--lm-fit-fraction", "0.5",
        ]
    )
    out = capsys.readouterr()
    assert _stage_counts(out.out) == expected
    assert "recounting" not in out.err


def test_gate_dropping_every_doc_recounts(spark, corpus_dir, tmp_path, capsys):
    """When the LM gate keeps nothing, adaptive execution drops the write's
    upstream branch, so no copy of the earlier stages is read in full: the
    run finishes, recounts them (saying so on stderr) and prints the same
    numbers as counting each stage."""
    from jobs.curate import main
    from invoice_extraction_spark.operators.dedup import dedup_exact

    df = spark.read.parquet(corpus_dir)
    tbl = str(tmp_path / "t")
    main(["--source", corpus_dir, "--table", tbl, "--exact-dedup", "--max-pseudo-ppl", "0"])
    out = capsys.readouterr()
    assert _stage_counts(out.out) == {
        "input": df.count(),
        "exact_dedup": dedup_exact(df).count(),
        "lm_gate": 0,
    }
    assert "stage exact_dedup: not read in full by the commit; recounting" in out.err
    assert out.out.rstrip().endswith("rows=0")
    # the zero-row commit is a snapshot: it reads back empty, with the schema
    back = read_table(spark, tbl)
    assert back.count() == 0 and "text" in back.columns


def test_curate_run_job_count(spark, corpus_dir, tmp_path, capsys):
    """Counting costs no Spark job: one --exact-dedup --near-dedup run is
    the commit's own jobs (19 here; persisting and counting every stage
    ran 31 on this table)."""
    from jobs.curate import main

    sc = spark.sparkContext
    group = f"curate-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "job count of one curation run")
    try:
        main(["--source", corpus_dir, "--table", str(tmp_path / "t"), "--exact-dedup", "--near-dedup"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert "stage near_dedup:" in capsys.readouterr().out
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 20, n_jobs
