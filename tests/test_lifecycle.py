"""Full-lifecycle integration: the four spark-submit surfaces compose on
disk artifacts — corpus -> extract (with compliance + dedup gates) ->
curate (quality chain + packing) -> export (sharded JSONL) + datacard."""

import gzip
import json
import os

import pytest

from invoice_extraction_spark.corpus import pages_pdf, synth_pdf_doc


@pytest.fixture(scope="module")
def base(tmp_path_factory):
    return tmp_path_factory.mktemp("lifecycle")


def test_extract_curate_export_card(spark, base, capsys):
    from jobs.curate import main as curate
    from jobs.datacard import main as datacard
    from jobs.export import main as export
    from jobs.extract import main as extract

    # mixed html + pdf corpus, with a url-variant duplicate planted
    pdf = pages_pdf(24)
    pdocs = [synth_pdf_doc(i) for i in range(8)]
    import pandas as pd

    pdf = pd.concat(
        [
            pdf,
            pd.DataFrame(
                {
                    "url": [d["url"] for d in pdocs],
                    "warc_ts": pd.to_datetime([d["warc_ts"] for d in pdocs]).astype("datetime64[us]"),
                    "html": [d["html"] for d in pdocs],
                    "text": [d["text"] for d in pdocs],
                    "lang": [d["lang"] for d in pdocs],
                }
            ),
        ],
        ignore_index=True,
    )
    dup = pdf.iloc[[0]].copy()
    dup["url"] = dup["url"] + "?utm_source=x"
    pdf = pd.concat([pdf, dup], ignore_index=True)
    src = str(base / "src.parquet")
    spark.createDataFrame(pdf).write.parquet(src)

    # 1) extract: noindex compliance + url dedup + stats, atomic commit
    extracted = str(base / "extracted")
    extract(
        [
            "--source", src,
            "--table", extracted,
            "--url-dedup",
            "--respect-noindex",
            "--stats-cols", "url",
            "--partitions", "4",
        ]
    )

    # 2) curate the extraction output (text col = extracted_text)
    curated = str(base / "curated")
    curate(
        [
            "--source", extracted,  # an atomic table: curate reads the committed snapshot
            "--table", curated,
            "--id-col", "url",
            "--text-col", "extracted_text",
            "--exact-dedup",
            "--min-quality", "0.01",
            "--pack-budget", "512",
            "--stratum-col", "lang",
        ]
    )

    # 3) export shards + 4) datacard, both from the curated snapshot
    exported = str(base / "export")
    export(
        [
            "--table", curated,
            "--out", exported,
            "--columns", "url,extracted_text,pack_id",
            "--shard-by", "pack_id",
            "--shards", "4",
            "--compress", "gzip",
        ]
    )
    card_dir = str(base / "card")
    datacard(
        ["--table", curated, "--out", card_dir, "--text-col", "extracted_text", "--id-col", "url", "--stratum-col", "lang"]
    )
    out = capsys.readouterr().out
    assert "committed run_id=" in out and "exported" in out and "card:" in out

    rows = []
    for f in os.listdir(exported):
        if f.startswith("part-") and f.endswith(".gz"):
            with gzip.open(os.path.join(exported, f), "rt") as fh:
                rows.extend(json.loads(ln) for ln in fh if ln.strip())
    card = json.load(open(os.path.join(card_dir, "datacard.json")))

    # the url-variant dup is gone; html AND pdf docs made it end to end
    urls = {r["url"] for r in rows}
    assert not any("utm_source" in u for u in urls)
    assert any(u.endswith(".pdf") for u in urls)
    assert any(u.endswith(".html") for u in urls)
    # export, card, and curated snapshot agree on the corpus size
    assert card["n_docs"] == len(rows) > 0
    assert all(r["pack_id"] for r in rows)
