"""Resolver (interactive path parity with the reference endpoint) + CLI."""

from __future__ import annotations

import json

from biocurator_mapper_spark.pipeline.resolve import Resolver


def test_resolve_flagship_passage(spark, terms):
    r = Resolver(terms, k=5)
    out = r.resolve("apoptosis of T cells")
    # README flagship: the passage resolves to the apoptotic process term
    assert out["best_match"]["id"] == "GO:0006915"
    assert out["confidence"] > 0.5
    assert "error" not in out
    assert len(out["alternatives"]) == 4
    assert all(a["id"] != "GO:0006915" for a in out["alternatives"])


def test_resolve_exact_name_beats_similarity(spark, terms):
    r = Resolver(terms, k=5)
    out = r.resolve("Patient diagnosed with angiosarcoma in 2025.")
    assert out["best_match"]["id"] == "DOID:0001816"
    assert "exact surface match" in out["reason"]


def test_resolve_no_surface_still_answers(spark, terms):
    # no dictionary surface at all — the reference still returns the vector
    # top-k best pick (no mention gate on the interactive path)
    r = Resolver(terms, k=5)
    out = r.resolve("the cell died in a programmed manner")
    assert "best_match" in out and out["confidence"] > 0
    assert len(out["alternatives"]) == 4


def test_resolve_empty_ontology_errors(spark, terms):
    empty = terms.where("term_id = 'nope'")
    r = Resolver(empty)
    assert r.resolve("anything") == {"error": "No candidates provided"}


def test_cli_curate(spark, tmp_path, monkeypatch):
    """`bcms curate` runs the funnel end-to-end: curated parquet written,
    funnel JSON on stdout, kept rows = batch curate survivors."""
    import io
    import json as _json
    from contextlib import redirect_stdout

    import biocurator_mapper_spark.cli as cli
    from pyspark.sql import functions as F

    monkeypatch.setattr(cli, "_spark", lambda: spark)
    src = str(tmp_path / "docs")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").write.parquet(src)
    out_dir = str(tmp_path / "curated")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(["curate", src, "--out", out_dir, "--near-dup"])
    assert rc == 0
    rep = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rep["rows_in"] == 500 and rep["rows_out"] > 0
    assert rep["funnel"].get("kept", 0) >= rep["rows_out"]
    got = spark.read.parquet(out_dir)
    assert got.count() == rep["rows_out"]
    assert got.where(F.length("text") < 80).count() == 0  # gate applied


def test_cli_mix_and_pack(spark, tmp_path, monkeypatch):
    """`bcms mix` writes a temperature sample; `bcms pack` writes a packing
    manifest whose sequence count covers the token total."""
    import io
    import json as _json
    from contextlib import redirect_stdout

    import biocurator_mapper_spark.cli as cli

    monkeypatch.setattr(cli, "_spark", lambda: spark)
    src = str(tmp_path / "docs_mp")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").write.parquet(src)

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(
            ["mix", src, "--out", str(tmp_path / "mixed"),
             "--alpha", "0.5", "--target-rows", "200"]
        )
    assert rc == 0
    rep = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rep["rows_in"] == 500 and 0 < rep["rows_out"] <= 500

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(
            ["pack", src, "--out", str(tmp_path / "packed"), "--ctx-len", "256"]
        )
    assert rc == 0
    rep = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rep["docs"] == 500
    assert rep["n_sequences"] == -(-rep["total_tokens"] // 256) or rep["n_sequences"] >= 1
    got = spark.read.parquet(str(tmp_path / "packed"))
    assert got.count() == 500

    # --bpe-ids: the manifest counts REAL BPE tokens and <out>_sequences
    # holds the materialized ctx-length id windows; both views agree on
    # the corpus token total and all-but-last windows are full
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(
            ["pack", src, "--out", str(tmp_path / "packed_ids"),
             "--ctx-len", "256", "--bpe-ids"]
        )
    assert rc == 0
    rep = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rep["sequences"] == str(tmp_path / "packed_ids") + "_sequences"
    seqs = sorted(
        spark.read.parquet(rep["sequences"]).collect(), key=lambda r: r.seq_id
    )
    assert sum(s.n_tokens for s in seqs) == rep["total_tokens"] > 0
    assert all(len(s.seq_ids) == s.n_tokens for s in seqs)
    assert all(s.n_tokens == 256 for s in seqs[:-1])
    assert rep["n_sequences"] == len(seqs)


def test_cli_plan_and_quality_buckets(spark, tmp_path, monkeypatch):
    """`bcms plan` prints the integer epoch plan; `bcms curate
    --quality-buckets` applies the CCNet bucket policy."""
    import io
    import json as _json
    from contextlib import redirect_stdout

    import biocurator_mapper_spark.cli as cli

    monkeypatch.setattr(cli, "_spark", lambda: spark)
    src = str(tmp_path / "docs_plan")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").write.parquet(src)

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(
            ["plan", src, "--weights", "src0=3,src1=1,ghost=1",
             "--token-budget", "100000"]
        )
    assert rc == 0
    rep = _json.loads(buf.getvalue().strip().splitlines()[-1])
    plan = {r["source"]: r for r in rep["plan"]}
    assert plan["src0"]["target_tokens"] == 100000 * 3 // 5
    assert plan["ghost"]["n_tokens"] == 0  # weighted-but-missing: loud row
    # integer identity: target = epochs * n_tokens + remainder
    for r in rep["plan"]:
        if r["n_tokens"]:
            assert (
                r["full_epochs"] * r["n_tokens"] + r["remainder_tokens"]
                == r["target_tokens"]
            )

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(
            ["curate", src, "--out", str(tmp_path / "cur_qb"),
             "--quality-buckets", "3", "--keep-buckets", "1,2"]
        )
    assert rc == 0
    rep = _json.loads(buf.getvalue().strip().splitlines()[-1])
    out = spark.read.parquet(str(tmp_path / "cur_qb"))
    # tail tier dropped: strictly fewer rows than the gate survivors, and
    # roughly two thirds of them (per-stratum ntile thirds)
    assert 0 < rep["rows_out"] == out.count()
    assert rep["rows_out"] <= rep["funnel"]["kept"]
    assert rep["rows_out"] >= rep["funnel"]["kept"] // 2


def test_cli_curate_paragraph_dedup_flag(spark, tmp_path, monkeypatch):
    """--paragraph-dedup rewrites text before the funnel: corpus-wide
    repeated paragraphs disappear from the curated output."""
    import biocurator_mapper_spark.cli as cli
    from pyspark.sql import functions as F

    monkeypatch.setattr(cli, "_spark", lambda: spark)
    boiler = "all rights reserved contact us for details about this website"
    body = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (i, f"{body} {i}\n{boiler}", "en", "s", 100) for i in range(10)
    ]
    src = str(tmp_path / "docs_pd")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(src)
    out_dir = str(tmp_path / "curated_pd")
    rc = cli.main(
        ["curate", src, "--out", out_dir, "--paragraph-dedup",
         "--id-col", "doc_id"]
    )
    assert rc == 0
    got = spark.read.parquet(out_dir)
    n_boiler = got.where(F.col("text").contains("rights reserved")).count()
    assert n_boiler == 1  # only the first occurrence's doc keeps it
    assert got.count() >= 1


def test_cli_curate_exactsubstr_cut_flag(spark, tmp_path, monkeypatch):
    """--exactsubstr-cut rewrites text before the gates: a >=50-char
    passage lifted verbatim into a later doc is cut from it (first
    occurrence kept); text becomes the normalized cut text."""
    import biocurator_mapper_spark.cli as cli
    from pyspark.sql import functions as F

    monkeypatch.setattr(cli, "_spark", lambda: spark)
    passage = (
        "every byte of this exact passage repeats across both documents "
        "verbatim and is long enough for the tier"
    )
    uniq = [
        "completely different opening material with plenty of original "
        "words keeps this document past every quality gate easily",
        "another unrelated introduction of generous length so the second "
        "document also clears the curation quality gates after cutting",
    ]
    rows = [(i, f"{uniq[i]} {passage}", "en", "s", 200) for i in range(2)]
    src = str(tmp_path / "docs_es")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(src)
    out_dir = str(tmp_path / "curated_es")
    rc = cli.main(
        ["curate", src, "--out", out_dir, "--exactsubstr-cut",
         "--id-col", "doc_id"]
    )
    assert rc == 0
    got = {r.doc_id: r.text for r in spark.read.parquet(out_dir).collect()}
    assert "exact passage repeats" in got[0]  # first occurrence kept
    assert 1 in got and "exact passage repeats" not in got[1]
    assert got[1].startswith("another unrelated introduction")


def test_cli_ingest_resolve_status(spark, tmp_path, monkeypatch):
    # run CLI mains in-process against a temp warehouse (reusing the session)
    import biocurator_mapper_spark.cli as cli
    import json as _json

    from biocurator_mapper_spark.testdata import comprehensive_obo_graph

    monkeypatch.setattr(cli, "_spark", lambda: spark)
    src = tmp_path / "onto.json"
    src.write_text(_json.dumps(comprehensive_obo_graph()))
    wh = str(tmp_path / "wh")

    import io
    from contextlib import redirect_stdout

    def run(argv):
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = cli.main(argv)
        return rc, buf.getvalue()

    rc, out = run(["--warehouse", wh, "ingest", str(src), "--ontology", "doid"])
    assert rc == 0
    assert json.loads(out)["n_terms"] == 9 and json.loads(out)["rebuilt"]

    rc, out = run(["--warehouse", wh, "ingest", str(src), "--ontology", "doid"])
    assert not json.loads(out)["rebuilt"]  # version gate skips

    rc, out = run(["--warehouse", wh, "resolve", "hemangiosarcoma was found", "--ontology", "doid"])
    assert json.loads(out)["best_match"]["id"] == "DOID:0001816"

    rc, out = run(["--warehouse", wh, "embed", "--ontology", "doid"])
    assert rc == 0 and json.loads(out)["embedded"] > 0

    rc, out = run(["--warehouse", wh, "status"])
    assert rc == 0 and "ontology_versions" in json.loads(out)
