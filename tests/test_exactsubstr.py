"""Exact-substring (suffix-array-equivalent) tier: spans + cut."""

from __future__ import annotations

import re

import pytest


def _norm(t: str) -> str:
    # unicode word class, mirroring operators/exactsubstr.py::_NORM_PY
    return re.sub(r"[\W_]+", " ", (t or "").lower()).strip()


def _brute_spans(docs: list[tuple[int, str]], L: int) -> list[tuple[int, int, int]]:
    """Reference formulation over the gram STRINGS (no hashes): mark every
    (id, p) whose L-gram occurs at >= 2 sites, excluding the global first
    occurrence per gram; merge marked positions into maximal spans."""
    occ: dict[str, list[tuple[int, int]]] = {}
    for id_, t in docs:
        s = _norm(t)
        for p in range(1, len(s) - L + 2):
            occ.setdefault(s[p - 1 : p - 1 + L], []).append((id_, p))
    marked: dict[int, list[int]] = {}
    for sites in occ.values():
        if len(sites) < 2:
            continue
        for id_, p in sorted(sites)[1:]:
            marked.setdefault(id_, []).append(p)
    out = []
    for id_, ps in marked.items():
        ps = sorted(set(ps))
        start = prev = ps[0]
        for p in ps[1:]:
            if p - prev > L:
                out.append((id_, start, prev + L))
                start = p
            prev = p
        out.append((id_, start, prev + L))
    return sorted(out)


def _spans(spark, rows: list[tuple[int, str]], L: int):
    from biocurator_mapper_spark.operators.exactsubstr import exact_substring_spans

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = exact_substring_spans(df, "doc_id", "text", length=L)
    return sorted(tuple(r) for r in got.collect())


def test_planted_passage_found_maximally(spark):
    # doc 2 lifts a ~130-char passage from doc 1: the LATER copy is cut,
    # maximally (one span covering the whole run), the original kept.
    # NOT periodic — a repeated phrase would plant self-repeats in doc 1.
    passage = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green bottles stand quietly on the old stone wall near the river"
    )
    a = "unique preamble alpha " + passage + " unique tail omega"
    b = "totally different beginning here " + passage + " and a different end"
    got = _spans(spark, [(1, a), (2, b)], L=50)
    assert got == _brute_spans([(1, a), (2, b)], 50)
    assert {r[0] for r in got} == {2}
    (only,) = got
    run = _norm(passage).strip()
    nb = _norm(b)
    assert nb[only[1] - 1 : only[2] - 1].strip().startswith(run[:50])
    # the span covers the full shared run, not just one gram
    assert only[2] - only[1] >= len(run)


def test_cjk_passage_found_and_cut(spark):
    # the r6 Latin-only normalization collapsed CJK text to near-empty
    # strings and silently skipped dedup; the unicode word class dedups it
    # for real, with L measured in CODEPOINTS.
    passage = "吾輩は猫である名前はまだ無いどこで生れたかとんと見当がつかぬ何でも薄暗いじめじめした所でニャーニャー泣いていた"
    assert len(passage) >= 30
    a = "第一の文書 " + passage + " 独自の結末"
    b = "まったく別の書き出し、" + passage + "。そして別の終わり"
    rows = [(1, a), (2, b)]
    got = _spans(spark, rows, L=30)
    assert got == _brute_spans(rows, 30)
    assert got and {r[0] for r in got} == {2}
    # cut removes the lifted passage from the LATER doc only
    from biocurator_mapper_spark.operators.exactsubstr import (
        cut_spans_by_range,
        exact_substring_spans,
    )

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = exact_substring_spans(df, "doc_id", "text", length=30)
    cut = {
        r.doc_id: r
        for r in cut_spans_by_range(df, spans, "doc_id", "text").collect()
    }
    assert cut[1].n_cut_chars == 0 and passage in cut[1].text_cut
    assert cut[2].n_cut_chars > 0 and passage not in cut[2].text_cut


def test_mixed_script_normalization_parity(spark):
    # accents, CJK, and punctuation normalize identically in the Spark
    # expression twin and the Python kernel's collapse regex
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.operators.exactsubstr import _norm_col

    samples = [
        "Café au lait — déjà vu!",
        "Ελληνικά κείμενα, και αριθμοί 123",
        "日本語テキスト、句読点。English mixed_in",
        "under_score and «guillemets»",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "text string")
    got = [r.s for r in df.select(_norm_col(F.col("text")).alias("s")).collect()]
    assert got == [_norm(s) for s in samples]


def test_brute_force_differential_random(spark):
    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    shared = " ".join(rng.choice(words) for _ in range(12))
    docs = []
    for i in range(12):
        body = " ".join(rng.choice(words) for _ in range(rng.randint(5, 40)))
        if i % 3 == 0:
            body = body + " " + shared + " " + body[: rng.randint(0, 20)]
        docs.append((i, body))
    L = 30
    assert _spans(spark, docs, L) == _brute_spans(docs, L)


def test_self_repeat_within_one_doc(spark):
    chunk = "zebra yak xylophone walrus vulture unicorn tapir seal " * 2
    doc = chunk + " middle filler words go here " + chunk
    got = _spans(spark, [(5, doc)], L=50)
    assert got == _brute_spans([(5, doc)], 50)
    assert got and all(r[0] == 5 for r in got)


def test_short_docs_and_nulls_yield_nothing(spark):
    got = _spans(spark, [(1, "tiny"), (2, None), (3, "x" * 49)], L=50)
    # 49 equal chars < L: no gram exists in doc 3 at all
    assert got == []


def test_cut_round_trip_and_no_span_passthrough(spark):
    from biocurator_mapper_spark.operators.exactsubstr import (
        cut_spans_by_range,
        exact_substring_spans,
    )

    passage = "shared sentence that is certainly long enough to cross the fifty character line"
    passage2 = "a second boilerplate footer which also runs past the fifty character mark"
    rows = [
        (1, "first doc keeps " + passage),
        (2, passage + " second doc loses it"),
        (3, "untouched bystander"),
        (4, "fourth doc keeps " + passage2),
        (5, passage + " fifth doc loses both " + passage2),  # two spans
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = exact_substring_spans(df, "doc_id", "text", length=50)
    cut = {
        r["doc_id"]: (r["text_cut"], r["n_cut_chars"])
        for r in cut_spans_by_range(df, spans, "doc_id", "text").collect()
    }
    assert cut[3] == (_norm(rows[2][1]), 0)
    assert cut[1] == (_norm(rows[0][1]), 0)  # first occurrence kept
    t2, n2 = cut[2]
    assert n2 > 0 and _norm(passage)[:50] not in t2
    assert "second doc loses it" in t2
    # removed chars accounted: original length = kept + cut (+/- the
    # collapse of the single joining space)
    assert abs(len(_norm(rows[1][1])) - (len(t2) + n2)) <= 2
    assert cut[4] == (_norm(rows[3][1]), 0)
    t5, n5 = cut[5]
    assert t5 == "fifth doc loses both"
    assert n5 >= len(_norm(passage)) + len(_norm(passage2))
    assert abs(len(_norm(rows[4][1])) - (len(t5) + n5)) <= 4


def test_string_ids_supported(spark):
    passage = "string keyed documents also share this quite long duplicated run of text"
    rows = [("u-b", "x " + passage), ("u-a", passage + " y")]
    from biocurator_mapper_spark.operators.exactsubstr import exact_substring_spans

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(tuple(r) for r in exact_substring_spans(df, "doc_id", "text", length=50).collect())
    assert got == _brute_spans(rows, 50)  # min (id, p) is 'u-a': 'u-b' is cut


def test_position_relation_plan_shape(spark):
    """One MapInPandas crossing, no row-at-a-time Python; the duplicated-
    gram agg and the marked join share the position exchange (positions
    cross the wire once — ReusedExchange or RDD-level stage skip)."""
    from biocurator_mapper_spark.operators.exactsubstr import exact_substring_spans

    rows = [
        (i, f"padding {i} " + "shared tail that is long enough to matter here")
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = exact_substring_spans(df, "doc_id", "text", length=30)
    out.collect()
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("MapInPandas") == 1
    assert "ReusedExchange" in plan, "position exchange must be shared"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_spans_match_batch_restriction(spark):
    """Monotone ingestion: incremental spans over the increment equal the
    batch tier's spans restricted to the increment docs — exactly."""
    import random

    from biocurator_mapper_spark.operators.exactsubstr import (
        exact_substring_spans,
        gram_state,
        incremental_substring_spans,
    )

    rng = random.Random(13)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    shared = " ".join(rng.choice(words) for _ in range(12))
    docs = []
    for i in range(16):
        body = " ".join(rng.choice(words) for _ in range(rng.randint(5, 40)))
        if i % 3 == 0:
            body = body + " " + shared
        if i % 7 == 0:
            body = shared + " " + body  # shared run in BOTH halves
        docs.append((i, body))
    L = 30
    stored_rows, new_rows = docs[:8], docs[8:]
    stored = spark.createDataFrame(stored_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    state = gram_state(stored, "doc_id", "text", length=L)

    inc = sorted(
        tuple(r)
        for r in incremental_substring_spans(
            new, state, "doc_id", "text", length=L
        ).collect()
    )
    full = spark.createDataFrame(docs, ["doc_id", "text"])
    batch = sorted(
        tuple(r)
        for r in exact_substring_spans(full, "doc_id", "text", length=L)
        .where("doc_id >= 8")
        .collect()
    )
    assert inc == batch and inc  # non-trivial: cross-half runs exist


def test_incremental_state_in_catalog_two_increments(spark, tmp_path):
    """State persisted via keyed MERGE: two sequential increments against
    the stored gram keys reproduce the batch restriction per increment;
    re-merging an increment's grams is idempotent."""
    from biocurator_mapper_spark.operators.exactsubstr import (
        exact_substring_spans,
        gram_state,
        incremental_substring_spans,
    )
    from biocurator_mapper_spark.sources.catalog import ParquetCatalog

    passage = (
        "winnowing selects one anchor per window of consecutive hashes "
        "guaranteeing shared long runs collide"
    )
    base = [(i, f"unique filler {i} with some words") for i in range(4)]
    docs = base + [
        (4, f"first carrier of the passage {passage} trailing words"),
        (5, f"second carrier {passage} other trailing material"),
        (6, "no repeats here at all just original text"),
        (7, f"third carrier appears late {passage} indeed"),
    ]
    L = 50
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))

    def _ingest(rows):
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        st = (
            cat.read("grams")
            if cat.exists("grams")
            else spark.createDataFrame([], "h1 long, h2 long")
        )
        spans = incremental_substring_spans(df, st, "doc_id", "text", length=L)
        out = sorted(tuple(r) for r in spans.collect())
        new_grams = gram_state(df, "doc_id", "text", length=L)
        if not new_grams.isEmpty():
            cat.merge_upsert(new_grams, "grams", ["h1", "h2"], n_buckets=4)
        return out

    inc1 = _ingest(docs[:5])  # includes the FIRST passage carrier
    inc2 = _ingest(docs[5:])

    full = spark.createDataFrame(docs, ["doc_id", "text"])
    batch = exact_substring_spans(full, "doc_id", "text", length=L)
    b1 = sorted(tuple(r) for r in batch.where("doc_id < 5").collect())
    b2 = sorted(tuple(r) for r in batch.where("doc_id >= 5").collect())
    assert inc1 == b1 == []  # first carrier is the kept copy
    assert inc2 == b2 and len(inc2) == 2  # docs 5 and 7 cut

    # replaying increment 2's state merge is a content no-op
    v_before = cat.read("grams").count()
    cat.merge_upsert(
        gram_state(
            spark.createDataFrame(docs[5:], ["doc_id", "text"]),
            "doc_id", "text", length=L,
        ),
        "grams", ["h1", "h2"], n_buckets=4,
    )
    assert cat.read("grams").count() == v_before
