"""Unit tests: Aho-Corasick mentions, top-k scoring, LLM reply parsing,
connected components."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from biocurator_mapper_spark.functions.embed import hash_embed_py
from biocurator_mapper_spark.operators import (
    AhoCorasick,
    broadcast_topk,
    brute_force_topk_join,
    build_surface_map,
    canonical_mapping,
    connected_components,
    mention_candidates,
    parse_llm_json,
)


# ------------------------------------------------------------- Aho-Corasick
def test_aho_corasick_basics():
    ac = AhoCorasick(["he", "she", "his", "hers", "apoptosis of t cells"])
    assert ac.find_distinct("ushers") == ["he", "hers", "she"]
    assert ac.find_distinct("HIS and HERS") == ["he", "hers", "his"]
    assert ac.find_distinct("") == []
    assert ac.find_distinct(None) == []
    assert ac.find_distinct("We saw apoptosis of T cells today.") == [
        "apoptosis of t cells"
    ]


def test_aho_corasick_matches_naive_substring():
    import random

    rng = random.Random(0)
    alphabet = "abcd"
    pats = {"".join(rng.choice(alphabet) for _ in range(rng.randint(1, 4))) for _ in range(30)}
    ac = AhoCorasick(sorted(pats))
    for _ in range(50):
        text = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        want = sorted({p for p in pats if p in text})
        assert ac.find_distinct(text) == want, text


def test_mention_candidates(spark, terms, monkeypatch):
    surface_map = build_surface_map(terms)
    pages = spark.createDataFrame(
        [
            ("u1", "Patients with hemangiosarcoma were studied."),
            ("u2", "NIDDM progression and adult-onset diabetes."),
            ("u3", "nothing relevant here"),
        ],
        "url string, extracted_text string",
    )
    got = mention_candidates(pages, surface_map)
    rows = {(r.url, r.mention, r.term_id) for r in got.collect()}
    assert ("u1", "hemangiosarcoma", "DOID:0001816") in rows
    assert ("u2", "niddm", "DOID:9352") in rows
    assert ("u2", "adult-onset diabetes", "DOID:9352") in rows
    assert not any(u == "u3" for (u, _, _) in rows)

    # the two mention engines (codegen `contains` filter up to
    # MENTION_EXPR_MAX_SURFACES surfaces, broadcast automaton past it)
    # agree on non-ASCII case folds, ligatures, quotes, backslashes and
    # null/empty text — and both equal plain-Python substring matching
    from biocurator_mapper_spark.operators import mentions as M

    surfaces = ["İstanbul", "ẞ", "ﬁbrosis", "ΟΔΟΣ", "it's", "a\\b", "hash join"]
    texts = [
        "Trip to İSTANBUL, then the ẞ street",
        "pulmonary ﬁbrosis on the ΟΔΟΣ sign; It's a\\b path",
        "HASH JOIN, no ligature: fibrosis",
        "",
        None,
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, extracted_text string"
    )
    want = {
        i: sorted({s.lower() for s in surfaces if s.lower() in (t or "").lower()})
        for i, t in enumerate(texts)
    }
    assert want[0] and want[1] and want[2]  # the fixture exercises matches
    by_engine = {}
    for engine, limit in (("codegen", len(surfaces)), ("automaton", 0)):
        monkeypatch.setattr(M, "MENTION_EXPR_MAX_SURFACES", limit)
        out = M.with_mentions(docs, surfaces)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("ArrowEvalPython" in plan) == (engine == "automaton")
        by_engine[engine] = {r.doc_id: list(r.mentions) for r in out.collect()}
    assert by_engine["codegen"] == want
    assert by_engine["automaton"] == want


# ------------------------------------------------------------------- top-k
def test_broadcast_topk_agrees_with_brute_force(spark):
    rng = np.random.default_rng(42)
    dim = 16
    corpus = [(f"c{i:03d}", [float(x) for x in rng.standard_normal(dim)]) for i in range(50)]
    queries = [(f"q{i}", [float(x) for x in rng.standard_normal(dim)]) for i in range(7)]
    qdf = spark.createDataFrame(queries, "url string, embedding array<float>")
    cids = [c[0] for c in corpus]
    cmat = np.array([c[1] for c in corpus], dtype=np.float32)

    fast = broadcast_topk(qdf, cids, cmat, k=5)
    fast_rows = {(r.url, r.rank): r.term_id for r in fast.collect()}

    cdf = spark.createDataFrame(corpus, "corpus_id string, c_embedding array<float>")
    slow = brute_force_topk_join(
        qdf.withColumnRenamed("url", "query_id").withColumnRenamed("embedding", "q_embedding"),
        cdf,
        k=5,
    )
    slow_rows = {(r.query_id, r.rank): r.corpus_id for r in slow.collect()}
    assert fast_rows == slow_rows
    assert len(fast_rows) == 7 * 5


def test_topk_zero_vector_query(spark):
    qdf = spark.createDataFrame([("q0", [0.0, 0.0])], "url string, embedding array<float>")
    out = broadcast_topk(qdf, ["a", "b"], np.array([[1, 0], [0, 1]], np.float32), k=2)
    rows = out.collect()
    assert len(rows) == 2  # degrades gracefully, no NaN
    assert all(abs(r.cosine) < 1e-6 for r in rows)


# ------------------------------------------------------- LLM reply parse
def test_parse_llm_json(spark):
    df = spark.createDataFrame(
        [
            ('```json\n{"id": "GO:1", "name": "x", "confidence": 0.9, "reason": "r"}\n```', ["GO:1", "GO:2"]),
            ('{"id": "GO:9", "name": "x", "confidence": 0.9, "reason": "r"}', ["GO:1"]),
            ('{"id": "GO:1", "name": "x"}', ["GO:1"]),
            ("not json at all", ["GO:1"]),
        ],
        "llm_raw string, candidate_ids array<string>",
    )
    rows = parse_llm_json(df).select("llm_result", "llm_error").collect()
    assert rows[0].llm_error is None and rows[0].llm_result.id == "GO:1"
    assert "invalid ID GO:9" in rows[1].llm_error
    assert "missing required keys" in rows[2].llm_error
    assert "missing required keys" in rows[3].llm_error


# ------------------------------------------------- connected components / canon
import pytest


@pytest.mark.parametrize("strategy", ["driver", "distributed"])
def test_connected_components_chain_and_star(spark, strategy):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),  # chain
         ("hub", "x1"), ("hub", "x2"), ("hub", "x3"),  # star
         ("solo1", "solo2")],
        "src string, dst string",
    )
    cc = connected_components(edges, strategy=strategy)
    comp = {r.node: r.component for r in cc.collect()}
    assert comp["a"] == comp["b"] == comp["c"] == comp["d"] == "a"
    assert comp["hub"] == comp["x1"] == comp["x2"] == comp["x3"] == "hub"
    assert comp["solo1"] == comp["solo2"] == "solo1"
    assert len({comp[n] for n in comp}) == 3


def test_clusters_from_pairs_leaves_caller_cache_alone(spark):
    """clusters_from_pairs raises the pairs storage level for its own 2-3
    consumptions, but must NOT unpersist a relation the CALLER persisted —
    the contract memo shares one cached pair relation across queries, and
    dropping it here silently defeated that sharing."""
    from biocurator_mapper_spark.operators.canonicalize import clusters_from_pairs

    base = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")

    shared = pairs.persist()
    shared.count()
    out = clusters_from_pairs(base, shared, "doc_id")
    assert out.count() == 6
    lvl = shared.storageLevel
    assert lvl.useMemory or lvl.useDisk  # caller's cache survives
    shared.unpersist()

    # unpersisted input: the function still works (and manages its own cache)
    out2 = {
        r.doc_id: r.representative_id
        for r in clusters_from_pairs(base, pairs, "doc_id").collect()
    }
    assert out2[2] == 0 and out2[5] == 5


def test_memo_evicts_stopped_sessions():
    """_MEMO entries for dead sessions are purged on the next build (a
    long-lived driver cycling sessions must not pin dead-session objects)."""
    import __spark_entry__ as entrymod

    class _FakeDead:
        @property
        def sparkContext(self):  # touching the JVM of a dead session raises
            raise RuntimeError("stopped")

    dead = _FakeDead()
    entrymod._MEMO[(id(dead), ("x",))] = (dead, "df-sentinel")
    try:
        entrymod._evict_stale_memo(live=object())
        assert (id(dead), ("x",)) not in entrymod._MEMO
    finally:
        entrymod._MEMO.pop((id(dead), ("x",)), None)


def test_connected_components_random_vs_networkx_style(spark):
    # union-find oracle in plain python
    import random

    rng = random.Random(1)
    nodes = [f"n{i:02d}" for i in range(30)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(25)]
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent[find(u)] = find(v)
    groups: dict[str, str] = {}
    for n in nodes:
        groups.setdefault(find(n), min(m for m in nodes if find(m) == find(n)))
    expected = {n: groups[find(n)] for n in nodes if any(n in e for e in edges)}

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r.node: r.component
        for r in connected_components(df, strategy="distributed").collect()
    }
    touched = {n for e in edges for n in e if e[0] != e[1]}
    for n in touched:
        assert got[n] == expected[n], (n, got.get(n), expected[n])


def test_canonical_mapping_shared_xref(spark):
    terms = spark.createDataFrame(
        [
            ("DOID:2", ["MESH:1"]),
            ("DOID:1", ["MESH:1", "OMIM:9"]),  # shares MESH:1 → same component
            ("DOID:3", ["ICD:7"]),
            ("DOID:4", []),  # xref-less → maps to itself
        ],
        "term_id string, cross_references array<string>",
    )
    got = {r.term_id: r.canonical_id for r in canonical_mapping(terms).collect()}
    assert got == {
        "DOID:1": "DOID:1",
        "DOID:2": "DOID:1",
        "DOID:3": "DOID:3",
        "DOID:4": "DOID:4",
    }


# ------------------------------------------------------------- embeddings
def test_hash_embed_deterministic_and_word_sensitive():
    a = hash_embed_py("apoptosis of T cells")
    b = hash_embed_py("apoptosis of T cells")
    c = hash_embed_py("completely different words entirely")
    assert a == b
    assert np.isclose(np.linalg.norm(a), 1.0, atol=1e-5)
    cos_ac = float(np.dot(a, c))
    overlap = hash_embed_py("apoptosis of T cells observed")
    cos_ao = float(np.dot(a, overlap))
    assert cos_ao > cos_ac  # shared words → higher similarity
    assert hash_embed_py("") == [0.0] * 64


def test_stratified_sample_and_cap_deterministic(spark):
    from biocurator_mapper_spark.operators.sampling import (
        cap_per_stratum,
        stratified_sample,
    )
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 4)).alias("source"),
    )
    frac = {"s0": 1.0, "s1": 0.5, "s2": 0.0}
    a = stratified_sample(df, "source", frac, "doc_id", default_fraction=0.25)
    b = stratified_sample(df, "source", frac, "doc_id", default_fraction=0.25)
    ra = {(r.doc_id, r.source) for r in a.collect()}
    assert ra == {(r.doc_id, r.source) for r in b.collect()}  # run-stable
    by_src = {}
    for _, s in ra:
        by_src[s] = by_src.get(s, 0) + 1
    assert by_src["s0"] == 250  # fraction 1.0 keeps everything
    assert "s2" not in by_src  # fraction 0 drops everything
    assert 85 <= by_src["s1"] <= 165  # ~50% of 250, hash noise allowed
    assert 30 <= by_src.get("s3", 0) <= 95  # default 25%

    capped = cap_per_stratum(df, "source", 7, "doc_id")
    counts = {r.source: r.n for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"s0": 7, "s1": 7, "s2": 7, "s3": 7}
    # same selection on re-run
    again = {r.doc_id for r in cap_per_stratum(df, "source", 7, "doc_id").collect()}
    assert again == {r.doc_id for r in capped.collect()}


def test_temperature_sample_mixing_semantics(spark):
    """alpha=1 keeps the corpus mixture; alpha=0 flattens toward equal
    per-stratum budgets (capped at each stratum's size); the whole thing is
    run-stable and the threshold math is pure driver-side integers."""
    import pytest
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.operators.sampling import (
        temperature_fractions,
        temperature_sample,
        thresholds_from_counts,
    )

    # skewed strata: head 800, mid 150, tail 50
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 800, "head")
        .when(F.col("id") < 950, "mid")
        .otherwise("tail")
        .alias("source"),
    )

    def counts(alpha, target):
        out = temperature_sample(df, "source", "doc_id", alpha, target)
        return {
            r.source: r.n
            for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
        }

    # alpha=1: budgets ∝ n_s → keep fraction equal across strata (~target/N)
    c1 = counts(1.0, 500)
    assert 330 <= c1["head"] <= 470  # ~400 expected
    assert 45 <= c1["mid"] <= 105    # ~75
    assert 12 <= c1["tail"] <= 38    # ~25
    # alpha=0: equal budgets (500/3 ≈ 167) — tail saturates at its 50 rows
    c0 = counts(0.0, 500)
    assert c0["tail"] == 50
    assert 120 <= c0["mid"] <= 167
    assert abs(c0["head"] - c0["mid"]) <= 60  # head no longer dominates
    # deterministic re-run
    a = {r.doc_id for r in temperature_sample(df, "source", "doc_id", 0.5, 300).collect()}
    b = {r.doc_id for r in temperature_sample(df, "source", "doc_id", 0.5, 300).collect()}
    assert a == b

    # pure math: thresholds are ints, saturate at HASH_SPACE, and the
    # Spark wrapper reproduces them
    th = thresholds_from_counts([("head", 800), ("mid", 150), ("tail", 50)], 0.0, 500)
    assert th["tail"] == 65536  # frac 1.0
    assert all(isinstance(v, int) for v in th.values())
    assert temperature_fractions(df, "source", 0.0, 500) == th

    with pytest.raises(ValueError):
        temperature_sample(df, "source", "doc_id", 1.5, 100)
    with pytest.raises(ValueError):
        temperature_fractions(df, "source", 0.5, 100, max_strata=2)

    # NULL strata neither crash nor silently vanish: they form their own
    # stratum with its own threshold
    dfn = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 100, "known").otherwise(F.lit(None)).alias("source"),
    )
    thn = temperature_fractions(dfn, "source", 0.5, 100)
    assert set(thn) == {"known", None}
    outn = temperature_sample(dfn, "source", "doc_id", 0.5, 100)
    assert outn.where(F.col("source").isNull()).count() > 0

    # many-strata path (broadcast threshold join, no deep CASE chain):
    # same semantics as the CASE path on a >64-strata corpus
    import biocurator_mapper_spark.operators.sampling as _s

    big = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("d"), (F.col("id") % 100)).alias("source"),
    )
    got_join = {
        r.doc_id for r in temperature_sample(big, "source", "doc_id", 0.5, 400).collect()
    }
    orig = _s._MAX_CASE_STRATA
    _s._MAX_CASE_STRATA = 10_000  # force the CASE path for the differential
    try:
        got_case = {
            r.doc_id
            for r in temperature_sample(big, "source", "doc_id", 0.5, 400).collect()
        }
    finally:
        _s._MAX_CASE_STRATA = orig
    assert got_join == got_case and got_join


def test_profile_table_one_pass(spark):
    import pytest
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 5.0), (3, None, 7.5), (None, "b", 7.5)],
        "id long, s string, v double",
    )
    got = {r["column"]: r for r in profile_table(df).collect()}
    assert got["id"].n_rows == 4 and got["id"].n_nulls == 1
    assert got["id"].n_distinct == 3
    assert (got["id"].min_value, got["id"].max_value) == ("1", "3")
    assert got["s"].n_distinct == 2 and got["s"].n_nulls == 1
    assert got["v"].n_distinct == 2  # nulls excluded, 7.5 deduped
    assert got["v"].min_value == "5.0"
    # approx mode returns the same shape (values within HLL error)
    ap = {r["column"]: r for r in profile_table(df, approx=True).collect()}
    assert set(ap) == set(got) and ap["id"].n_rows == 4
    # subset + plan shape: one aggregate pass (a single Expand node, no
    # per-column jobs)
    sub = profile_table(df, ["id", "v"])
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1
    assert {r["column"] for r in sub.collect()} == {"id", "v"}
    with pytest.raises(ValueError):
        profile_table(df, [])


def test_bm25_topk_ranks_and_plan(spark):
    from biocurator_mapper_spark.operators.retrieval import bm25_topk
    from biocurator_mapper_spark.plans.inspect import _plan_string

    docs = spark.createDataFrame(
        [
            (1, "hash join hash join hash plans beat loops"),
            (2, "a single hash appears here among many many other words padding"),
            (3, "nothing relevant whatsoever in this document at all"),
            (4, "join join join"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, ["hash", "join"], k=3)
    rows = out.collect()
    ids = [r.doc_id for r in rows]
    assert ids[0] == 1  # both terms, high tf, short doc
    assert 3 not in ids  # zero-score docs excluded
    assert rows[0].score > rows[-1].score > 0
    plan = _plan_string(out)
    assert "TakeOrderedAndProject" in plan  # top-k heap, no global sort


def test_chunk_documents_windows_and_overlap(spark):
    """Sliding token windows: consecutive chunks share `overlap` tokens;
    the last window may be short; empty docs produce no rows; plan is
    narrow (no shuffle exchange)."""
    from biocurator_mapper_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),
            (2, "one two"),
            (3, ""),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=1)
    rows = sorted(
        ((r.doc_id, r.chunk_no, r.chunk_text, r.n_tokens) for r in out.collect())
    )
    assert rows == [
        (1, 0, "t0 t1 t2 t3", 4),
        (1, 1, "t3 t4 t5 t6", 4),
        (1, 2, "t6 t7 t8 t9", 4),
        (2, 0, "one two", 2),
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow: tokenize/slice/explode only

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_broadcast_topk_boundary_ties_break_by_id(spark):
    """Candidates tied in score exactly at the k/k+1 boundary must resolve
    by id ascending (the window formulation's tie-break) — argpartition
    alone keeps an arbitrary one of the tied candidates."""
    dim = 4
    base = [1.0, 0.0, 0.0, 0.0]
    # five identical vectors (all tied at cosine 1.0) + one weaker
    corpus = [(f"c{i}", base) for i in range(5)] + [("z_weak", [0.0, 1.0, 0.0, 0.0])]
    qdf = spark.createDataFrame([("q1", base)], "url string, embedding array<float>")
    cids = [c[0] for c in corpus]
    cmat = np.array([c[1] for c in corpus], dtype=np.float32)
    got = {r.rank: r.term_id for r in broadcast_topk(qdf, cids, cmat, k=3).collect()}
    assert got == {1: "c0", 2: "c1", 3: "c2"}  # id-ascending among the tied five

    # NULL query embedding: no rows, no crash
    qnull = spark.createDataFrame(
        [("q2", None)], "url string, embedding array<float>"
    )
    assert broadcast_topk(qnull, cids, cmat, k=3).count() == 0
