"""Token-budget epoch planning (operators/mixing.py), quality-aware
keep-one (canonicalize.best_representatives), CCNet quality buckets
(sampling.quality_buckets)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biocurator_mapper_spark.operators.mixing import epoch_plan


def test_epoch_plan_integer_arithmetic(spark):
    d = spark.createDataFrame(
        [(1, "web", 100), (2, "web", 150), (3, "books", 1000), (4, "news", 40)],
        "doc_id long, source string, n_tok long",
    )
    plan = {
        r.source: r
        for r in epoch_plan(
            d, "source", "n_tok", {"web": 3, "books": 1, "wiki": 1}, 1000
        ).collect()
    }
    # web: target = 1000*3//5 = 600 over 250 tokens -> 2 epochs + 100 rem
    assert (plan["web"].n_docs, plan["web"].n_tokens) == (2, 250)
    assert (plan["web"].target_tokens, plan["web"].full_epochs, plan["web"].remainder_tokens) == (600, 2, 100)
    # books: 200 over 1000 -> 0 epochs, 200 remainder (subsample)
    assert (plan["books"].target_tokens, plan["books"].full_epochs, plan["books"].remainder_tokens) == (200, 0, 200)
    # wiki weighted but absent from the corpus: loud zero row
    assert (plan["wiki"].n_tokens, plan["wiki"].target_tokens, plan["wiki"].remainder_tokens) == (0, 200, 200)
    # news present but unweighted: excluded with weight 0
    assert (plan["news"].weight, plan["news"].target_tokens) == (0, 0)


def test_epoch_plan_validation(spark):
    d = spark.createDataFrame([(1, "a", 10)], "doc_id long, source string, n_tok long")
    with pytest.raises(ValueError):
        epoch_plan(d, "source", "n_tok", {"a": -1}, 100)
    with pytest.raises(ValueError):
        epoch_plan(d, "source", "n_tok", {}, 100)
    with pytest.raises(ValueError):
        epoch_plan(d, "source", "n_tok", {"a": 1}, -5)


def test_clusters_best_keeps_highest_quality(spark):
    from biocurator_mapper_spark.operators.canonicalize import (
        best_representatives,
        clusters_from_pairs,
    )

    base = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 1), (7, 2)],
        "doc_id long, q long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    clusters = clusters_from_pairs(base, pairs, "doc_id")
    got = {
        r.doc_id: (r.representative_id, r.is_duplicate)
        for r in best_representatives(base, clusters, "doc_id", "q").collect()
    }
    # cluster {1,2,3}: max q=9 tied between 2 and 3 -> min id 2 wins
    assert got[1] == (2, True) and got[2] == (2, False) and got[3] == (2, True)
    # unpaired rows represent themselves regardless of quality
    assert got[4] == (4, False) and got[7] == (7, False)
    # min-id variant differs on the same input (1 would win)
    std = {r.doc_id: r.representative_id for r in clusters.collect()}
    assert std[2] == 1


def test_quality_buckets_deterministic_tiers(spark):
    from biocurator_mapper_spark.operators.sampling import quality_buckets

    rows = [(i, "s", 100 - i) for i in range(6)] + [(10, "t", 1), (11, "t", 2)]
    d = spark.createDataFrame(rows, "doc_id long, source string, q long")
    got = {
        r.doc_id: r.quality_bucket
        for r in quality_buckets(d, "source", "q", "doc_id", 3).collect()
    }
    # source s: ids 0..5 ordered by q desc = 0,1,2,3,4,5 -> tiles 1,1,2,2,3,3
    assert [got[i] for i in range(6)] == [1, 1, 2, 2, 3, 3]
    # source t: 2 rows into 3 tiles -> buckets 1 and 2, best (q=2) first
    assert got[11] == 1 and got[10] == 2


def _pagerank_py(edges, iters=5, damping=85, scale=10**12):
    """Reference implementation of the fixed-point recurrence."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    rank = {n: scale for n in nodes}
    base = scale * (100 - damping) // 100
    for _ in range(iters):
        cin = {n: 0 for n in nodes}
        for s, d in edges:
            cin[d] += rank[s] // deg[s]
        rank = {n: base + (damping * cin[n]) // 100 for n in nodes}
    return rank


def test_pagerank_fixed_matches_reference(spark):
    from biocurator_mapper_spark.operators.graph import pagerank_fixed

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "c"),  # duplicate edge: multigraph semantics
        ("e", "e"),              # self-loop
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.rank for r in pagerank_fixed(df, iterations=5).collect()}
    assert got == _pagerank_py(edges)
    # hub 'c' outranks the dangling-ish leaf 'b'
    assert got["c"] > got["b"]


def test_pagerank_deep_iteration_plan_stable(spark):
    # 12 iterations: without per-iteration localCheckpoint the logical
    # plan doubles per step and the analyzer blows up around round 8
    from biocurator_mapper_spark.operators.graph import pagerank_fixed

    df = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 3 + 1) % 7}") for i in range(7)],
        "src string, dst string",
    )
    got = pagerank_fixed(df, iterations=12).collect()
    assert len(got) == 7
    py = _pagerank_py([(f"n{i}", f"n{(i * 3 + 1) % 7}") for i in range(7)], iters=12)
    assert {r.node: r.rank for r in got} == py


def test_filter_blocked_domains_modes(spark):
    from biocurator_mapper_spark.operators.urls import filter_blocked_domains

    d = spark.createDataFrame(
        [(1, "bad.com"), (2, "a.bad.com"), (3, "notbad.com"), (4, "GOOD.org"),
         (5, "BAD.COM")],
        "doc_id long, host string",
    )
    exact = {r.doc_id for r in filter_blocked_domains(d, "host", ["bad.com"]).collect()}
    assert exact == {2, 3, 4}  # case-insensitive exact match only
    subs = {
        r.doc_id
        for r in filter_blocked_domains(
            d, "host", ["bad.com"], include_subdomains=True
        ).collect()
    }
    assert subs == {3, 4}  # a.bad.com dropped too; notbad.com survives


def test_filter_blocked_domains_plan_broadcast_anti(spark):
    from biocurator_mapper_spark.operators.urls import filter_blocked_domains

    d = spark.createDataFrame([(1, "x.com")], "doc_id long, host string")
    out = filter_blocked_domains(d, "host", ["bad.com"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "Broadcast" in plan
    assert "hashpartitioning" not in plan
