"""Bloom-filter decontamination tier (operators/bloom.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from biocurator_mapper_spark.operators.bloom import (
    bloom_contamination_candidates,
    bloom_member_words_expr,
    bloom_words,
    decontaminate_bloom,
)
from biocurator_mapper_spark.operators.dedup import (
    decontaminate_exact,
    exact_ngram_collisions,
    shingle_hash_expr,
)


def _corpora(spark):
    bench = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog near the river"),
            (101, "adaptive query execution re-plans shuffles using runtime statistics"),
        ],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps over the lazy dog near the river and more"),
            (2, "completely unrelated content about ontology terms and synonym tables"),
            (3, "adaptive query execution re-plans shuffles using runtime statistics said the docs"),
            (4, "short and clean"),
        ],
        "doc_id long, text string",
    )
    return corpus, bench


def test_decontaminate_bloom_identical_to_exact(spark):
    corpus, bench = _corpora(spark)
    for n in (5, 13):
        exact = sorted(r.doc_id for r in decontaminate_exact(corpus, bench, "doc_id", "text", n=n).collect())
        bloom = sorted(r.doc_id for r in decontaminate_bloom(corpus, bench, "doc_id", "text", n=n).collect())
        assert bloom == exact


def test_candidates_are_superset_of_true_collisions(spark):
    corpus, bench = _corpora(spark)
    words = bloom_words(bench, "doc_id", "text", n=5)
    cands = {
        r.doc_id
        for r in bloom_contamination_candidates(corpus, words, "doc_id", "text", n=5).collect()
    }
    true_hits = {
        r.doc_id
        for r in exact_ngram_collisions(corpus, bench, "doc_id", "text", n=5).collect()
    }
    assert true_hits <= cands  # Bloom never misses a real collision


def test_member_expr_no_false_negatives_tiny_filter(spark):
    # a deliberately tiny filter (high FP rate) still has NO false negatives
    corpus, bench = _corpora(spark)
    words = bloom_words(bench, "doc_id", "text", n=5, m_bits=256)
    assert len(words) == 4  # 256 bits = 4 words
    bh = spark.createDataFrame(
        [("the quick brown fox jumps", words)], "g string, w array<long>"
    ).select(shingle_hash_expr(F.col("g")).alias("h"), "w")
    got = bh.select(
        bloom_member_words_expr(F.col("h"), F.col("w"), m_bits=256).alias("m")
    ).collect()[0].m
    assert got is True


def test_probe_is_codegen_only(spark):
    corpus, bench = _corpora(spark)
    words = bloom_words(bench, "doc_id", "text", n=5)
    out = bloom_contamination_candidates(corpus, words, "doc_id", "text", n=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
