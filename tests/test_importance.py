"""DSIR importance sampling (operators/importance.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from biocurator_mapper_spark.operators.importance import (
    bucket_counts,
    dsir_log_ratios,
    importance_scores,
    ngram_occurrences_expr,
)


def test_ngram_occurrences_keep_duplicates(spark):
    df = spark.createDataFrame([("the cat and the cat sat",)], "text string")
    got = df.select(
        ngram_occurrences_expr(F.col("text"), 2).alias("g")
    ).collect()[0].g
    assert got == ["the cat", "cat and", "and the", "the cat", "cat sat"]
    # short and empty docs
    df2 = spark.createDataFrame([("word",), ("",), (None,)], "text string")
    rows = [r.g for r in df2.select(ngram_occurrences_expr(F.col("text"), 2).alias("g")).collect()]
    assert rows == [["word"], [], []]


def test_topk_selects_target_like_docs(spark):
    med = "patient tumor biopsy oncology diagnosis treatment clinical"
    web = "click here subscribe newsletter cookie banner advertisement"
    target = spark.createDataFrame(
        [(i, f"{med} case {med}") for i in range(6)], "doc_id long, text string"
    )
    raw_rows = [(i, f"{med} study notes {med} report") for i in range(3)] + [
        (i, f"{web} promo {web} offer") for i in range(3, 9)
    ]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    ratios = dsir_log_ratios(
        bucket_counts(target, "text"), bucket_counts(raw, "text")
    )
    scores = importance_scores(raw, "doc_id", "text", ratios)
    top = scores.orderBy(F.desc("dsir_score"), F.asc("doc_id")).limit(3)
    assert {r.doc_id for r in top.collect()} == {0, 1, 2}
    # and the scores separate the two populations with the right sign
    sc = {r.doc_id: r.dsir_score for r in scores.collect()}
    assert min(sc[i] for i in range(3)) > max(sc[i] for i in range(3, 9))


def test_scores_cover_all_docs_and_empty_scores_zero(spark):
    target = spark.createDataFrame([(0, "alpha beta gamma")], "doc_id long, text string")
    raw = spark.createDataFrame(
        [(1, "alpha beta"), (2, ""), (3, None)], "doc_id long, text string"
    )
    ratios = dsir_log_ratios(
        bucket_counts(target, "text"), bucket_counts(raw, "text")
    )
    sc = {r.doc_id: r.dsir_score for r in importance_scores(raw, "doc_id", "text", ratios).collect()}
    assert set(sc) == {1, 2, 3} and sc[2] == 0 and sc[3] == 0


def test_scoring_plan_is_broadcast_and_python_free(spark):
    raw = spark.createDataFrame([(1, "alpha beta gamma")], "doc_id long, text string")
    out = importance_scores(raw, "doc_id", "text", {0: 5, 1: -3})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
