"""DSIR-style importance sampling toward a target distribution.

Xie et al. 2023 ("Data Selection for Language Models via Importance
Resampling"): score every raw document by how much more likely its hashed
n-gram features are under a TARGET corpus (the data you want more of —
wiki/books, a domain slice) than under the RAW corpus, then keep the
highest-scoring documents. The classic recipe, Spark-shaped:

- features: word bigram OCCURRENCES (multiset, not distinct — frequency
  is the signal) hashed into ``dim`` buckets with the repo's 60-bit md5
  integer hash (engine-agnostic, ``dedup.shingle_hash_expr``);
- the two feature distributions are bucket-count vectors — ``dim`` rows
  each, one map-side-combined hash-agg per corpus, collected driver-side
  (dim ≈ 10⁴ is dimension-sized next to any corpus);
- per-bucket quantized log-ratios ``floor(log(p̂/q̂)·10⁶ + 0.5)`` (add-one
  smoothing) are PURE-PYTHON ints computed once and broadcast — no float
  ever crosses an engine boundary, so a DuckDB oracle reproduces scores
  bit-for-bit (the temperature-threshold / IVF-centroid oracle pattern);
- a doc's importance score is the integer SUM of its occurrences'
  log-ratios: one explode → broadcast join (dim-sized ratio table) →
  hash-agg per doc. Narrow, skew-free (buckets are md5-uniform), linear.

Scale notes (100 TB): the corpus crosses the wire never — counts are
partial-aggregated map-side into ≤ dim rows per task; scoring is one
generate + broadcast-join + per-doc agg pipeline with integer rows. To
sample rather than rank, threshold the score or add seeded Gumbel noise
keyed on the id hash, both narrow filters.

Reference parity: no analog in the reference (one passage at a time —
/root/reference/app/models.py:7); training-data extension surface.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.dims import local_dim_df

from .dedup import shingle_hash_expr, tokens_expr

DSIR_DIM = 4096
DSIR_SCALE = 1_000_000  # log-ratio quantization: 6 decimal digits


def ngram_occurrences_expr(text: Column, n: int = 2) -> Column:
    """Word n-gram OCCURRENCES (space-joined, duplicates kept — unlike
    ``dedup.shingles_expr`` the multiset matters here); short docs emit
    their whole token string, empty docs an empty array."""
    from ..functions.exprs import let_expr, zip_ngrams_expr

    def _build(toks: Column) -> Column:
        return F.when(F.size(toks) >= n, zip_ngrams_expr(toks, n)).otherwise(
            F.when(F.size(toks) > 0, F.array(F.array_join(toks, " "))).otherwise(
                F.array().cast("array<string>")
            )
        )

    return let_expr(tokens_expr(text), _build)


def bucket_counts(
    df: DataFrame, text_col: str, n: int = 2, dim: int = DSIR_DIM
) -> dict[int, int]:
    """{bucket: occurrence count} for a corpus — ≤ dim entries, collected
    driver-side (one explode + one hash-agg; partial aggregation collapses
    to ≤ dim rows per task before the exchange)."""
    rows = (
        df.select(
            F.explode_outer(ngram_occurrences_expr(F.col(text_col), n)).alias("_g")
        )
        .where(F.col("_g").isNotNull())
        .select(F.pmod(shingle_hash_expr(F.col("_g")), F.lit(dim)).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    return {int(r.b): int(r.c) for r in rows}


def dsir_log_ratios(
    target_counts: dict[int, int],
    raw_counts: dict[int, int],
    dim: int = DSIR_DIM,
    scale: int = DSIR_SCALE,
) -> dict[int, int]:
    """Quantized per-bucket importance log-ratios: floor(log(p̂_b/q̂_b) ·
    scale + 0.5) with add-one smoothing over dim buckets. Pure-Python
    deterministic ints — shared verbatim by the oracle generator, so the
    engines differ only in counting and scoring (both independently
    checked)."""
    tn = sum(target_counts.values()) + dim
    rn = sum(raw_counts.values()) + dim
    out: dict[int, int] = {}
    for b in range(dim):
        p = (target_counts.get(b, 0) + 1) / tn
        q = (raw_counts.get(b, 0) + 1) / rn
        out[b] = math.floor(math.log(p / q) * scale + 0.5)
    return out


def importance_scores(
    raw: DataFrame,
    id_col: str,
    text_col: str,
    ratios: dict[int, int],
    n: int = 2,
    dim: int = DSIR_DIM,
) -> DataFrame:
    """(<id_col>, dsir_score) — integer importance score per raw doc: the
    sum of its n-gram occurrences' quantized log-ratios (docs with no
    n-grams score 0). One generate → broadcast ratio join → per-doc agg."""
    spark = raw.sparkSession
    ratio_df = F.broadcast(
        local_dim_df(
            spark, [(b, r) for b, r in sorted(ratios.items())], "b int, lr long"
        )
    )
    occ = (
        raw.select(
            F.col(id_col),
            F.explode_outer(ngram_occurrences_expr(F.col(text_col), n)).alias("_g"),
        )
        .where(F.col("_g").isNotNull())
        .select(
            id_col, F.pmod(shingle_hash_expr(F.col("_g")), F.lit(dim)).cast("int").alias("b")
        )
    )
    scored = occ.join(ratio_df, "b").groupBy(id_col).agg(
        F.sum("lr").alias("dsir_score")
    )
    return (
        raw.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col, F.coalesce(F.col("dsir_score"), F.lit(0)).cast("bigint").alias("dsir_score")
        )
    )
