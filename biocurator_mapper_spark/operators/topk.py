"""Vector top-k search as a broadcast dot-product (SURVEY §2 J5/W1).

The reference's `near_vector(limit=k)` call delegates ANN to Weaviate
(``app/ontology_searcher.py:46-61``). Here the searched collection (ontology
terms: ~20k × 1536 ≈ 120 MB) is broadcast-sized, so the idiomatic Spark plan
is a broadcast nested-loop theta-join executed as **one numpy matmul per
Arrow batch** inside `mapInPandas` — the corpus (10^12 rows) never shuffles,
and per-row top-k comes from `np.argpartition` (O(T) per query, not O(T log T)).

`brute_force_topk_join` is the same operator in pure DataFrame algebra
(crossJoin + window) — the oracle-checkable baseline for small corpora.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.embed import certainty_expr


def broadcast_topk(
    queries: DataFrame,
    corpus_ids: list[str],
    corpus_matrix: np.ndarray,
    k: int = 5,
    query_id_col: str = "url",
    vec_col: str = "embedding",
    id_out_col: str = "term_id",
) -> DataFrame:
    """queries(id, embedding) × broadcast corpus matrix → top-k rows.

    Returns (query_id, id_out_col, rank, cosine, certainty); rank is
    1-based by descending cosine with id as the deterministic tiebreak.
    Corpus vectors are L2-normalized once on the driver; query vectors are
    normalized per batch, so the dot product IS the cosine.
    """
    spark = queries.sparkSession
    if len(corpus_ids) == 0:
        # empty corpus (e.g. quality filter rejected every term) → empty
        # result, not a numpy shape error inside executor tasks
        return spark.createDataFrame(
            [],
            f"{query_id_col} string, {id_out_col} string, rank int, "
            "cosine float, certainty float",
        )
    norms = np.linalg.norm(corpus_matrix, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    normalized = (corpus_matrix / norms).astype(np.float32)
    order = np.argsort(np.array(corpus_ids))  # deterministic tiebreak by id
    bc = spark.sparkContext.broadcast(
        ([corpus_ids[i] for i in order], normalized[order])
    )
    out_schema = StructType(
        [
            StructField(query_id_col, StringType()),
            StructField(id_out_col, StringType()),
            StructField("rank", IntegerType()),
            StructField("cosine", FloatType()),
            StructField("certainty", FloatType()),
        ]
    )

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat = bc.value
        t = mat.T  # (dim, T)
        kk = min(k, len(ids))
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.stack(pdf[vec_col].map(np.asarray).values).astype(np.float32)
            qn = np.linalg.norm(q, axis=1, keepdims=True)
            qn[qn == 0] = 1.0
            sims = (q / qn) @ t  # (B, T)
            # argpartition finds the k-boundary score; ALL candidates tied
            # at that boundary are then included before the exact
            # (-score, id) sort — argpartition alone keeps an arbitrary one
            # of the tied boundary candidates, diverging from the window
            # formulation's id-ascending tie-break. ids are pre-sorted so
            # matrix index order == id order.
            part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            rows = []
            for bi in range(sims.shape[0]):
                thresh = sims[bi, part[bi]].min()
                cand = np.nonzero(sims[bi] >= thresh)[0]
                cand = cand[np.lexsort((cand, -sims[bi, cand]))][:kk]
                qid = pdf[query_id_col].iat[bi]
                for rank, ci in enumerate(cand, 1):
                    s = float(sims[bi, ci])
                    rows.append((qid, ids[ci], rank, s, (1.0 + s) / 2.0))
            yield pd.DataFrame(
                rows, columns=[query_id_col, id_out_col, "rank", "cosine", "certainty"]
            )

    # NULL query embeddings produce no matches (np.stack would otherwise
    # crash the task on a 0-d object array)
    return (
        queries.select(query_id_col, vec_col)
        .where(F.col(vec_col).isNotNull())
        .mapInPandas(_score, out_schema)
    )


def brute_force_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id_col: str = "query_id",
    corpus_id_col: str = "corpus_id",
    query_vec: str = "q_embedding",
    corpus_vec: str = "c_embedding",
    broadcast_side: str = "corpus",
) -> DataFrame:
    """Pure-DataFrame top-k: broadcast cross join + cosine + ranked window.

    SQL-oracle-checkable. Columns: (query_id, corpus_id, rank, cosine,
    certainty). Each side's L2 norm is computed ONCE PER ROW below the join
    (``norm_expr``) instead of per pair — the cosine CASE references each
    norm twice and every pair otherwise re-folds both arrays, so this cuts
    5 array aggregates per pair to 1 (the dot), bit-identically.

    ``broadcast_side`` picks which input is broadcast; STREAM the larger
    side so the nested-loop parallelism follows its partitioning (the
    default streams ``queries`` — the 100 TB shape, corpus-sized queries ×
    broadcast ontology; pass ``"queries"`` when the query side is the tiny
    one, e.g. a handful of probes against a large corpus, otherwise every
    pair evaluates inside the few tasks holding the probes).
    """
    from ..functions.embed import cosine_from_norms_expr, norm_expr
    from ..functions.partitions import spread_partitions

    q = queries.select(query_id_col, query_vec)
    c = corpus.select(corpus_id_col, corpus_vec)
    # under-partitioned-source valve (same as _hashed_shingle_rows): a
    # small parquet file yields a handful of splits and every per-pair
    # cosine then evaluates inside those few tasks; spread the STREAMED
    # side first. Well-partitioned 100 TB inputs skip this.
    stream_is_c = broadcast_side == "queries"
    stream = c if stream_is_c else q
    if n := spread_partitions(stream):
        stream = stream.repartition(n)
        if stream_is_c:
            c = stream
        else:
            q = stream
    q = q.withColumn("_qn", norm_expr(query_vec))
    c = c.withColumn("_cn", norm_expr(corpus_vec))
    if stream_is_c:
        joined = c.crossJoin(F.broadcast(q))
    else:
        joined = q.crossJoin(F.broadcast(c))
    joined = joined.withColumn(
        "cosine", cosine_from_norms_expr(query_vec, corpus_vec, "_qn", "_cn")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(corpus_id_col)
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            query_id_col,
            corpus_id_col,
            "rank",
            "cosine",
            certainty_expr(F.col("cosine")).alias("certainty"),
        )
    )


def collect_corpus_matrix(
    corpus: DataFrame, id_col: str = "term_id", vec_col: str = "embedding"
) -> tuple[list[str], np.ndarray]:
    """Materialize a broadcast-sized corpus (ontology dimension table) into
    (ids, matrix). The ONE permitted collect in the engine — the dimension
    side is bounded (~120 MB at full DO scale), never the web corpus."""
    rows = [
        r for r in corpus.select(id_col, vec_col).collect() if r[1] is not None
    ]
    ids = [r[0] for r in rows]
    mat = (
        np.array([r[1] for r in rows], dtype=np.float32)
        if rows
        else np.zeros((0, 1), dtype=np.float32)
    )
    return ids, mat
