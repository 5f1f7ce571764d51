"""Approximate nearest-neighbor search over embedding columns.

Two tiers:

- ``brute_force_topk_join`` / ``broadcast_topk`` (operators.topk): exact
  baseline — right whenever one side is broadcast-sized;
- random-hyperplane LSH (this module): the scale path when BOTH sides are
  huge — queries and corpus are bucketed by sign-bit signatures from a fixed
  seeded hyperplane set, candidates pair only within a bucket (multi-probe
  via several independent tables), and exact cosine re-scores candidates.
  No all-pairs product ever materializes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

from ..functions.dims import local_dim_df
from ..functions.embed import certainty_expr, cosine_from_norms_expr, norm_expr


QUANT_SCALE = 1000.0  # vector components → ints (exact cross-engine arith)
CENTROID_SCALE = 10000.0  # unit centroids get one more digit of precision


def quantize(mat64: np.ndarray, scale: float = QUANT_SCALE) -> np.ndarray:
    """float64 → int64 via floor(x*scale + 0.5) — round-half-up with ONLY
    IEEE double ops, so ``floor(x::DOUBLE * scale + 0.5)::BIGINT`` in any
    SQL engine reproduces it bit-for-bit. All candidate generation below
    runs on these ints (exact), keeping the Spark plan and the DuckDB
    oracle in perfect agreement; only the final re-score is float (and that
    uses the left-to-right double fold of ``cosine_expr``, also exact)."""
    return np.floor(mat64 * scale + 0.5).astype(np.int64)


def _hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((n_tables, n_planes, dim)).astype(np.float32)


def plane_signs(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    """(n_tables*n_planes, dim) ±1 sign matrix (Rademacher hyperplanes) —
    the sign pattern of the seeded gaussian tensor. Signed-sum LSH over
    quantized vectors is integer arithmetic: deterministic and replicable
    in SQL, with the same collision geometry as gaussian hyperplanes."""
    flat = _hyperplanes(dim, n_planes, n_tables, seed).reshape(
        n_tables * n_planes, dim
    )
    return np.where(flat > 0, 1, -1).astype(np.int64)


# Signature UDFs cached per (SparkContext, lsh args): the per-call cost of
# a fresh one is the sign-matrix broadcast pickle (~0.1-0.3 s of every ANN
# plan build) plus UDF wrapper creation, yet the UDF is a pure function of
# its scalar args and the session — the cosine_expr parse-cache treatment.
# Keyed by SparkContext IDENTITY (checked on hit) so a restarted session
# can never serve a broadcast owned by a stopped context.
_SIG_UDF_CACHE: dict = {}


def _sig_udf(sc, dim: int, n_planes: int, n_tables: int, seed: int):
    key = (id(sc), dim, n_planes, n_tables, seed)
    cached = _SIG_UDF_CACHE.get(key)
    if cached is not None and cached[0] is sc:
        return cached[1]
    signs = plane_signs(dim, n_planes, n_tables, seed)  # (T*P, dim) int64
    bc = sc.broadcast((signs.T, n_tables, n_planes))

    @F.pandas_udf(ArrayType(IntegerType()))
    def _sig(vecs: pd.Series) -> pd.Series:
        st, nt, npl = bc.value  # (dim, T*P)
        mat = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)).values)
        bits = (quantize(mat) @ st) > 0  # (B, T*P) — exact int compare
        weights = 1 << np.arange(npl)
        # fully vectorized bucket ids (the previous per-row Python loop was
        # the batch's hot spot): sig = per-table bit pack, bucket =
        # table_no * 2^planes + sig — identical ints, one matmul + add
        sigs = bits.reshape(len(mat), nt, npl) @ weights  # (B, T)
        buckets = (np.arange(nt) << npl) + sigs
        return pd.Series(buckets.astype(np.int32).tolist())

    if len(_SIG_UDF_CACHE) > 64:  # dead-context entries; bound the dict
        _SIG_UDF_CACHE.clear()
    _SIG_UDF_CACHE[key] = (sc, _sig)
    return _sig


def with_lsh_buckets(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 7,
    out_col: str = "lsh_buckets",
) -> DataFrame:
    """+ array<int> of ``n_tables`` bucket ids (sign-bit signatures).

    The sign matrix is seeded and broadcast — identical across
    executors/runs; the signature is one integer (B, dim) @ (dim, T*P)
    matmul per Arrow batch over the quantized vectors. Integer arithmetic
    makes the bucket assignment exactly reproducible by a SQL oracle
    (float32 matmuls can flip the sign of near-zero dots between engines).
    The UDF (and its broadcast) is cached per (SparkContext, args) — see
    ``_sig_udf``. Under-partitioned sources (a small parquet file → a
    handful of splits) are round-robin spread first so the Arrow matmul
    stage uses every core; properly split 100 TB inputs skip this."""
    from ..functions.partitions import spread_partitions

    if n := spread_partitions(df):
        df = df.repartition(n)
    sig = _sig_udf(df.sparkSession.sparkContext, dim, n_planes, n_tables, seed)
    return df.withColumn(out_col, sig(F.col(vec_col)))


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 7,
    query_id_col: str = "query_id",
    corpus_id_col: str = "corpus_id",
    query_vec: str = "q_embedding",
    corpus_vec: str = "c_embedding",
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 LSH bucket; exact cosine
    re-scores; per-query window keeps k. Recall grows with n_tables.

    Both sides shuffle ONLY on bucket id (balanced by construction —
    hyperplanes split the space evenly), never on an all-pairs key.
    """
    # Candidate generation moves ID PAIRS only: the bucket-join exchanges
    # and the dedup exchange carry ~50 B/row instead of dragging both
    # embedding columns (~12 KB/row at production dims) through three
    # shuffles. Vectors rejoin AFTER dedup — each side's embeddings cross
    # the wire exactly once, and the final join hashes on the query id so
    # the top-k window reuses that partitioning (no extra exchange).
    # explode_OUTER on purpose: plain explode triggers
    # InferFiltersFromGenerate, which plants a size(arr)>0 filter under the
    # Generate and makes Catalyst extract the signature UDF TWICE (one
    # ArrowEvalPython for the filter, one for the generate — the batch
    # matmul runs 2x per row). _sig always returns n_tables buckets, so
    # outer semantics are identical here.
    q = with_lsh_buckets(queries, query_vec, dim, n_planes, n_tables, seed).select(
        query_id_col, F.explode_outer("lsh_buckets").alias("bucket")
    )
    c = with_lsh_buckets(corpus, corpus_vec, dim, n_planes, n_tables, seed).select(
        corpus_id_col, F.explode_outer("lsh_buckets").alias("bucket")
    )
    # ONE exchange for dedup + window: hash-partitioning by the query id
    # alone clusters every (query, corpus) pair group AND is exactly the
    # top-k window's required distribution, so the pair dedup runs without
    # its own (query, corpus)-keyed exchange and the window adds none —
    # two shuffles of the candidate relation collapse into one (the
    # downstream joins are broadcast and preserve the partitioning).
    pairs = (
        q.join(c, "bucket")
        .drop("bucket")
        .repartition(F.col(query_id_col))
        .dropDuplicates([query_id_col, corpus_id_col])
    )
    # each side's norm folds ONCE PER ROW on the rejoin relations (the
    # cosine CASE would otherwise re-fold both arrays per candidate pair —
    # 5 interpreted aggregates per pair collapse to the dot alone, with
    # bit-identical doubles; see cosine_from_norms_expr)
    cands = (
        pairs.join(
            corpus.select(
                corpus_id_col, corpus_vec, norm_expr(corpus_vec).alias("_cn")
            ),
            corpus_id_col,
        )
        .join(
            queries.select(
                query_id_col, query_vec, norm_expr(query_vec).alias("_qn")
            ),
            query_id_col,
        )
        .withColumn(
            "cosine", cosine_from_norms_expr(query_vec, corpus_vec, "_qn", "_cn")
        )
        .drop(query_vec, corpus_vec, "_qn", "_cn")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(corpus_id_col))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            query_id_col,
            corpus_id_col,
            "rank",
            "cosine",
            certainty_expr(F.col("cosine")).alias("certainty"),
        )
    )


def _kmeans_lite(
    sample: np.ndarray, n_centroids: int, iters: int = 10, seed: int = 7
) -> np.ndarray:
    """Deterministic Lloyd's k-means on L2-normalized vectors (driver-side;
    the sample is bounded). Empty clusters re-seed from the sample."""
    rng = np.random.Generator(np.random.PCG64(seed))
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    x = sample / norms
    idx = rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)
    cents = x[np.sort(idx)].copy()
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                v = members.mean(axis=0)
                n = np.linalg.norm(v)
                cents[c] = v / n if n > 0 else cents[c]
            else:
                cents[c] = x[int(rng.integers(len(x)))]
    return cents


def ivf_sample_rows(
    corpus: DataFrame, id_col: str, vec_col: str, train_sample: int
) -> list:
    """Bounded deterministic training sample WITHOUT a global sort: keep
    rows whose md5(id-as-string) prefix falls under a threshold sized to
    ~2× the target (one narrow filter over the corpus — at 100 TB this is
    a scan that keeps a few thousand rows, vs the full shuffle an
    ``orderBy().limit()`` sample would cost), then order the collected
    handful driver-side by id and truncate. md5-of-string is engine-
    agnostic, so a SQL oracle reproduces the exact same sample."""
    n = corpus.count()  # column-pruned count; cheap next to any sort
    if n == 0:
        return []
    frac = min(1.0, (2.0 * train_sample) / n)
    thresh = int(frac * 0xFFFF) + 1
    rows = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .where(
            F.conv(
                F.substring(F.md5(F.col("_id").cast("string")), 1, 4), 16, 10
            ).cast("long")
            < F.lit(thresh)
        )
        .collect()
    )
    rows.sort(key=lambda r: str(r._id))
    return rows[:train_sample]


def ivf_centroids(
    corpus: DataFrame,
    corpus_id_col: str,
    corpus_vec: str,
    n_centroids: int,
    train_sample: int,
    seed: int,
) -> np.ndarray:
    """Quantized int64 centroid matrix trained on the deterministic sample
    (shared by the Spark operator and the oracle generator)."""
    rows = ivf_sample_rows(corpus, corpus_id_col, corpus_vec, train_sample)
    if not rows:
        # empty corpus (e.g. everything filtered upstream): no centroids —
        # callers return an empty result instead of crashing in k-means
        return np.zeros((0, 0), dtype=np.int64)
    sample = np.array([r._v for r in rows], dtype=np.float32)
    cents = _kmeans_lite(sample, n_centroids, seed=seed)
    return quantize(cents.astype(np.float64), CENTROID_SCALE)


def centroid_assign_udf(bc, n_nearest: int):
    """THE centroid-assignment kernel (one definition for the fresh path,
    index BUILD and index SEARCH — the shared-oracle guarantee between
    sim_ann_ivf_topk and sim_ann_ivf_indexed rests on these being the same
    code): integer dot products of the quantized vector against the
    broadcast quantized centroids, stable argsort so ties break toward the
    lower centroid id (the oracle's ORDER BY dot DESC, cid ASC)."""

    @F.pandas_udf(ArrayType(IntegerType()))
    def _assign(vecs: pd.Series) -> pd.Series:
        qc = bc.value  # (C, dim) int64
        mat = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)).values)
        sims = quantize(mat) @ qc.T  # int64 — exact
        nn = min(n_nearest, sims.shape[1])
        top = np.argsort(-sims, axis=1, kind="stable")[:, :nn]
        return pd.Series(top.astype(np.int32).tolist())

    return _assign


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    train_sample: int = 10_000,
    seed: int = 7,
    query_id_col: str = "query_id",
    corpus_id_col: str = "corpus_id",
    query_vec: str = "q_embedding",
    corpus_vec: str = "c_embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer
    alternative to LSH:

    1. train ``n_centroids`` centroids on a bounded, deterministic,
       hash-filtered corpus sample (driver-side Lloyd's; the index is
       data-adaptive where LSH hyperplanes are oblivious) — no global sort;
    2. assign every corpus vector to its nearest centroid by INTEGER dot
       product over the quantized vector and quantized centroids (one
       broadcast matmul per Arrow batch — narrow, exact, oracle-replicable;
       argmax of v·c equals argmax of cosine because |v| is constant per
       row and the centroids are unit-normalized before quantization);
    3. each query probes its ``nprobe`` nearest centroids (explode to
       nprobe rows) and joins corpus rows on centroid id — the shuffle key
       is the centroid id, sized by construction at corpus/n_centroids;
    4. exact cosine re-scores candidates; per-query window keeps k.

    Recall grows with nprobe (nprobe = n_centroids ⇒ exact search).
    """
    spark = queries.sparkSession
    qcents = ivf_centroids(
        corpus, corpus_id_col, corpus_vec, n_centroids, train_sample, seed
    )
    if qcents.size == 0:
        # empty corpus → empty top-k with the full output schema (corpus id
        # keeps its declared type)
        cid_type = corpus.schema[corpus_id_col].dataType
        return (
            queries.select(
                F.col(query_id_col),
                F.lit(None).cast(cid_type).alias(corpus_id_col),
                F.lit(0).alias("rank"),
                F.lit(0.0).alias("cosine"),
                F.lit(0.0).alias("certainty"),
            ).where(F.lit(False))
        )
    bc = spark.sparkContext.broadcast(qcents)

    # explode_outer: see lsh_topk — _assign always returns >=1 centroid,
    # and outer explode skips the inferred size-filter that would extract
    # the assignment UDF twice
    # norms fold once per source row, BEFORE the probe explode on the query
    # side (nprobe rows per query) and before the candidate join — the
    # re-score then pays only the dot per pair (bit-identical doubles)
    c_assigned = corpus.withColumn("_cn", norm_expr(corpus_vec)).withColumn(
        "_cent", F.explode_outer(centroid_assign_udf(bc, 1)(F.col(corpus_vec)))
    )
    q_assigned = queries.withColumn("_qn", norm_expr(query_vec)).withColumn(
        "_cent", F.explode_outer(centroid_assign_udf(bc, nprobe)(F.col(query_vec)))
    )
    # No pair dedup needed (unlike LSH multi-table): every corpus row is
    # assigned to exactly ONE centroid and a query's nprobe probes are
    # distinct, so a (query, corpus) pair occurs at most once — skipping
    # dropDuplicates removes a whole exchange that would otherwise drag
    # both embedding columns through the wire a second time.
    cands = (
        q_assigned.join(c_assigned, "_cent")
        .drop("_cent")
        .withColumn(
            "cosine", cosine_from_norms_expr(query_vec, corpus_vec, "_qn", "_cn")
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(corpus_id_col))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            query_id_col,
            corpus_id_col,
            "rank",
            "cosine",
            certainty_expr(F.col("cosine")).alias("certainty"),
        )
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 6,
    n_tables: int = 6,
    seed: int = 11,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold (LSH-bucketed
    self-join + exact verification). Higher thresholds need fewer planes."""
    # Same id-pairs-only shape as lsh_topk: the bucket self-join and the
    # pair dedup shuffle bare ids; the vectors rejoin once per side for the
    # exact verification score.
    # explode_outer: see lsh_topk — avoids the inferred size()>0 filter
    # that would double-evaluate the signature UDF
    b = with_lsh_buckets(df, vec_col, dim, n_planes, n_tables, seed).select(
        F.col(id_col).alias("_id"), F.explode_outer("lsh_buckets").alias("bucket")
    )
    a = b.select("bucket", F.col("_id").alias("id_a"))
    bb = b.select("bucket", F.col("_id").alias("id_b"))
    pairs = (
        a.join(bb, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .drop("bucket")
        .dropDuplicates(["id_a", "id_b"])
    )
    # per-row norms on the rejoin relations (not per verified pair) — same
    # factoring as lsh_topk, bit-identical cosine
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        norm_expr(vec_col).alias("_na"),
    )
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        norm_expr(vec_col).alias("_nb"),
    )
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine_from_norms_expr("_va", "_vb", "_na", "_nb"))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def emb_dedup_clusters(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 6,
    n_tables: int = 6,
    seed: int = 11,
) -> DataFrame:
    """Semantic dedup keep-one: embedding-cosine near-dup pairs
    (LSH-bucketed, exactly verified) → connected components → every row
    mapped to its cluster representative (min id) with ``is_duplicate``.
    The embedding-space twin of ``dedup.dedup_clusters`` — drop
    non-representatives to deduplicate paraphrases/near-copies that share
    no exact n-grams. NOT a pure plan builder (CC iterates)."""
    from .canonicalize import clusters_from_pairs

    pairs = embedding_cosine_pairs(
        df, id_col, vec_col, dim,
        threshold=threshold, n_planes=n_planes, n_tables=n_tables, seed=seed,
    )
    return clusters_from_pairs(df, pairs, id_col)


# ------------------------------------------------------ persistent IVF index


def build_ivf_index(
    catalog,
    index_name: str,
    corpus: DataFrame,
    corpus_id_col: str = "corpus_id",
    corpus_vec: str = "c_embedding",
    n_centroids: int = 16,
    train_sample: int = 10_000,
    seed: int = 7,
    centroids: np.ndarray | None = None,
) -> int:
    """Materialize a persistent IVF index into the catalog — the
    vector-database shape the reference delegates to Weaviate
    (app/ontology_searcher.py), built from the engine's own pieces:

    - ``<name>_centroids``: (centroid_id, centroid array<long>) — the
      quantized coarse quantizer (dimension-sized);
    - ``<name>_postings``: the inverted lists — every corpus row tagged
      with its nearest centroid, written PARTITIONED BY centroid_id so a
      probe of ``nprobe`` lists reads only those partitions (partition
      pruning does at rest what the centroid-id shuffle does in flight).

    Build once, search many; append-only corpus churn MERGEs into the
    postings via :func:`merge_ivf_index` (assignment is per-row and
    order-free against the STORED coarse quantizer — FAISS ``add()``
    semantics); retrain/rebuild only when drift degrades recall.
    ``centroids`` overrides training with an explicit quantized coarse
    quantizer (rows of ``ivf_centroids`` output). Returns the number of
    centroids written."""
    spark = corpus.sparkSession
    qcents = (
        centroids
        if centroids is not None
        else ivf_centroids(
            corpus, corpus_id_col, corpus_vec, n_centroids, train_sample, seed
        )
    )
    rows = [(int(i), [int(x) for x in row]) for i, row in enumerate(qcents)]
    cent_df = local_dim_df(
        spark, rows, "centroid_id int, centroid array<bigint>"
    )
    catalog.write_replace(cent_df, f"{index_name}_centroids")
    if qcents.size:
        bc = spark.sparkContext.broadcast(qcents)
        postings = corpus.withColumn(
            "centroid_id",
            F.explode_outer(centroid_assign_udf(bc, 1)(F.col(corpus_vec))),
        )
        catalog.write_replace(
            postings, f"{index_name}_postings", partition_by=["centroid_id"]
        )
    else:
        # empty corpus: an empty PARTITIONED write emits no schema-bearing
        # files (readers then fail to infer) — write the empty table flat
        # so the declared corpus-id type survives for ivf_index_search
        postings = corpus.withColumn("centroid_id", F.lit(None).cast("int"))
        catalog.write_replace(postings, f"{index_name}_postings")
    return len(rows)


def merge_ivf_index(
    catalog,
    index_name: str,
    new_rows: DataFrame,
    corpus_id_col: str = "corpus_id",
    corpus_vec: str = "c_embedding",
) -> str:
    """MERGE new corpus rows into a stored IVF index WITHOUT a rebuild —
    the append path for corpus churn (FAISS ``add()`` semantics): each new
    row is assigned to its nearest STORED centroid (the coarse quantizer is
    frozen; retraining is a rebuild decision, not an ingest step) and
    ``catalog.merge_upsert`` rewrites only the centroid partitions the
    batch lands in, re-linking every untouched inverted list. The postings
    keep their ``centroid_id`` partitioning, so probe-time partition
    pruning is unaffected. Re-ingesting an id replaces its posting
    (assignment is a pure function of the vector, so an unchanged row
    cannot migrate partitions — the merge precondition). Returns the new
    postings version.

    Equivalence (pinned in tests): postings-after-merge equals a fresh
    ``build_ivf_index`` over the full corpus given the SAME coarse
    quantizer."""
    spark = new_rows.sparkSession
    cent_rows = sorted(
        catalog.read(f"{index_name}_centroids").collect(),
        key=lambda r: r.centroid_id,
    )
    if not cent_rows:
        raise ValueError(
            f"index {index_name!r} has no centroids — build it first"
        )
    qcents = np.array([r.centroid for r in cent_rows], dtype=np.int64)
    bc = spark.sparkContext.broadcast(qcents)
    assigned = new_rows.withColumn(
        "centroid_id",
        F.explode_outer(centroid_assign_udf(bc, 1)(F.col(corpus_vec))),
    )
    return catalog.merge_upsert(
        assigned,
        f"{index_name}_postings",
        key_cols=[corpus_id_col],
        partition_col="centroid_id",
    )


def ivf_index_search(
    catalog,
    index_name: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    query_vec: str = "q_embedding",
    corpus_id_col: str = "corpus_id",
    corpus_vec: str = "c_embedding",
) -> DataFrame:
    """Search a stored IVF index: queries probe their ``nprobe`` nearest
    stored centroids and join the PARTITIONED postings on centroid_id —
    dynamic partition pruning keeps unprobed inverted lists unread — then
    exact cosine re-scores and a per-query window keeps k. Produces the
    same relation as a fresh ``ivf_topk`` run with the same
    centroids/seed (pinned in tests)."""
    spark = queries.sparkSession
    postings = catalog.read(f"{index_name}_postings")
    cent_rows = sorted(
        catalog.read(f"{index_name}_centroids").collect(),
        key=lambda r: r.centroid_id,
    )
    if not cent_rows:
        # empty index: empty top-k preserving the POSTINGS-declared corpus
        # id type (a hardcoded string would break unions with the fresh
        # path and the driver's arrow-type-sensitive compare)
        cid_type = postings.schema[corpus_id_col].dataType
        return (
            queries.select(
                F.col(query_id_col),
                F.lit(None).cast(cid_type).alias(corpus_id_col),
                F.lit(0).alias("rank"),
                F.lit(0.0).alias("cosine"),
                F.lit(0.0).alias("certainty"),
            ).where(F.lit(False))
        )
    qcents = np.array([r.centroid for r in cent_rows], dtype=np.int64)
    bc = spark.sparkContext.broadcast(qcents)
    npb = min(nprobe, len(cent_rows))

    # query norm folds once per query BEFORE the nprobe explode; posting
    # norms fold once per posting row below the join (bit-identical cosine)
    q_assigned = queries.withColumn("_qn", norm_expr(query_vec)).withColumn(
        "centroid_id", F.explode_outer(centroid_assign_udf(bc, npb)(F.col(query_vec)))
    )
    cands = (
        q_assigned.join(
            postings.withColumn("_cn", norm_expr(corpus_vec)), "centroid_id"
        )
        .drop("centroid_id")
        .withColumn(
            "cosine", cosine_from_norms_expr(query_vec, corpus_vec, "_qn", "_cn")
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(corpus_id_col)
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            query_id_col,
            corpus_id_col,
            "rank",
            "cosine",
            certainty_expr(F.col("cosine")).alias("certainty"),
        )
    )


# ---------------------------------------------------------- int8 quantized
# Symmetric per-vector int8 quantization: q_i = floor(x_i·127/max|x| + .5),
# score(a, b) = (max|a|·max|b|·Σ q_a·q_b) / 127².  The 100 TB lever is the
# CORPUS REPRESENTATION: 4× smaller vectors (int8 vs float32) in broadcast
# / postings storage and an integer dot product (SIMD-friendly, and —
# unlike a float fold — EXACT in any summation order, so the expression
# path and any other engine can never diverge; the only float ops are
# two per-vector maxes and one final multiply, all deterministic). Recall
# loss vs full precision is the quantization error (~0.4% of max|x| per
# component) — rankings move only for near-ties.

Q8_DENOM = 127.0 * 127.0


def q8_quantize_expr(emb: Column) -> Column:
    """struct(maxabs double, q array<int>) — the stored form of a
    quantized vector. Zero vectors quantize to all-zero q with maxabs 0.
    The maxabs aggregate binds through ``let_expr`` so the per-element
    quantize lambda doesn't re-run it per component (the captured-subtree
    re-evaluation trap)."""
    from ..functions.exprs import let_expr

    d = F.transform(emb, lambda x: x.cast("double"))
    maxabs = F.aggregate(d, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    return let_expr(
        maxabs,
        lambda m: F.struct(
            m.alias("maxabs"),
            F.when(
                m > 0,
                F.transform(d, lambda x: F.floor(x * 127.0 / m + 0.5).cast("int")),
            )
            .otherwise(F.transform(d, lambda x: F.lit(0)))
            .alias("q"),
        ),
    )


def q8_score_expr(qa: Column, qb: Column, ma: Column, mb: Column) -> Column:
    """Approximate cosine-numerator score of two quantized vectors —
    ((ma·mb)·Σ q_a·q_b)/127², the exact parenthesization the oracle
    mirrors. Integer dot (exact), one double multiply chain."""
    dot = F.aggregate(
        F.zip_with(qa, qb, lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return ((ma * mb) * dot.cast("double")) / F.lit(Q8_DENOM)


def q8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id_col: str = "query_id",
    corpus_id_col: str = "corpus_id",
    query_vec: str = "q_embedding",
    corpus_vec: str = "c_embedding",
) -> DataFrame:
    """Top-k by quantized dot product (the un-normalized cosine numerator;
    for L2-normalized embeddings the ranking equals cosine ranking up to
    quantization error). Quantize both sides, broadcast cross join, window
    rank with id tiebreak — every step has a DuckDB oracle counterpart
    (``sim_ann_q8_topk``).

    Output: (query_id, corpus_id, rank, score)."""
    from pyspark.sql import Window

    q = queries.withColumn("_qq", q8_quantize_expr(F.col(query_vec))).select(
        query_id_col,
        F.col("_qq.maxabs").alias("_qm"),
        F.col("_qq.q").alias("_qv"),
    )
    c = corpus.withColumn("_cq", q8_quantize_expr(F.col(corpus_vec))).select(
        corpus_id_col,
        F.col("_cq.maxabs").alias("_cm"),
        F.col("_cq.q").alias("_cv"),
    )
    scored = q.crossJoin(F.broadcast(c)).withColumn(
        "score",
        q8_score_expr(F.col("_qv"), F.col("_cv"), F.col("_qm"), F.col("_cm")),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(corpus_id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, corpus_id_col, "rank", "score")
    )
