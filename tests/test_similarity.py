"""ANN tests: LSH top-k recall vs exact brute force; cosine-pair dedup."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from biocurator_mapper_spark.operators.similarity import (
    embedding_cosine_pairs,
    lsh_topk,
    with_lsh_buckets,
)
from biocurator_mapper_spark.operators.topk import brute_force_topk_join

DIM = 16


@pytest.fixture(scope="module")
def vec_data(spark):
    rng = np.random.default_rng(0)
    # clustered corpus so neighbors are meaningful
    centers = rng.standard_normal((5, DIM))
    rows = []
    for i in range(100):
        c = centers[i % 5]
        v = c + 0.1 * rng.standard_normal(DIM)
        rows.append((f"v{i:03d}", [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vid string, vec array<float>").cache()
    return df


def test_lsh_buckets_deterministic(spark, vec_data):
    a = with_lsh_buckets(vec_data, "vec", DIM).select("vid", "lsh_buckets").collect()
    b = with_lsh_buckets(vec_data, "vec", DIM).select("vid", "lsh_buckets").collect()
    assert sorted((r.vid, tuple(r.lsh_buckets)) for r in a) == sorted(
        (r.vid, tuple(r.lsh_buckets)) for r in b
    )
    assert all(len(r.lsh_buckets) == 4 for r in a)


def test_lsh_topk_recall_vs_exact(spark, vec_data):
    queries = vec_data.limit(10).select(
        F.col("vid").alias("query_id"), F.col("vec").alias("q_embedding")
    )
    corpus = vec_data.select(
        F.col("vid").alias("corpus_id"), F.col("vec").alias("c_embedding")
    )
    exact = brute_force_topk_join(queries, corpus, k=5)
    approx = lsh_topk(queries, corpus, DIM, k=5, n_planes=6, n_tables=8)
    ex = {(r.query_id, r.corpus_id) for r in exact.collect()}
    ap = {(r.query_id, r.corpus_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.8, recall  # clustered data + 8 tables → high recall


def test_cosine_expr_string_form_bit_identical(spark):
    """cosine_expr over column NAMES is bit-identical to a numpy float64
    left-to-right fold (float32 inputs widened before multiplying),
    including the zero-norm case and identifiers that need backtick
    quoting (a space, a literal backtick)."""
    import numpy as np

    from biocurator_mapper_spark.functions.embed import cosine_expr

    rows = [
        ([1.0, 2.0, 3.0], [2.0, 3.0, 4.0]),
        ([0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),  # zero norm → 0.0
        ([-1.5, 0.25, 8.0], [7.0, -0.125, 3.25]),
        ([0.1, 0.7, -0.3], [0.3, 0.2, 0.9]),  # not exact in float32
    ]
    df = spark.createDataFrame(rows, "`a b` array<float>, `c``d` array<float>")
    got = [r.c for r in df.select(cosine_expr("a b", "c`d").alias("c")).collect()]

    def fold(a, b):
        a = np.asarray(a, np.float32).astype(np.float64)
        b = np.asarray(b, np.float32).astype(np.float64)
        # np.add.accumulate sums strictly left to right (np.sum is pairwise)
        dot = np.add.accumulate(a * b)[-1]
        na = np.sqrt(np.add.accumulate(a * a)[-1])
        nb = np.sqrt(np.add.accumulate(b * b)[-1])
        return float(dot / (na * nb)) if na > 0 and nb > 0 else 0.0

    assert got == [fold(a, b) for a, b in rows]
    assert got[1] == 0.0


def test_ivf_index_build_search_matches_fresh_ivf_topk(spark, tmp_path):
    """A stored IVF index (catalog centroids + centroid-partitioned
    postings) must return the identical relation as a fresh ivf_topk run
    with the same seed/params, and the postings must actually be laid out
    partitioned by centroid_id."""
    import os

    from pyspark.sql import functions as F

    from biocurator_mapper_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_search,
        ivf_topk,
    )
    from biocurator_mapper_spark.sources.catalog import ParquetCatalog

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("c_embedding")
    )
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    cat = ParquetCatalog(spark, str(tmp_path / "wh_ivf"))
    n = build_ivf_index(cat, "emb_idx", corpus, n_centroids=8, seed=7)
    assert n == 8

    got = {
        (r.query_id, r.rank): (r.corpus_id, r.cosine)
        for r in ivf_index_search(cat, "emb_idx", queries, k=5, nprobe=3).collect()
    }
    want = {
        (r.query_id, r.rank): (r.corpus_id, r.cosine)
        for r in ivf_topk(
            queries, corpus, dim=64, k=5, n_centroids=8, nprobe=3, seed=7
        ).collect()
    }
    assert got == want and got

    # physical layout: hive-style centroid_id=N partition dirs exist
    postings_dir = cat.read("emb_idx_postings")  # readable
    assert postings_dir.count() == corpus.count()
    version = cat.current_version("emb_idx_postings")
    table_dir = os.path.join(str(tmp_path / "wh_ivf"), "emb_idx_postings", version)
    parts = [d for d in os.listdir(table_dir) if d.startswith("centroid_id=")]
    assert len(parts) >= 2

    # empty-corpus index: search returns an EMPTY frame that still carries
    # the postings-declared corpus-id type (was hardcoded string)
    cat2 = ParquetCatalog(spark, str(tmp_path / "wh_ivf_empty"))
    build_ivf_index(cat2, "e0", corpus.where(F.lit(False)), n_centroids=4)
    empty = ivf_index_search(cat2, "e0", queries, k=3)
    assert empty.count() == 0
    assert empty.schema["corpus_id"].dataType == corpus.schema["corpus_id"].dataType


def test_embedding_cosine_pairs_planted_dup(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal(DIM)
    rows = [("a", [float(x) for x in base]), ("b", [float(x) for x in base * 2.0])]
    for i in range(20):
        rows.append((f"r{i}", [float(x) for x in rng.standard_normal(DIM)]))
    df = spark.createDataFrame(rows, "vid string, vec array<float>")
    pairs = embedding_cosine_pairs(df, "vid", "vec", DIM, threshold=0.99)
    got = {(r.id_a, r.id_b): r.cosine for r in pairs.collect()}
    assert ("a", "b") in got
    assert got[("a", "b")] > 0.999  # scaled copy → cosine 1


def test_emb_dedup_clusters_matches_union_find(spark):
    """Semantic keep-one: cluster assignment must equal a Python
    union-find over the operator's own verified pair set — planted scaled
    copies collapse to one representative, unrelated vectors keep
    themselves."""
    from biocurator_mapper_spark.operators.similarity import emb_dedup_clusters

    rng = np.random.default_rng(7)
    base = rng.standard_normal(DIM)
    other = rng.standard_normal(DIM)
    rows = [
        ("a", [float(x) for x in base]),
        ("b", [float(x) for x in base * 2.0]),
        ("c", [float(x) for x in base * 0.5]),
        ("x", [float(x) for x in other]),
    ]
    for i in range(16):
        rows.append((f"r{i}", [float(x) for x in rng.standard_normal(DIM)]))
    df = spark.createDataFrame(rows, "vid string, vec array<float>")
    got = {
        r.vid: (r.representative_id, r.is_duplicate)
        for r in emb_dedup_clusters(df, "vid", "vec", DIM, threshold=0.99).collect()
    }
    assert len(got) == len(rows)
    # a/b/c are scaled copies → one cluster, min-id representative 'a'
    assert got["a"] == ("a", False)
    assert got["b"] == ("a", True) and got["c"] == ("a", True)
    # union-find oracle over the operator's own pairs
    pairs = embedding_cosine_pairs(df, "vid", "vec", DIM, threshold=0.99).collect()
    parent = {vid: vid for vid, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r.id_a), find(r.id_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {vid: find(vid) for vid, _ in rows}
    assert {v: rep for v, (rep, _) in got.items()} == want


def test_ivf_topk_recall_vs_exact(spark, vec_data):
    from biocurator_mapper_spark.operators.similarity import ivf_topk

    queries = vec_data.limit(10).select(
        F.col("vid").alias("query_id"), F.col("vec").alias("q_embedding")
    )
    corpus = vec_data.select(
        F.col("vid").alias("corpus_id"), F.col("vec").alias("c_embedding")
    )
    exact = brute_force_topk_join(queries, corpus, k=5)
    approx = ivf_topk(queries, corpus, DIM, k=5, n_centroids=8, nprobe=3)
    ex = {(r.query_id, r.corpus_id) for r in exact.collect()}
    ap = {(r.query_id, r.corpus_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.8, recall  # 5 real clusters, 8 centroids, 3 probes


def test_ivf_full_probe_equals_exact(spark, vec_data):
    from biocurator_mapper_spark.operators.similarity import ivf_topk

    queries = vec_data.limit(5).select(
        F.col("vid").alias("query_id"), F.col("vec").alias("q_embedding")
    )
    corpus = vec_data.select(
        F.col("vid").alias("corpus_id"), F.col("vec").alias("c_embedding")
    )
    exact = {(r.query_id, r.rank): r.corpus_id
             for r in brute_force_topk_join(queries, corpus, k=5).collect()}
    full = {(r.query_id, r.rank): r.corpus_id
            for r in ivf_topk(queries, corpus, DIM, k=5, n_centroids=4, nprobe=4).collect()}
    assert exact == full  # nprobe == n_centroids ⇒ exhaustive ⇒ identical


def test_lsh_dedup_exchanges_carry_ids_only(spark, vec_data):
    """The candidate-dedup / bucket-join exchanges must not drag embedding
    payloads: at production dims that's ~12 KB/row vs ~50 B of bare ids.
    Vectors may only cross the wire in the two rejoin exchanges."""
    queries = vec_data.limit(10).select(
        F.col("vid").alias("query_id"), F.col("vec").alias("q_embedding")
    )
    corpus = vec_data.select(
        F.col("vid").alias("corpus_id"), F.col("vec").alias("c_embedding")
    )
    out = lsh_topk(queries, corpus, DIM, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    bad = [
        line.strip()
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        and ("bucket" in line or ("query_id" in line and "corpus_id" in line))
        and "embedding" in line
    ]
    assert not bad, f"embedding columns in candidate/dedup exchange: {bad}"

    pairs = embedding_cosine_pairs(vec_data, "vid", "vec", DIM, threshold=0.9)
    plan2 = pairs._jdf.queryExecution().executedPlan().toString()
    bad2 = [
        line.strip()
        for line in plan2.splitlines()
        if "Exchange hashpartitioning" in line
        and ("bucket" in line or ("id_a" in line and "id_b" in line))
        and "_va" in line
    ]
    assert not bad2, f"vector columns in pair/dedup exchange: {bad2}"


def test_merge_ivf_index_equals_rebuild_same_quantizer(spark, tmp_path):
    """Append-only churn: building on corpus A then MERGEing batch B equals
    a fresh build over A∪B with the SAME coarse quantizer — postings rows
    identical, search results identical — and the merge rewrites only the
    centroid partitions batch B lands in (untouched inverted lists are
    re-linked, not rewritten)."""
    import os

    from pyspark.sql import functions as F

    from biocurator_mapper_spark.operators.similarity import (
        build_ivf_index,
        ivf_centroids,
        ivf_index_search,
        merge_ivf_index,
    )
    from biocurator_mapper_spark.sources.catalog import ParquetCatalog

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("c_embedding"),
    )
    a = corpus.where(~F.col("corpus_id").isin(3, 77, 191))
    b = corpus.where(F.col("corpus_id").isin(3, 77, 191))
    # freeze ONE coarse quantizer (trained on A — what a real deployment
    # has at merge time) and give it to both paths
    qcents = ivf_centroids(
        a, "corpus_id", "c_embedding", 8, 10_000, seed=7
    )

    cat_m = ParquetCatalog(spark, str(tmp_path / "wh_m"))
    build_ivf_index(cat_m, "idx", a, centroids=qcents)
    v0 = cat_m.current_version("idx_postings")
    merge_ivf_index(cat_m, "idx", b)

    cat_f = ParquetCatalog(spark, str(tmp_path / "wh_f"))
    build_ivf_index(cat_f, "idx", corpus, centroids=qcents)

    key = lambda r: (r.corpus_id, r.centroid_id, tuple(r.c_embedding))  # noqa: E731
    got = sorted(map(key, cat_m.read("idx_postings").collect()))
    want = sorted(map(key, cat_f.read("idx_postings").collect()))
    assert got == want and len(got) == corpus.count()

    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    res = lambda c: sorted(  # noqa: E731
        (r.query_id, r.rank, r.corpus_id, r.cosine)
        for r in ivf_index_search(c, "idx", queries, k=5, nprobe=3).collect()
    )
    assert res(cat_m) == res(cat_f) and res(cat_m)

    # COW at centroid granularity: partitions B never touched are SYMLINKS
    # into the pre-merge snapshot, not rewritten files
    v1 = cat_m.current_version("idx_postings")
    assert v1 != v0
    snap = os.path.join(str(tmp_path / "wh_m"), "idx_postings", v1)
    links = [d for d in os.listdir(snap) if os.path.islink(os.path.join(snap, d))]
    b_cents = {
        r.centroid_id
        for r in cat_m.read("idx_postings")
        .join(b.select("corpus_id"), "corpus_id", "left_semi")
        .select("centroid_id")
        .distinct()
        .collect()
    }
    all_parts = [d for d in os.listdir(snap) if d.startswith("centroid_id=")]
    assert 0 < len(b_cents) < len(all_parts), "batch must miss some lists"
    for d in all_parts:
        cid = int(d.split("=", 1)[1])
        if cid not in b_cents:
            assert d in links, f"untouched list {d} was rewritten"

    # idempotent replay: merging the same batch again changes nothing
    merge_ivf_index(cat_m, "idx", b)
    assert sorted(map(key, cat_m.read("idx_postings").collect())) == want


def test_q8_topk_matmul_path_identical(spark):
    """broadcast_q8_topk (int8 matmul scale path) returns the IDENTICAL
    relation as the expression-form q8_topk — the integer dot product is
    exact in any summation order, so the two paths cannot drift."""
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.operators.similarity import (
        broadcast_q8_topk,
        q8_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    c = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("c_embedding")
    )
    a = sorted(tuple(r) for r in q8_topk(q, c, k=5).collect())
    b = sorted(tuple(r) for r in broadcast_q8_topk(q, c, k=5).collect())
    assert a == b and len(a) == 40


def test_q8_quantize_edge_cases(spark):
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.operators.similarity import q8_quantize_expr

    df = spark.createDataFrame(
        [([0.0, 0.0],), ([1.0, -1.0],), ([0.5, -0.25],)],
        "e array<float>",
    )
    got = [
        (r.q.maxabs, list(r.q.q))
        for r in df.select(q8_quantize_expr(F.col("e")).alias("q")).collect()
    ]
    assert got[0] == (0.0, [0, 0])  # zero vector -> all-zero q, no div-by-0
    assert got[1] == (1.0, [127, -127])
    # 0.5 -> 127, -0.25 -> floor(-63.5+0.5) = -63 (round-half-up)
    assert got[2] == (0.5, [127, -63])


def test_q8_ranking_tracks_cosine_for_normalized_vectors(spark):
    # for L2-normalized inputs the q8 ranking equals the exact cosine
    # ranking except quantization near-ties; on the synthetic fixture the
    # top-1 neighbor (itself, score ~1) must always agree
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.operators.similarity import q8_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    c = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("c_embedding")
    )
    top1 = {
        r.query_id: r.corpus_id
        for r in q8_topk(q, c, k=1).collect()
    }
    assert top1 == {i: i for i in range(8)}  # self is always the nearest
