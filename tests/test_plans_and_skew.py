"""Plan-shape assertions (the scale guarantees) + skew helper correctness."""

from __future__ import annotations

import re

import pytest as _pytest


def test_estimated_source_partitions_decision_parity(spark):
    """The cheap driver-side split estimate must land on the same side of
    the under-partitioned threshold (defaultParallelism // 2) as the RDD
    ground truth, across split sizings — it gates a repartition, so a
    wrong side either serializes a stage or inserts a useless shuffle."""
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.functions.partitions import (
        estimated_source_partitions,
    )

    thresh = max(spark.sparkContext.defaultParallelism // 2, 1)
    orig = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        for sf in ("0.001", "0.01", "0.1"):
            for maxpb in (str(256 * 1024 * 1024), str(1024 * 1024)):
                spark.conf.set("spark.sql.files.maxPartitionBytes", maxpb)
                df = spark.read.parquet(f"/root/testdata/sf{sf}/documents.parquet")
                est = estimated_source_partitions(df)
                actual = df.rdd.getNumPartitions()
                assert (est < thresh) == (actual < thresh), (
                    sf, maxpb, est, actual, thresh
                )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", orig)
    # non-file sources fall back to the RDD probe exactly
    rng = spark.range(100).select(F.col("id"))
    assert estimated_source_partitions(rng) == rng.rdd.getNumPartitions()
    # anything that CHANGES partitioning (repartition, explode, join)
    # must use ground truth — the scan-level estimate would call a
    # pre-repartitioned corpus "one split" and trigger a full re-shuffle
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rep = df.repartition(24)
    assert estimated_source_partitions(rep) == 24
    exploded = df.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
    assert (
        estimated_source_partitions(exploded)
        == exploded.rdd.getNumPartitions()
    )

from pyspark.sql import functions as F

from biocurator_mapper_spark.plans import (
    broadcast_exchanges,
    plan_summary,
    pushed_filters,
)
from biocurator_mapper_spark.plans.inspect import shuffles_touching
from biocurator_mapper_spark.operators.skew import salted_agg, salted_join
from biocurator_mapper_spark.pipeline import build_triples
from biocurator_mapper_spark.testdata import pages_dataframe


def test_triples_plan_single_corpus_shuffle(spark, terms):
    pages = pages_dataframe(spark, ["hemangiosarcoma"], n_pages=10, seed=1)
    triples = build_triples(pages, terms)
    # exactly one shuffle partitions on the corpus key (url); every other
    # exchange is ontology-sized side-input prep
    url_shuffles = shuffles_touching(triples, "url")
    assert len(url_shuffles) == 1, url_shuffles
    # ontology sides join via broadcast
    assert len(broadcast_exchanges(triples)) >= 2


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .where(F.col("l_shipdate") <= F.lit("1995-01-01").cast("timestamp"))
        .select("l_returnflag", "l_quantity")
    )
    pf = pushed_filters(df)
    assert pf and any("l_shipdate" in f for f in pf)
    s = plan_summary(df)
    assert s["n_scans"] == 1 and s["has_pushed_filters"]


def test_salted_agg_matches_plain_agg(spark):
    df = spark.createDataFrame(
        [(f"h{i % 3}", i, float(i)) for i in range(100)],
        "host string, n long, v double",
    )
    got = {
        r.host: (r.n_rows, r.sum_n, r.max_n)
        for r in salted_agg(
            df,
            ["host"],
            {"n_rows": ("n", "count"), "sum_n": ("n", "sum"), "max_n": ("n", "max")},
            n_salts=4,
        ).collect()
    }
    want = {
        r.host: (r.n_rows, r.sum_n, r.max_n)
        for r in df.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n").alias("sum_n"),
            F.max("n").alias("max_n"),
        )
        .collect()
    }
    assert got == want


def test_salted_join_matches_plain_join(spark):
    big = spark.createDataFrame(
        [(f"k{i % 5}", i) for i in range(200)], "key string, payload long"
    )
    small = spark.createDataFrame(
        [(f"k{i}", f"dim{i}") for i in range(5)], "key string, dim string"
    )
    got = sorted(
        (r.key, r.payload, r.dim)
        for r in salted_join(big, small, "key", n_salts=4).collect()
    )
    want = sorted(
        (r.key, r.payload, r.dim) for r in big.join(small, "key").collect()
    )
    assert got == want


def test_ivf_plan_has_no_global_sort(spark):
    """The IVF training sample is a hash filter, not orderBy().limit(): no
    rangepartitioning/Sort over the corpus anywhere in the top-k plan."""
    import numpy as np
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.operators.similarity import ivf_topk
    from biocurator_mapper_spark.plans.inspect import _plan_string, exchanges

    rng = np.random.default_rng(2)
    rows = [(f"v{i}", [float(x) for x in rng.standard_normal(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vid string, vec array<float>")
    q = emb.limit(5).select(
        F.col("vid").alias("query_id"), F.col("vec").alias("q_embedding")
    )
    c = emb.select(
        F.col("vid").alias("corpus_id"), F.col("vec").alias("c_embedding")
    )
    out = ivf_topk(q, c, dim=8, k=3, n_centroids=4, nprobe=2)
    plan = _plan_string(out)
    # no range partitioning (the physical footprint of a global orderBy)
    assert "rangepartitioning" not in plan.lower()
    for e in exchanges(out):
        # SinglePartition comes from this test's own limit(5) on the
        # bounded query side; the corpus side must shuffle by hash only
        assert (
            "RoundRobin" in e or "hashpartitioning" in e or "SinglePartition" in e
        ), e


def test_dedup_family_plan_shapes_pinned(spark):
    """The 100 TB-safe shapes of the dedup family, pinned on the EXECUTED
    plans: no row-at-a-time Python anywhere, the hot-shingle valve and the
    exact-decontamination benchmark side stay broadcast, and MinHash's
    shared subtrees materialize once (ReusedExchange, not re-evaluation)."""
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.operators.dedup import (
        exact_ngram_collisions,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def executed(df):
        df.collect()
        return (
            df._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )

    mh = executed(minhash_lsh_pairs(docs, "doc_id", "text"))
    assert "BatchEvalPython" not in mh and "ArrowEvalPython" not in mh
    assert mh.count("ReusedExchange") >= 2, "signature/set subtrees must reuse"

    ng = executed(ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5))
    assert "BatchEvalPython" not in ng
    assert "BroadcastExchange" in ng, "hot-shingle anti-join must broadcast"

    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    dx = executed(exact_ngram_collisions(corpus, bench, "doc_id", "text", n=13))
    assert "BroadcastExchange" in dx, "benchmark n-gram set must broadcast"
    assert "BatchEvalPython" not in dx
    # the corpus side must reach the semi-join without an EXTRA
    # corpus-wide shuffle: only the split-fix exchanges are allowed
    # before it (the under-partitioned-source valve: a REPARTITION_BY_NUM
    # exchange hash-keyed on _id, so the per-doc aggregates need no
    # second exchange) plus gram-keyed (h#) requirement exchanges
    valve = re.compile(r"hashpartitioning\(_id#\d+L?, \d+\), REPARTITION_BY_NUM")
    corpus_hash = [
        l
        for l in dx.splitlines()
        if "Exchange hashpartitioning" in l
        and "doc_id" not in l
        and not valve.search(l)
    ]
    assert not [l for l in corpus_hash if "h#" not in l], corpus_hash


def test_kg_triples_plan_shape_pinned(spark, terms):
    """The flagship plan's scale guarantees, pinned: one corpus scan-side
    MapInPandas (fused extract+scan+embed), ZERO ArrowEvalPython (no
    duplicated chained UDFs), and exactly one corpus hash shuffle (the
    per-url groupBy) besides any round-robin input-split fix."""
    from biocurator_mapper_spark.pipeline import build_triples
    from biocurator_mapper_spark.testdata import pages_dataframe

    pages = pages_dataframe(spark, ["hash join"], n_pages=8, seed=1)
    t = build_triples(pages, terms)
    plan = t._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert plan.count("ArrowEvalPython") == 0
    hash_shuffles = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "Broadcast" not in l
    ]
    assert len(hash_shuffles) == 1, hash_shuffles
    assert "url" in hash_shuffles[0]  # the one wide exchange keys on url
