"""Plan-shape assertions (the scale guarantees) + skew helper correctness."""

from __future__ import annotations

import re

import pytest as _pytest


def _jobs_so_far(spark) -> int:
    """Jobs submitted so far, read from the status store."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    seq = sc.statusStore().jobsList(None)
    return seq.apply(0).jobId() + 1 if seq.size() else 0


def _assert_probe_exact(spark, df, label) -> None:
    """The planned-plan walk equals the RDD ground truth exactly, and the
    valve answers from it without launching a job."""
    from biocurator_mapper_spark.functions.partitions import (
        _planned_partitions,
        spread_partitions,
    )

    default_p = spark.sparkContext.defaultParallelism
    j0 = _jobs_so_far(spark)
    n = _planned_partitions(df)
    spread = spread_partitions(df)
    assert _jobs_so_far(spark) == j0, (label, "the probe must plan, not execute")
    actual = df.rdd.getNumPartitions()
    assert n == actual, (label, n, actual)
    assert spread == (default_p if actual < max(default_p // 2, 1) else None), label


def test_partition_probe_equals_rdd_count(spark):
    """The one partition probe reads the planned plan: on file scans across
    split sizings, a range, a repartition and an explode it equals
    ``df.rdd.getNumPartitions()`` exactly, and ``spread_partitions`` — the
    valve every operator calls — launches no job to decide."""
    from pyspark.sql import functions as F

    orig = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        for sf in ("0.001", "0.01", "0.1"):
            for maxpb in (str(256 * 1024 * 1024), str(1024 * 1024)):
                spark.conf.set("spark.sql.files.maxPartitionBytes", maxpb)
                df = spark.read.parquet(f"/root/testdata/sf{sf}/documents.parquet")
                _assert_probe_exact(spark, df, (sf, maxpb))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", orig)
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exploded = df.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
    for label, probed in (
        ("range", spark.range(100).select(F.col("id"))),
        # a pre-repartitioned corpus is NOT "one split": treating it as its
        # scan's count would re-shuffle the whole relation
        ("repartition", df.repartition(24)),
        ("explode", exploded),
    ):
        _assert_probe_exact(spark, probed, label)

from pyspark.sql import functions as F

from plan_inspect import (
    broadcast_exchanges,
    exchanges,
    plan_summary,
    pushed_filters,
)
from biocurator_mapper_spark.operators.skew import salted_agg, salted_join
from biocurator_mapper_spark.pipeline import build_triples
from biocurator_mapper_spark.testdata import pages_dataframe


def shuffles_touching(df, key_fragment: str) -> list[str]:
    """Shuffle exchanges whose partitioning expression mentions a key."""
    return [e for e in exchanges(df) if key_fragment in e]


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
    from plan_inspect import _plan_string, exchanges

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



def test_curate_plan_scans_docs_once(spark):
    """One curate evaluation reads the docs once and runs the gate chain
    once: its final executed plan has ONE parquet scan and no broadcast
    (a gated ⋈ reps self-join scans and gates on both sides)."""
    from biocurator_mapper_spark.pipeline.curation import curate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    staged = curate(docs)
    staged.collect()
    plan = (
        staged._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("FileScan parquet") == 1
    assert "BroadcastExchange" not in plan


def test_partition_probe_on_curated_frame_launches_no_job(spark):
    """Probing a curated frame's partition count reads the planned plan:
    ``df.rdd.getNumPartitions()`` EXECUTES the shuffle and broadcast
    stages below the root under AQE. Same answer, zero jobs."""
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.pipeline.curation import curate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept_ids = (
        curate(docs).where(F.col("curation_stage") == "kept").select("doc_id")
    )
    kept = docs.join(kept_ids, "doc_id", "left_semi")
    j0 = _jobs_so_far(spark)
    _assert_probe_exact(spark, kept, "kept")
    assert _jobs_so_far(spark) > j0  # the counter does see the RDD probe's jobs


def test_partition_probe_agrees_with_rdd_probe_off_the_curate_path(spark):
    """A union (the walk sums its children), a local relation, and a local
    relation joined to a file scan all get the RDD probe's count exactly.
    A union over an aggregate is probed without a job too: the walk reads
    the aggregate's planned exchange instead of running it."""
    from biocurator_mapper_spark.functions.partitions import (
        _planned_partitions,
        spread_partitions,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    both = docs.union(docs.where(F.col("doc_id") % 2 == 0))
    local = spark.createDataFrame([(i,) for i in range(10)], "x long")
    joined = local.join(docs, F.col("x") == F.col("doc_id"))
    for label, df in (("union", both), ("local", local), ("local_join", joined)):
        _assert_probe_exact(spark, df, label)
    agg = docs.groupBy("lang").agg(F.count("*").alias("n"))
    over_agg = docs.select("lang", F.col("doc_id").alias("n")).union(agg)
    j0 = _jobs_so_far(spark)
    n = _planned_partitions(over_agg)
    spread_partitions(over_agg)
    assert _jobs_so_far(spark) == j0, "the probe must plan, not execute"
    n_scan = _planned_partitions(docs)
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n == n_scan + n_shuffle, (n, n_scan, n_shuffle)
