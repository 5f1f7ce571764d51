"""Structured Streaming ingest, embedding cache, retry client, version gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biocurator_mapper_spark.functions.embed import EMBED_MODEL_STUB, hash_embed_py
from biocurator_mapper_spark.ontology.version import (
    OntologyVersionGate,
    content_hash_of,
    version_info,
)
from biocurator_mapper_spark.pipeline.model_client import (
    RetryingEmbedder,
    embed_with_cache,
    is_retryable_error,
    EMBED_PROVIDERS,
)
from biocurator_mapper_spark.sources.catalog import ParquetCatalog
from biocurator_mapper_spark.sources.obo_json import obo_graph_from_dict
from biocurator_mapper_spark.streaming import (
    incremental_triples_query,
    stream_pages_from_directory,
)
from biocurator_mapper_spark.testdata import (
    comprehensive_obo_graph,
    generate_pages_rows,
    PAGES_SCHEMA,
)


def test_streaming_incremental_triples(spark, terms, tmp_path):
    landing = tmp_path / "landing"
    out = tmp_path / "triples"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()

    rows = generate_pages_rows(
        ["hemangiosarcoma", "apoptosis of T cells"], n_pages=20, seed=9,
        include_edge_rows=False,
    )
    # two "arrivals"
    spark.createDataFrame(rows[:10], PAGES_SCHEMA).write.parquet(str(landing / "b0"))
    spark.createDataFrame(rows[10:], PAGES_SCHEMA).write.parquet(str(landing / "b1"))

    stream = stream_pages_from_directory(spark, str(landing) + "/*")
    batches: list[tuple[int, int]] = []
    q = incremental_triples_query(
        stream, terms, str(out), str(ckpt), on_batch=lambda b, n: batches.append((b, n))
    )
    q.awaitTermination(120)

    got = spark.read.parquet(str(out))
    assert got.count() > 0
    assert sum(n for _, n in batches) == 20
    # restart with no new files → no new batches, no duplicate output
    n_before = got.count()
    q2 = incremental_triples_query(
        stream_pages_from_directory(spark, str(landing) + "/*"),
        terms, str(out), str(ckpt),
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(str(out)).count() == n_before


def test_retry_classifier():
    assert is_retryable_error("Rate limit exceeded, please retry")
    assert is_retryable_error("HTTP 503 server error")
    assert is_retryable_error("connection timed out")
    assert not is_retryable_error("Invalid API key provided")
    assert not is_retryable_error("HTTP 400 bad request")


def test_retrying_embedder_backoff(monkeypatch):
    calls = {"n": 0}

    def flaky(texts):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("429 rate limit")
        return [[0.0] * 4 for _ in texts]

    EMBED_PROVIDERS["_flaky_test"] = flaky
    try:
        e = RetryingEmbedder(provider="_flaky_test", base_delay=0.001)
        out = e(["a", "b"])
        assert len(out) == 2 and calls["n"] == 3 and e.retry_count == 2

        calls["n"] = 0

        def fatal(texts):
            calls["n"] += 1
            raise RuntimeError("401 authentication failed")

        EMBED_PROVIDERS["_flaky_test"] = fatal
        e2 = RetryingEmbedder(provider="_flaky_test", base_delay=0.001)
        with pytest.raises(RuntimeError):
            e2(["x"])
        assert calls["n"] == 1  # non-retryable → fail fast
    finally:
        del EMBED_PROVIDERS["_flaky_test"]


def _counting_stub(monkeypatch) -> list[str]:
    """Texts the stub provider is called with, from now on."""
    seen: list[str] = []
    stub = EMBED_PROVIDERS[EMBED_MODEL_STUB]

    def counting(texts):
        seen.extend(texts)
        return stub(texts)

    monkeypatch.setitem(EMBED_PROVIDERS, EMBED_MODEL_STUB, counting)
    return seen


def test_embed_with_cache(spark, tmp_path, monkeypatch):
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    rows = [(1, "alpha beta"), (2, "gamma delta epsilon zeta"), (3, "alpha beta")]
    seen = _counting_stub(monkeypatch)
    out1 = embed_with_cache(rows, catalog)
    assert [k for k, _ in out1] == [1, 2, 3]  # input order
    vecs = dict(out1)
    assert vecs[1] == vecs[3] != vecs[2]  # same text → same vector
    assert seen == ["alpha beta", "gamma delta epsilon zeta"]  # distinct misses
    # cache now holds 2 distinct texts, token_count apportioned per batch:
    # 6 whitespace tokens // 2 texts
    cache = catalog.read_log("_embedding_cache").collect()
    assert len({r.text_hash for r in cache}) == 2
    assert {r.token_count for r in cache} == {3}
    # second run: all hits — nothing embedded, no log file added
    log_files = sorted((tmp_path / "wh" / "_embedding_cache" / "log").iterdir())
    seen.clear()
    assert embed_with_cache(rows, catalog) == out1
    assert seen == []
    assert sorted((tmp_path / "wh" / "_embedding_cache" / "log").iterdir()) == log_files


def test_embed_with_cache_null_text_embeds_as_empty(spark, tmp_path):
    import hashlib

    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    out = embed_with_cache([("a", None), ("b", "")], catalog)
    assert out == [("a", hash_embed_py("")), ("b", hash_embed_py(""))]
    cache = catalog.read_log("_embedding_cache").collect()
    assert [r.text_hash for r in cache] == [hashlib.sha256(b"").hexdigest()]


def test_embed_with_cache_serves_spark_written_rows(spark, tmp_path, monkeypatch):
    """A cache log written by a Spark job (``sha2`` key, ``df.write``
    append) still hits: the driver-side key is byte-equal to ``sha2``,
    and a pyarrow-appended miss reads back with it as one log."""
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    vec = [0.5, 0.25, 0.125, 1.0]
    spark.createDataFrame(
        [("alpha beta", vec)], "t string, embedding array<float>"
    ).select(
        F.sha2("t", 256).alias("text_hash"),
        "embedding",
        F.lit(2).alias("token_count"),
        F.lit(EMBED_MODEL_STUB).alias("model"),
        F.current_timestamp().alias("cached_ts"),
    ).write.mode("append").parquet(str(tmp_path / "wh" / "_embedding_cache" / "log"))
    seen = _counting_stub(monkeypatch)
    out = embed_with_cache([("hit", "alpha beta"), ("miss", "gamma")], catalog)
    assert out == [("hit", vec), ("miss", hash_embed_py("gamma"))]
    assert seen == ["gamma"]
    seen.clear()
    assert embed_with_cache([("miss", "gamma"), ("hit", "alpha beta")], catalog) == [
        ("miss", hash_embed_py("gamma")),
        ("hit", vec),
    ]
    assert seen == []


def test_version_info_and_gate(spark, tmp_path):
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    doc = comprehensive_obo_graph()
    obo = obo_graph_from_dict(spark, doc)

    vi = version_info(obo).collect()[0]
    assert vi.node_count == 9
    assert vi.graph_id.endswith("doid.owl")
    h1 = content_hash_of(obo)
    assert len(h1) == 16

    from biocurator_mapper_spark.ontology import nodes_from_obo_graph, parse_terms

    builds = {"n": 0}

    def build(df):
        builds["n"] += 1
        return parse_terms(nodes_from_obo_graph(df))

    gate = OntologyVersionGate(catalog, "doid")
    t1, rebuilt1 = gate.ensure(obo, build)
    assert rebuilt1 and builds["n"] == 1
    assert t1.count() == 9

    # unchanged doc → skip rebuild
    t2, rebuilt2 = gate.ensure(obo, build)
    assert not rebuilt2 and builds["n"] == 1

    # changed doc (one node dropped) → rebuild + pointer swap
    doc2 = {"graphs": [dict(doc["graphs"][0])]}
    doc2["graphs"][0]["nodes"] = doc["graphs"][0]["nodes"][:-1]
    obo2 = obo_graph_from_dict(spark, doc2)
    t3, rebuilt3 = gate.ensure(obo2, build)
    assert rebuilt3 and builds["n"] == 2
    assert t3.count() == 8


def test_enabled_ontology_filter(spark):
    """F9: disabled ontologies drop out of the term relation; the absent
    flag defaults to enabled (reference app/main.py:367-371)."""
    from biocurator_mapper_spark.ontology.version import (
        enabled_ontologies,
        filter_enabled_terms,
    )

    config = {
        "GO": {"name": "Gene Ontology", "enabled": True},
        "DOID": {"name": "Disease Ontology", "enabled": False},
        "CHEBI": {"name": "ChEBI"},  # flag absent → enabled
    }
    assert enabled_ontologies(config) == ["CHEBI", "GO"]
    terms = spark.createDataFrame(
        [("GO:1", "a"), ("DOID:2", "b"), ("CHEBI:3", "c")],
        "term_id string, name string",
    )
    kept = {r.term_id for r in filter_enabled_terms(terms, config).collect()}
    assert kept == {"GO:1", "CHEBI:3"}


def test_merge_upsert_stream_two_batches(spark, tmp_path):
    """Streaming MERGE sink: one snapshot per micro-batch; updates win over
    base rows, intra-batch duplicate keys reduce to latest-by-order_col,
    untouched rows survive."""
    import os
    import time as _t

    from biocurator_mapper_spark.sources.catalog import ParquetCatalog
    from biocurator_mapper_spark.streaming.upsert import merge_upsert_stream

    landing = tmp_path / "in"
    landing.mkdir()
    schema = "doc_id long, name string, rev long"
    b0 = [(i, f"name{i}", 1) for i in range(1, 6)]
    b1 = [(1, "renamed", 2), (6, "stale-new", 2), (6, "latest-new", 3)]
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(str(landing / "b0"))
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(landing / "b1"))
    now = _t.time()
    for i, d in enumerate(["b0", "b1"]):
        for p in (landing / d).rglob("*"):
            os.utime(p, (now - 100 + i * 50, now - 100 + i * 50))
        os.utime(landing / d, (now - 100 + i * 50, now - 100 + i * 50))

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing) + "/*")
    )
    q = merge_upsert_stream(
        stream,
        cat,
        "docs",
        ["doc_id"],
        str(tmp_path / "ckpt"),
        order_col="rev",
        n_buckets=8,
    )
    q.awaitTermination(120)

    got = {r.doc_id: (r.name, r.rev) for r in cat.read("docs").collect()}
    assert got[1] == ("renamed", 2)        # matched -> updated by batch 2
    assert got[2] == ("name2", 1)          # untouched -> preserved
    assert got[6] == ("latest-new", 3)     # intra-batch dup -> latest rev
    assert len(got) == 6
    assert len(cat.versions("docs")) == 2  # one snapshot per micro-batch


def test_merge_upsert_all_map_payload_winner_is_content_deterministic(
    spark, tmp_path
):
    """With no order_col and an all-map payload (no orderable sort keys),
    the committed winner must be a function of row CONTENT, not partition
    order: the same duplicate-key rows landed in either order commit the
    identical row (the xxhash64(to_json(payload)) tiebreak)."""
    import os
    import time as _t

    from biocurator_mapper_spark.sources.catalog import ParquetCatalog
    from biocurator_mapper_spark.streaming.upsert import merge_upsert_stream

    schema = "doc_id long, attrs map<string,string>"
    rows = [(1, {"v": "alpha"}), (1, {"v": "beta"}), (2, {"v": "only"})]

    def run(tag, ordered_rows):
        landing = tmp_path / f"in_{tag}"
        landing.mkdir()
        spark.createDataFrame(ordered_rows, schema).coalesce(1).write.parquet(
            str(landing / "b0")
        )
        now = _t.time()
        for p in (landing / "b0").rglob("*"):
            os.utime(p, (now - 100, now - 100))
        cat = ParquetCatalog(spark, str(tmp_path / f"wh_{tag}"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(landing) + "/*")
        )
        q = merge_upsert_stream(
            stream, cat, "docs", ["doc_id"], str(tmp_path / f"ckpt_{tag}")
        )
        q.awaitTermination(120)
        return {r.doc_id: dict(r.attrs) for r in cat.read("docs").collect()}

    fwd = run("fwd", rows)
    rev = run("rev", rows[::-1])
    assert fwd == rev
    assert fwd[2] == {"v": "only"}
    assert fwd[1]["v"] in ("alpha", "beta")
