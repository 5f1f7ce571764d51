"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG pipeline on sf0.001; ``queries()``
exposes one named DataFrame per implemented operator family from SURVEY.md §2
plus the training-data-pipeline suite (dedup / similarity / text analysis);
``oracle_sql()`` holds the DuckDB-equivalent SQL for every SQL-expressible
entry (same column names, same value semantics — doubles are produced by the
same left-to-right expression trees so they compare bit-identically; integer
aggregates are cast to BIGINT because DuckDB sums are HUGEINT).

Data-dependent oracles (the IVF centroids are trained on the corpus) read
``$SPARK_GRAFT_ORACLE_SF_DIR`` (default ``/root/testdata/sf0.01`` — the
scale the driver compares at) when ``oracle_sql()`` is generated.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ----------------------------------------------------------- shared fixtures

# Mention dictionary over the synthetic `documents` vocabulary (bigrams that
# occur in the corpus). (surface, term_id) — the inline analog of the parsed
# ontology surface map (SURVEY §2 J6).
# DERIVED from VOCAB_ROWS below (names + all_synonyms) so the dictionary
# can never drift from the vocab the pipeline actually parses; EXACT_DICT
# is the is_exact slice of the pipeline's surface map (names +
# exact_synonyms). Definitions follow VOCAB_ROWS.
DICT: list[tuple[str, str]]
EXACT_DICT: list[tuple[str, str]]

# canonical stopword lists — imported, not duplicated, so the oracle SQL
# can never drift from the Spark expressions
from biocurator_mapper_spark.functions.text import (  # noqa: E402
    _STOPWORDS as _EN,
    LANG_STOPWORDS as _LANGS,
)

# single-slice dimension frames: the default createDataFrame parallelizes
# tiny local rows into defaultParallelism slices, making every collect /
# broadcast build over them a 32-Python-task job (see functions.dims)
from biocurator_mapper_spark.functions.dims import (  # noqa: E402
    local_dim_df as _local_dim,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "documents")


# Deterministic crawl-capture synthesis for the URL tier: one messy URL per
# document row, derived purely from doc_id with SQL that PARSES IDENTICALLY
# in Spark SQL and DuckDB (CASE/||/CAST only) — ~2 captures share each page
# identity (doc_id % 250) while case noise, default ports, trailing
# slashes, tracking params, param order, and fragments vary per capture.
# The input hint's (url, warc_ts, html, text, lang) table carries exactly
# this shape; testdata has no url column, so the fixture derives one.
_URL_HOST_SQL = (
    "'site' || CAST((doc_id % 250) % 40 AS STRING) || "
    "CASE (doc_id % 250) % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.co.uk' "
    "WHEN 2 THEN '.org' ELSE '.net' END"
)
_URL_RAW_EXPR = (
    "CASE WHEN (doc_id % 250) % 3 = 0 THEN 'https' ELSE 'http' END || '://' "
    # userinfo-bearing captures (RFC 3986 §3.2): credentials and the
    # '@'-trick phishing shape must strip to the same canonical page
    "|| CASE WHEN doc_id % 13 = 0 THEN 'user:pw@' "
    "WHEN doc_id % 17 = 0 THEN 'evil.example.com@' ELSE '' END "
    f"|| CASE WHEN doc_id % 2 = 0 THEN upper({_URL_HOST_SQL}) "
    f"ELSE {_URL_HOST_SQL} END "
    "|| CASE WHEN doc_id % 3 = 0 THEN "
    "(CASE WHEN (doc_id % 250) % 3 = 0 THEN ':443' ELSE ':80' END) "
    "WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END "
    "|| '/p/' || CAST(doc_id % 250 AS STRING) "
    "|| CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END || '?' "
    "|| CASE WHEN doc_id % 2 = 0 THEN "
    "'utm_source=s' || CAST(doc_id AS STRING) || '&id=' || "
    "CAST(doc_id % 250 AS STRING) "
    "ELSE 'id=' || CAST(doc_id % 250 AS STRING) END "
    "|| CASE WHEN doc_id % 5 = 0 THEN '&REF=x' ELSE '' END "
    "|| CASE WHEN doc_id % 4 = 1 THEN '#sec' ELSE '' END"
)

# Host fixture for the PSL tier: exercises private-section suffixes
# (github.io, s3.amazonaws.com), the wildcard+exception family
# (*.kawasaki.jp / !city.kawasaki.jp), deep plain registries (co.uk),
# an unlisted TLD (heuristic fallback), and host case noise. Parses
# identically in Spark SQL and DuckDB (CASE/||/CAST only).
_PSL_HOST_SQL = (
    "CASE doc_id % 7 "
    "WHEN 0 THEN 'x' || CAST(doc_id % 5 AS STRING) || '.site' || "
    "CAST(doc_id % 11 AS STRING) || '.github.io' "
    "WHEN 1 THEN 'a' || CAST(doc_id % 3 AS STRING) || '.city.kawasaki.jp' "
    "WHEN 2 THEN 'b.shop' || CAST(doc_id % 4 AS STRING) || '.kawasaki.jp' "
    "WHEN 3 THEN 'deep.a.b.example' || CAST(doc_id % 6 AS STRING) || '.co.uk' "
    "WHEN 4 THEN 'n' || CAST(doc_id % 3 AS STRING) || '.example.test' "
    "WHEN 5 THEN 'app' || CAST(doc_id % 5 AS STRING) || '.s3.amazonaws.com' "
    f"ELSE CASE WHEN doc_id % 2 = 0 THEN upper({_URL_HOST_SQL}) "
    f"ELSE {_URL_HOST_SQL} END END"
)

# Mixture-weight fixture for mix_epoch_plan: integer parts for src0..15
# (src16-19 stay corpus-only -> weight 0) plus one weighted source absent
# from the corpus (srcX -> loud n_tokens=0 row).
_MIX_WEIGHTS = {f"src{i}": (i % 7) + 1 for i in range(16)}
_MIX_WEIGHTS["srcX"] = 3
_MIX_BUDGET = 1_000_000


# Plan memo for the correctness pass: several contract queries share one
# expensive LOGICAL PLAN (the kg pipeline's fused scan + rerank aggregate
# costs seconds of py4j/Catalyst work to CONSTRUCT, before any data moves).
# Sharing the DataFrame object dedups that compile cost, and small shared
# relations additionally persist so their later consumers read the
# materialized cache — results are unchanged (plans are deterministic).
# bench.py sets SPARK_GRAFT_QUERY_MEMO=0 so its min-of-2 estimator times
# full fresh-plan, fresh-compute passes (on that path nothing is EVER
# persisted — Spark's CacheManager would otherwise serve the cached
# relation to any later equivalent plan).
_MEMO: dict = {}

# sim_ann_ivf_indexed builds its persistent index once per (process,
# sf_dir) into ONE tempdir removed at exit — independent of _MEMO (the
# index lives on disk, not in a session) and of SPARK_GRAFT_QUERY_MEMO
# (the build is setup; the QUERY is the probe-pruned search).
_IVF_DIRS: dict = {}
_IVF_BUILT: dict = {}


def _ivf_index_dir(sf_dir: str) -> str:
    import atexit
    import shutil
    import tempfile

    d = _IVF_DIRS.get(sf_dir)
    if d is None:
        d = tempfile.mkdtemp(prefix="bcms_ivf_")
        _IVF_DIRS[sf_dir] = d
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _session_stopped(spark: SparkSession) -> bool:
    try:
        return spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return True  # unreachable JVM/context == dead session


def _evict_stale_memo(live: SparkSession) -> None:
    """Drop memo entries belonging to STOPPED sessions: each entry pins its
    SparkSession and persisted DataFrames, so a long-lived driver cycling
    sessions would otherwise accumulate dead-session objects (and their
    JVM-side cached plans) forever. One ``isStopped`` probe per distinct
    dead-candidate session, only on the build path (cache hits never pay
    py4j traffic — the memo exists to cut it)."""
    other = {}
    for k, (s, _) in _MEMO.items():
        if s is not live:
            other.setdefault(id(s), (s, []))[1].append(k)
    for s, keys in other.values():
        if _session_stopped(s):
            for k in keys:
                del _MEMO[k]


def _memo_df(
    spark: SparkSession,
    key: tuple,
    build: Callable[[], DataFrame],
    persist: bool = False,
) -> DataFrame:
    import os

    if os.environ.get("SPARK_GRAFT_QUERY_MEMO", "1") == "0":
        # NEVER persist on this path: persist() registers the logical plan
        # in Spark's CacheManager, and bench's second "fresh" pass would
        # silently read the cached relation instead of recomputing
        return build()
    k = (id(spark), key)
    ent = _MEMO.get(k)
    if ent is None or ent[0] is not spark:  # new session reusing an id
        _evict_stale_memo(spark)
        df = build()
        if persist:
            df = df.persist()
        _MEMO[k] = ent = (spark, df)  # spark ref pins id uniqueness
    return ent[1]


# parquet schemas keyed by file path: a bare spark.read.parquet() pays a
# JVM footer/schema-inference probe (~0.07-0.09 s) on EVERY call — with
# the plan memo off (bench) that is per query per pass. The schema of an
# immutable testdata file is a constant; caching it as a DDL string (no
# session objects) and passing it back via .schema() skips the probe
# while building the identical scan relation.
_SCHEMA_CACHE: dict = {}


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Memoized parquet scan: ~64 contract queries × a footer/schema probe
    per read adds seconds of pure constant overhead to the driver's
    correctness pass; one shared scan relation per (session, table) is
    result-identical (and bench disables the memo)."""

    def _build() -> DataFrame:
        path = f"{sf_dir}/{table}.parquet"
        schema = _SCHEMA_CACHE.get(path)
        if schema is None:
            df = spark.read.parquet(path)
            _SCHEMA_CACHE[path] = df.schema  # plain StructType, no session refs
            return df
        return spark.read.schema(schema).parquet(path)

    return _memo_df(spark, ("read", sf_dir, table), _build)


def _warm_python_workers(spark: SparkSession) -> None:
    """One trivial pandas-UDF job per session (memo-keyed): the daemon
    spawns one Python worker per core on the FIRST Arrow stage (~6× a warm
    stage, BENCH.md §3) — paying that on a 100k-row no-op instead of inside
    the flagship's fused scan. Skipped when the memo is disabled (bench
    does its own warmup and times fresh passes)."""
    import os

    if os.environ.get("SPARK_GRAFT_QUERY_MEMO", "1") == "0":
        return

    def _run():
        from pyspark.sql.functions import col, pandas_udf

        f = pandas_udf(lambda s: s, "long")
        spark.range(100000).select(f(col("id"))).count()
        return spark.range(1)  # memo slot filler

    _memo_df(spark, ("python_workers_warmed",), _run)


def _triples_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline's full output relation, one plan per session ×
    sf_dir (kg_triples / kg_exact_winner / kg_exact_degree all start here)."""
    from biocurator_mapper_spark.pipeline import build_triples

    _warm_python_workers(spark)

    # persist(): the relation is triple-sized (hundreds of rows at contract
    # scale) and three queries consume it — with the memo active (the
    # correctness pass), later consumers read the materialized cache
    # instead of re-running the fused scan. bench (memo off) never sees it.
    return _memo_df(
        spark,
        ("kg_triples_full", sf_dir),
        # term_rows: the vocab is a module constant, so the ontology side
        # needs neither a DataFrame build nor a collect job per fresh plan
        lambda: build_triples(
            _docs_as_pages(spark, sf_dir), None, term_rows=VOCAB_TERM_ROWS
        ),
        persist=True,
    )


def _one_exact_subjs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subjects of pages carrying exactly one exact-surface term — the
    SQL-derivable decision slice shared by kg_exact_winner/kg_exact_degree."""

    def _build() -> DataFrame:
        d = _docs(spark, sf_dir)
        ex = _local_dim(spark, EXACT_DICT, "surface string, term_id string")
        return (
            d.join(
                F.broadcast(ex),
                F.lower(F.col("text")).contains(F.col("surface")),
            )
            .groupBy("doc_id")
            .agg(F.countDistinct("term_id").alias("_n"))
            .where(F.col("_n") == 1)
            .select(F.concat(F.lit("doc://"), F.col("doc_id")).alias("subj"))
        )

    return _memo_df(spark, ("one_exact_subjs", sf_dir), _build, persist=True)


# (term_id, name, definition, exact_syn, narrow, broad, related, all_syn,
#  xrefs, namespace) — shared by _vocab_terms AND the independent Python
# re-derivation behind the kg_triples oracle.
VOCAB_ROWS: list[tuple] = [
    ("OP:0001", "table scan", "A full pass over a table reading every row in storage order.",
     ["scan join"], [], [], [], ["scan join"], ["XOP:SCAN"], "exec"),
    ("OP:0002", "hash join", "An equi join implemented by building a hash table on one side.",
     ["merge join"], ["sort merge"], [], [], ["merge join", "sort merge"], ["XOP:JOIN"], "exec"),
    ("OP:0003", "window agg", "An aggregation computed over a sliding or partitioned window frame.",
     [], [], [], [], [], ["XOP:AGG"], "exec"),
    ("OP:0004", "batch stream", "A micro batch execution mode for continuous streaming data.",
     [], [], [], [], [], ["XOP:STREAM"], "exec"),
    ("OP:0005", "key order", "Maintaining rows sorted by key for downstream merge operators.",
     ["order sort"], [], [], [], ["order sort"], ["XOP:SORT", "XOP:JOIN"], "exec"),
]

# each term's searchable_text ("name definition synonyms", the synonym
# slot skipped when empty), computed once here and fed to BOTH the
# driver-side term rows and the _vocab_terms DataFrame
VOCAB_SEARCHABLE = [
    " ".join([r[1], r[2]] + ([" ".join(r[7])] if r[7] else [])) for r in VOCAB_ROWS
]

# driver-side term rows for build_triples(term_rows=...): skips the
# collect job over the vocab DataFrame in every fresh kg plan build.
from types import SimpleNamespace as _NS  # noqa: E402

VOCAB_TERM_ROWS = [
    _NS(
        term_id=r[0],
        name=r[1],
        exact_synonyms=list(r[3]),
        all_synonyms=list(r[7]),
        cross_references=list(r[8]),
        searchable_text=text,
    )
    for r, text in zip(VOCAB_ROWS, VOCAB_SEARCHABLE)
]

DICT = [
    (surface, row[0])
    for row in VOCAB_ROWS
    for surface in (row[1], *row[7])  # name + all_synonyms
]
EXACT_DICT = [
    (surface, row[0])
    for row in VOCAB_ROWS
    for surface in (row[1], *row[3])  # name + exact_synonyms
]


def _vocab_terms(spark: SparkSession) -> DataFrame:
    """Tiny 'query-operators ontology' whose surfaces occur in `documents` —
    the dimension table for the flagship pipeline over testdata."""
    return _local_dim(
        spark,
        [(*r, text) for r, text in zip(VOCAB_ROWS, VOCAB_SEARCHABLE)],
        "term_id string, name string, definition string, exact_synonyms array<string>, "
        "narrow_synonyms array<string>, broad_synonyms array<string>, "
        "related_synonyms array<string>, all_synonyms array<string>, "
        "cross_references array<string>, namespace string, searchable_text string",
    )


def _docs_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one selectExpr = one py4j round trip for the whole projection (the
    # Column-API formulation cost ~170 — plan-construction time is the
    # dominant per-query cost at contract scale, see BENCH.md)
    return _docs(spark, sf_dir).selectExpr(
        "concat('doc://', doc_id) AS url",
        "cast('2026-01-01 00:00:00' AS timestamp)"
        " + make_interval(0, 0, 0, 0, 0, 0, doc_id) AS warc_ts",
        "cast(null AS binary) AS html",
        "text",
        "lang",
    )


def _dict_df(spark: SparkSession) -> DataFrame:
    return _local_dim(spark, DICT, "surface string, term_id string")


def _dict_values_sql() -> str:
    vals = ", ".join(f"('{s}', '{t}')" for s, t in DICT)
    return f"(VALUES {vals}) AS dic(surface, term_id)"


def _exact_dict_values_sql() -> str:
    vals = ", ".join(f"('{s}', '{t}')" for s, t in EXACT_DICT)
    return f"(VALUES {vals}) AS dic(surface, term_id)"


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# Transitive alias-closure over the vocab ontology's xref graph, ending in
# ``canon_map(term_id, canonical_id)`` — the independent re-derivation of
# operators/canonicalize.py::canonical_mapping (used by j7 + kg_exact_winner).
_CANON_CTES = """
e(a, b) AS (VALUES ('OP:0001', 'xref:XOP:SCAN'), ('OP:0002', 'xref:XOP:JOIN'), ('OP:0003', 'xref:XOP:AGG'), ('OP:0004', 'xref:XOP:STREAM'), ('OP:0005', 'xref:XOP:SORT'), ('OP:0005', 'xref:XOP:JOIN')),
bi AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
t(term_id) AS (VALUES ('OP:0001'), ('OP:0002'), ('OP:0003'), ('OP:0004'), ('OP:0005')),
reach(node, m) AS (
  SELECT a, a FROM (SELECT a FROM bi UNION SELECT b FROM bi)
  UNION
  SELECT bi.a, r.m FROM reach r JOIN bi ON bi.b = r.node
),
comp AS (SELECT node, min(m) AS c FROM reach GROUP BY node),
canon AS (
  SELECT comp.c, min(t.term_id) AS canonical_id
  FROM comp JOIN t ON t.term_id = comp.node
  GROUP BY comp.c
),
canon_map AS (
  SELECT t.term_id, coalesce(canon.canonical_id, t.term_id) AS canonical_id
  FROM t
  LEFT JOIN comp ON comp.node = t.term_id
  LEFT JOIN canon ON canon.c = comp.c
)
"""


# ------------------------------------------------------------------ entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents → ontology-mapped triples at sf0.001."""
    from biocurator_mapper_spark.pipeline import build_triples

    pages = _docs_as_pages(spark, "/root/testdata/sf0.001")
    terms = _vocab_terms(spark)
    return build_triples(pages, terms)


# ----------------------------------------------------------------- queries


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from biocurator_mapper_spark.functions.text import (
        content_hash,
        curie_normalize,
        doc_fingerprint,
        lang_id_expr,
        token_count,
        truncate_with_ellipsis,
    )
    from biocurator_mapper_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_dup_pairs,
    )
    from biocurator_mapper_spark.operators.mentions import mention_candidates
    from biocurator_mapper_spark.operators.similarity import lsh_topk
    from biocurator_mapper_spark.operators.topk import brute_force_topk_join

    def p1_parse_terms(spark, sf_dir):
        # the central parse stage (P1-P7, F1, U1-U3) on the full fixture
        # corpus — the DuckDB oracle re-derives every field from the SAME
        # inline OBO JSON with json functions, so the reference semantics
        # (CURIE transform, typed synonyms, xref union order, namespace,
        # filter(None) searchable text, malformed-node drops) are checked
        # end-to-end against an independent implementation
        from biocurator_mapper_spark.ontology import nodes_from_obo_graph, parse_terms
        from biocurator_mapper_spark.sources.obo_json import obo_graph_from_dict
        from biocurator_mapper_spark.testdata import full_fixture_graph

        obo = obo_graph_from_dict(spark, full_fixture_graph(perf_n=5))
        terms = parse_terms(nodes_from_obo_graph(obo))
        return terms.select(
            "term_id",
            "name",
            "definition",
            "namespace",
            F.array_join("all_synonyms", "|").alias("all_synonyms_joined"),
            F.array_join("exact_synonyms", "|").alias("exact_synonyms_joined"),
            F.array_join("cross_references", "|").alias("xrefs_joined"),
            "searchable_text",
        )

    def p2_curie_normalize(spark, sf_dir):
        part = _read(spark, sf_dir, "part")
        uri = F.concat(F.lit("http://purl.obolibrary.org/obo/PART_"), F.col("p_partkey"))
        return part.select(
            F.col("p_partkey").alias("part_key"),
            curie_normalize(uri).alias("curie"),
        )

    def p7_searchable_text(spark, sf_dir):
        part = _read(spark, sf_dir, "part")
        return part.select(
            F.col("p_partkey").alias("part_key"),
            F.concat_ws(
                " ",
                F.nullif(F.col("p_name"), F.lit("")),
                F.nullif(F.col("p_brand"), F.lit("")),
                F.nullif(F.col("p_type"), F.lit("")),
            ).alias("searchable_text"),
        )

    def p8_searchable_config(spark, sf_dir):
        from biocurator_mapper_spark.ontology.parser import searchable_text_config

        part = _read(spark, sf_dir, "part")
        return part.select(
            F.col("p_partkey").alias("part_key"),
            searchable_text_config(
                F.col("p_name"),
                F.col("p_type"),
                [F.array(F.col("p_brand"))],
                lowercase=True,
                remove_punctuation=True,
            ).alias("searchable_text"),
        )

    def emb_cosine_pairs_exact(spark, sf_dir):
        # brute-force near-dup pairs among a bounded query slice (the
        # LSH-bucketed scale variant is pinned against this in pytest)
        emb = _read(spark, sf_dir, "embeddings")
        from biocurator_mapper_spark.functions.embed import cosine_expr

        a = emb.where(F.col("vec_id") < 100).select(
            F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va")
        )
        b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
        return (
            a.crossJoin(F.broadcast(b))
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", cosine_expr("_va", "_vb"))
            .where(F.col("cosine") >= 0.4)
            .select("id_a", "id_b", "cosine")
        )

    def p9_truncate_text(spark, sf_dir):
        return _docs(spark, sf_dir).select(
            "doc_id", truncate_with_ellipsis(F.col("text"), 100).alias("embed_text")
        )

    def p13_content_hash(spark, sf_dir):
        orders = _read(spark, sf_dir, "orders")
        return orders.select(
            F.col("o_orderkey").alias("order_key"),
            content_hash(
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderpriority").alias("priority"),
            ).alias("content_hash"),
        )

    def f2_quality_filter(spark, sf_dir):
        # min-length + exclude-pattern gate, reference semantics over documents
        d = _docs(spark, sf_dir)
        return d.where(
            (F.length("text") >= 100)
            & ~F.lower(F.col("text")).contains("slow")
            & (F.trim(F.col("text")) != "")
        ).select("doc_id", "n_chars")

    def w2_keep_last_n(spark, sf_dir):
        from pyspark.sql import Window

        e = _read(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            e.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 10)
            .select("user_id", "event_id", F.col("rn").cast("bigint").alias("rn"))
        )

    def w3_latest_record(spark, sf_dir):
        e = _read(spark, sf_dir, "events")
        return e.groupBy("user_id").agg(
            F.max_by("event_id", F.struct(F.col("ts"), F.col("event_id"))).alias(
                "latest_event_id"
            ),
            F.max("ts").alias("latest_ts"),
        )

    def j6_mention_detect(spark, sf_dir):
        d = _docs(spark, sf_dir).select(
            F.col("doc_id"), F.col("text").alias("extracted_text")
        )
        out = mention_candidates(d, _dict_df(spark))
        return out.select("doc_id", "mention", "term_id")

    def j5_topk_similarity(spark, sf_dir):
        emb = _read(spark, sf_dir, "embeddings")
        queries_df = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
        )
        corpus = emb.select(
            F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("c_embedding")
        )
        out = brute_force_topk_join(
            queries_df, corpus, k=5, query_id_col="query_id", corpus_id_col="corpus_id",
            # 10 probe rows vs the full corpus: stream the corpus so the
            # nested loop parallelizes over its splits instead of running
            # every pair inside the one task holding the probes
            broadcast_side="queries",
        )
        return out.select(
            "query_id", "corpus_id", F.col("rank").cast("bigint").alias("rank"), "cosine"
        )

    def j5b_broadcast_matmul_topk(spark, sf_dir):
        # the scale-path top-k (broadcast numpy matmul in mapInPandas) must
        # produce the identical relation as the SQL brute force
        from biocurator_mapper_spark.operators.topk import (
            broadcast_topk,
            collect_corpus_matrix,
        )

        emb = _read(spark, sf_dir, "embeddings")
        ids, mat = collect_corpus_matrix(
            emb.select(F.col("vec_id").cast("string").alias("term_id"), "embedding")
        )
        queries_df = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").cast("string").alias("url"), "embedding"
        )
        out = broadcast_topk(queries_df, ids, mat, k=5)
        return out.select(
            F.col("url").cast("bigint").alias("query_id"),
            F.col("term_id").cast("bigint").alias("corpus_id"),
            F.col("rank").cast("bigint").alias("rank"),
        )

    def j1_broadcast_enrich(spark, sf_dir):
        orders = _read(spark, sf_dir, "orders")
        cust = _read(spark, sf_dir, "customer")
        nation = _read(spark, sf_dir, "nation")
        return (
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .select(
                F.col("o_orderkey").alias("order_key"),
                F.col("c_name").alias("customer_name"),
                F.col("n_name").alias("nation_name"),
            )
        )

    def j3_antijoin_unprocessed(spark, sf_dir):
        part = _read(spark, sf_dir, "part")
        li = _read(spark, sf_dir, "lineitem")
        return part.join(
            li, part.p_partkey == li.l_partkey, "left_anti"
        ).select(F.col("p_partkey").alias("part_key"))

    def a1_stage_counters(spark, sf_dir):
        e = _read(spark, sf_dir, "events")
        # per-row cents quantization + integer sum: order-independent and
        # engine-exact (round(sum(double)) depends on partial-agg order)
        return e.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("sum_value_cents"),
            F.countDistinct("user_id").alias("n_users"),
        )

    def a2_throughput(spark, sf_dir):
        e = _read(spark, sf_dir, "events")
        return e.groupBy("event_type").agg(
            (
                F.count(F.lit(1))
                / F.greatest(
                    F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")),
                    F.lit(1),
                ).cast("double")
            ).alias("rows_per_s")
        )

    def agg_pricing_summary(spark, sf_dir):
        li = _read(spark, sf_dir, "lineitem")
        return (
            li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                # integer-quantized measures (x100): per-row quantize, then
                # an order-independent integer sum — exact in every engine
                F.sum(
                    F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("bigint")
                )
                .cast("bigint")
                .alias("sum_qty_x100"),
                F.sum(
                    F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                        "bigint"
                    )
                )
                .cast("bigint")
                .alias("sum_base_price_cents"),
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                        + F.lit(0.5)
                    ).cast("bigint")
                )
                .cast("bigint")
                .alias("sum_disc_price_cents"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )

    def join_top_customers_per_nation(spark, sf_dir):
        from pyspark.sql import Window

        orders = _read(spark, sf_dir, "orders")
        cust = _read(spark, sf_dir, "customer")
        nation = _read(spark, sf_dir, "nation")
        spend = (
            orders.groupBy("o_custkey")
            # exact cents: a rounded double total could tie-flip who makes
            # the per-nation top-3 between engines
            .agg(
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "bigint"
                    )
                )
                .cast("bigint")
                .alias("total_spend_cents")
            )
            .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        )
        w = Window.partitionBy("n_name").orderBy(
            F.desc("total_spend_cents"), F.asc("o_custkey")
        )
        return (
            spend.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select(
                F.col("n_name").alias("nation_name"),
                F.col("o_custkey").alias("cust_key"),
                "total_spend_cents",
                F.col("rn").cast("bigint").alias("rn"),
            )
        )

    def events_hourly_windows(spark, sf_dir):
        e = _read(spark, sf_dir, "events")
        return e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact-integer numerator / exact count → one double division,
            # identical in every engine (avg(double) is order-dependent)
            (
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
                )
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_value_cents"),
        )

    def a3_batch_count(spark, sf_dir):
        e = _read(spark, sf_dir, "events")
        return e.groupBy("event_type").agg(
            F.ceil(F.count(F.lit(1)) / F.lit(100)).alias("total_batches")
        )

    def a4_reject_tally(spark, sf_dir):
        d = _docs(spark, sf_dir)
        reason = (
            F.when(F.length("text") < 100, F.lit("too_short"))
            .when(F.lower(F.col("text")).contains("slow"), F.lit("excluded_pattern"))
            .otherwise(F.lit("kept"))
        )
        return d.groupBy(reason.alias("reject_reason")).agg(
            F.count(F.lit(1)).alias("n_docs")
        )

    def p11_json_parse(spark, sf_dir):
        e = _read(spark, sf_dir, "events")
        parsed = F.from_json(F.col("props"), "k int")
        return e.select(
            "event_id", parsed["k"].alias("k_value")
        ).where(F.col("k_value").isNotNull())

    def skew_salted_host_stats(spark, sf_dir):
        from biocurator_mapper_spark.operators.skew import salted_agg

        d = _docs(spark, sf_dir)
        return salted_agg(
            d,
            ["source"],
            {
                "n_docs": ("doc_id", "count"),
                "sum_chars": ("n_chars", "sum"),
                "max_chars": ("n_chars", "max"),
            },
            n_salts=8,
        )

    def _curated(spark, sf_dir):
        # shared logical plan: curate()'s fused signal tree is expensive to
        # CONSTRUCT; both curation queries start from the same relation
        from biocurator_mapper_spark.pipeline.curation import curate

        return _memo_df(
            spark, ("curated", sf_dir), lambda: curate(_docs(spark, sf_dir))
        )

    def curation_pipeline(spark, sf_dir):
        return _curated(spark, sf_dir)

    def curation_funnel_report(spark, sf_dir):
        from biocurator_mapper_spark.pipeline.curation import curation_funnel

        return curation_funnel(_curated(spark, sf_dir))

    def dedup_exact(spark, sf_dir):
        return exact_dedup(_docs(spark, sf_dir), "doc_id", ["text"]).select(
            "text", "representative_id", "dup_count"
        )

    def dedup_fingerprint(spark, sf_dir):
        d = _docs(spark, sf_dir)
        return d.groupBy(doc_fingerprint(F.col("text")).alias("fingerprint")).agg(
            F.min("doc_id").alias("representative_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )

    def dedup_ngram_jaccard(spark, sf_dir):
        return ngram_jaccard_pairs(
            _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=0.5
        )

    def _mh_pairs(spark, sf_dir):
        # the within-corpus LSH pair relation, shared (memo + persist) by
        # dedup_minhash_lsh AND dedup_clusters — clusters is exactly the
        # CC closure over this same pair set
        return _memo_df(
            spark,
            ("mh_pairs", sf_dir),
            lambda: minhash_lsh_pairs(
                _docs(spark, sf_dir), "doc_id", "text", n=3, num_hashes=16,
                bands=4, threshold=0.5,
            ),
            persist=True,
        )

    def dedup_minhash_lsh(spark, sf_dir):
        return _mh_pairs(spark, sf_dir)

    def _lsh_clusters(spark, sf_dir):
        # connected-component cluster map over the shared LSH pair
        # relation — CC iterates (jobs run at build), so the memo saves
        # the whole closure for every consumer (dedup_clusters,
        # dedup_clusters_best)
        from biocurator_mapper_spark.operators.canonicalize import (
            clusters_from_pairs,
        )

        def _build():
            return clusters_from_pairs(
                _docs(spark, sf_dir), _mh_pairs(spark, sf_dir), "doc_id"
            )

        return _memo_df(spark, ("lsh_clusters", sf_dir), _build, persist=True)

    def dedup_clusters(spark, sf_dir):
        return _lsh_clusters(spark, sf_dir)

    def _cross_pairs(spark, sf_dir):
        # cross-corpus LSH pair relation, shared by dedup_cross_pairs AND
        # dedup_decontaminate (decontaminate = anti-join on these pairs).
        # FLAGGED variant: both corpora are one table here, so signatures
        # build once over the union (halves the explode+md5 work vs
        # splitting first; result-identical, same oracle)
        from biocurator_mapper_spark.operators.dedup import (
            cross_minhash_pairs_flagged,
        )

        def _build():
            d = _docs(spark, sf_dir).withColumn(
                "_is_bench", F.col("doc_id") % 20 == 0
            )
            return cross_minhash_pairs_flagged(
                d, "doc_id", "text", "_is_bench",
                n=3, num_hashes=16, bands=4, threshold=0.5,
            )

        return _memo_df(spark, ("cross_pairs", sf_dir), _build, persist=True)

    def dedup_cross_pairs(spark, sf_dir):
        # train/eval decontamination primitive: cross-corpus LSH pairs
        return _cross_pairs(spark, sf_dir)

    def _winnow_pairs(spark, sf_dir):
        # winnowing candidate pairs, shared by dedup_substring_candidates
        # and dedup_substring_spans (spans = verify step over these pairs)
        from biocurator_mapper_spark.operators.dedup import (
            substring_dup_candidates,
        )

        def _build():
            return substring_dup_candidates(
                _docs(spark, sf_dir), "doc_id", "text", k=20, w=30
            )

        return _memo_df(spark, ("winnow_pairs", sf_dir), _build, persist=True)

    def dedup_substring_candidates(spark, sf_dir):
        # exact-substring tier (Lee et al. / MOSS winnowing): docs sharing
        # any normalized run ≥ w+k-1 = 49 chars share a winnowed anchor —
        # complete candidate generation for long lifted passages that
        # whole-doc MinHash can't see
        return _winnow_pairs(spark, sf_dir)

    def dedup_substring_spans(spark, sf_dir):
        # the VERIFY step of the exact-substring tier: per candidate pair,
        # the longest shared normalized span (length only — lengths are
        # implementation-independent, so the oracle re-derives them with
        # difflib, a genuinely independent LCS implementation)
        from biocurator_mapper_spark.operators.dedup import (
            substring_dup_spans,
        )

        d = _docs(spark, sf_dir)
        pairs = _winnow_pairs(spark, sf_dir)
        return substring_dup_spans(d, pairs, "doc_id", "text", min_len=49).select(
            "id_a", "id_b", "span_len"
        )

    def _exsub_spans(spark, sf_dir):
        # shared by dedup_exactsubstr_spans and dedup_exactsubstr_cut
        from biocurator_mapper_spark.operators.exactsubstr import (
            exact_substring_spans,
        )

        def _build():
            return exact_substring_spans(
                _docs(spark, sf_dir), "doc_id", "text", length=50
            )

        return _memo_df(spark, ("exsub_spans", sf_dir), _build, persist=True)

    def dedup_exactsubstr_spans(spark, sf_dir):
        # the EXACT tier at threshold L=50 (Lee et al. ExactSubstr,
        # suffix-array-equivalent): maximal normalized spans covered by
        # duplicated 50-grams, each gram's globally-first occurrence
        # kept — no candidate/verify split, exact AT the threshold
        # (unlike the winnowing tier, complete only for runs >= w+k-1).
        # Oracle: pure SQL grouping the gram STRINGS — never re-derives
        # the polynomial hashes
        return _exsub_spans(spark, sf_dir)

    def dedup_exactsubstr_cut(spark, sf_dir):
        # the CUT step: spans removed from the normalized text, kept
        # segments rejoined — the corpus ExactSubstr would actually train on
        from biocurator_mapper_spark.operators.exactsubstr import (
            cut_spans_by_range,
        )

        return cut_spans_by_range(
            _docs(spark, sf_dir), _exsub_spans(spark, sf_dir), "doc_id", "text"
        )

    def sample_dsir_weights(spark, sf_dir):
        # DSIR importance scores (Xie et al. 2023): raw docs scored by how
        # target-like their hashed-bigram distribution is. Counts are
        # engine-side (Spark here, DuckDB in the oracle — independent);
        # the per-bucket quantized log-ratios are the SAME pure-Python
        # ints on both sides (the temperature-threshold oracle pattern)
        from biocurator_mapper_spark.operators.importance import (
            bucket_counts,
            dsir_log_ratios,
            importance_scores,
        )

        d = _docs(spark, sf_dir)
        target = d.where(F.col("source").isin("src0", "src1"))
        raw = d.where(~F.col("source").isin("src0", "src1"))
        ratios = dsir_log_ratios(
            bucket_counts(target, "text"), bucket_counts(raw, "text")
        )
        return importance_scores(raw, "doc_id", "text", ratios)

    def dedup_exactsubstr_incremental(spark, sf_dir):
        # the exact tier against STORED gram state: only the increment
        # (doc_id >= 250) is hashed; stored grams arrive as bare keys.
        # Under monotone ingestion this EQUALS the batch tier restricted
        # to the increment — the oracle is the full-corpus SQL span
        # derivation with exactly that restriction
        from biocurator_mapper_spark.operators.exactsubstr import (
            gram_state,
            incremental_substring_spans,
        )

        d = _docs(spark, sf_dir)
        state = gram_state(
            d.where(F.col("doc_id") < 250), "doc_id", "text", length=50
        )
        return incremental_substring_spans(
            d.where(F.col("doc_id") >= 250), state, "doc_id", "text", length=50
        )

    def url_canonical(spark, sf_dir):
        # crawl-table URL canonicalization: lowercase scheme/host, default
        # ports + fragments + tracking params stripped, query sorted,
        # trailing slash trimmed; plus the registrable-domain grouping
        # key. Pure codegen expressions — free rider on the scan
        from biocurator_mapper_spark.operators.urls import (
            registrable_domain,
            url_normalize,
            url_parts,
        )

        cap = _docs(spark, sf_dir).select(
            "doc_id", F.expr(_URL_RAW_EXPR).alias("url_raw")
        )
        return cap.select(
            "doc_id",
            "url_raw",
            url_normalize(F.col("url_raw")).alias("url_norm"),
            registrable_domain(url_parts(F.col("url_raw"))["host"]).alias(
                "domain"
            ),
        )

    def url_registrable_psl(spark, sf_dir):
        # PSL registrable domains over a host fixture that exercises
        # private-section suffixes, the wildcard+exception family, deep
        # plain registries, and the heuristic fallback for unlisted TLDs.
        # Physical shape: one left BroadcastHashJoin per rule label-count
        # (zero shuffles, row-preserving), codegen prevailing-rule pick.
        from biocurator_mapper_spark.operators.psl import with_psl_domain

        d = _docs(spark, sf_dir).select(
            "doc_id", F.expr(_PSL_HOST_SQL).alias("host")
        )
        return with_psl_domain(d, "host", "domain_psl").select(
            "doc_id", F.lower(F.col("host")).alias("host"), "domain_psl"
        )

    def dedup_url_latest(spark, sf_dir):
        # latest-capture-per-canonical-url dedup: the crawl table's
        # snapshot view — one struct-max hash agg, recaptures collapse
        # map-side (no hot-reducer row_number window)
        from biocurator_mapper_spark.operators.urls import (
            dedup_url_latest as _latest,
        )

        cap = _docs(spark, sf_dir).select(
            "doc_id",
            F.expr(_URL_RAW_EXPR).alias("url"),
            (F.col("doc_id") * 3600).alias("warc_ts"),
            F.col("doc_id").alias("tb"),
        )
        return _latest(cap, "url", "warc_ts", "tb", ["doc_id"])

    def sample_domain_cap(spark, sf_dir):
        # the Zipfian head-domain valve end-to-end: registrable domain off
        # the raw capture URL, then the deterministic per-domain cap
        # (id-hash order, resume-stable) — URL tier composed with the
        # sampling tier
        from biocurator_mapper_spark.operators.sampling import cap_per_stratum
        from biocurator_mapper_spark.operators.urls import (
            registrable_domain,
            url_parts,
        )

        cap = _docs(spark, sf_dir).select(
            "doc_id", F.expr(_URL_RAW_EXPR).alias("url_raw")
        )
        d = cap.select(
            "doc_id",
            registrable_domain(url_parts(F.col("url_raw"))["host"]).alias(
                "domain"
            ),
        )
        return cap_per_stratum(d, "domain", 3, "doc_id")

    def mix_epoch_plan(spark, sf_dir):
        # token-budget mixture planning (LLaMA/Dolma-style data mixing):
        # per source, the budget share + whole epochs + remainder tokens a
        # dataloader executes. All-integer arithmetic (weights are parts,
        # shares are DIV) — one map-side-combined agg over the corpus
        # joined to a dimension-sized broadcast weights relation.
        # Fixture exercises corpus-only sources (weight 0) AND a weighted
        # source missing from the corpus (loud n_tokens=0 row).
        from biocurator_mapper_spark.operators.mixing import epoch_plan

        d = _docs(spark, sf_dir).select(
            "doc_id",
            "source",
            token_count(F.col("text")).cast("long").alias("n_tok"),
        )
        return epoch_plan(d, "source", "n_tok", _MIX_WEIGHTS, _MIX_BUDGET)

    def dedup_clusters_best(spark, sf_dir):
        # quality-aware keep-one: each LSH duplicate cluster keeps its
        # HIGHEST-quality member (distinct-token count as the integer
        # score; ties -> min id) instead of the min id — what curation
        # actually wants when recaptures differ in extraction quality
        from biocurator_mapper_spark.operators.canonicalize import (
            clusters_from_pairs_best,
        )
        from biocurator_mapper_spark.operators.dedup import tokens_expr

        base = _docs(spark, sf_dir).select(
            "doc_id",
            F.size(F.array_distinct(tokens_expr(F.col("text"))))
            .cast("long")
            .alias("q"),
        )
        return clusters_from_pairs_best(
            base,
            _mh_pairs(spark, sf_dir),
            "doc_id",
            "q",
            components=_lsh_clusters(spark, sf_dir),
        )

    def sample_ccnet_buckets(spark, sf_dir):
        # CCNet-style per-source quality tiers: ntile(3) within each
        # source over (integer score desc, id asc) — bucket 1 = head.
        # Deterministic order statistics, no thresholds to tune.
        from biocurator_mapper_spark.operators.dedup import tokens_expr
        from biocurator_mapper_spark.operators.sampling import quality_buckets

        d = _docs(spark, sf_dir).select(
            "doc_id",
            "source",
            F.size(F.array_distinct(tokens_expr(F.col("text"))))
            .cast("long")
            .alias("q"),
        )
        return quality_buckets(d, "source", "q", "doc_id", n_buckets=3).select(
            "doc_id",
            "source",
            "q",
            F.col("quality_bucket").cast("bigint").alias("quality_bucket"),
        )

    def kg_pagerank(spark, sf_dir):
        # link-graph PageRank (crawl-prioritization / page-quality
        # signal) in fixed-point INTEGER arithmetic — 5 damped power
        # iterations over the deterministic host graph; per iteration one
        # edges⋈ranks join + one map-side-combined agg, ranks
        # localCheckpoint'd (the CC plan-doubling lesson). Oracle unrolls
        # the identical integer recurrence, bit-for-bit.
        from biocurator_mapper_spark.operators.graph import pagerank_fixed

        edges = _docs(spark, sf_dir).sparkSession.sql(
            _LINK_EDGES_SQL.replace(
                "FROM documents",
                f"FROM parquet.`{sf_dir}/documents.parquet`",
            )
        )
        return pagerank_fixed(edges, "src", "dst", iterations=5)

    def url_blocklist_filter(spark, sf_dir):
        # the policy/compliance gate: registrable domains on the
        # blocklist dropped via a broadcast anti-join (zero shuffles)
        from biocurator_mapper_spark.operators.urls import (
            filter_blocked_domains,
            registrable_domain,
            url_parts,
        )

        cap = _docs(spark, sf_dir).select(
            "doc_id", F.expr(_URL_RAW_EXPR).alias("url_raw")
        )
        d = cap.select(
            "doc_id",
            registrable_domain(url_parts(F.col("url_raw"))["host"]).alias(
                "domain"
            ),
        )
        return filter_blocked_domains(d, "domain", list(_BLOCKED_DOMAINS))

    def url_snapshot_diff(spark, sf_dir):
        # incremental-crawl primitive: classify every canonical page
        # across two synthetic snapshots (old = docs < 400 with their
        # fingerprint; new = docs ≥ 100, every 7th with mutated content)
        # as added / removed / changed / unchanged — one full-outer join,
        # downstream tiers re-run on added+changed only
        from biocurator_mapper_spark.operators.urls import crawl_snapshot_diff

        d = _docs(spark, sf_dir).select(
            "doc_id",
            F.md5(F.col("text")).alias("dg"),
        )
        old = d.where(F.col("doc_id") < 400)
        new = d.where(F.col("doc_id") >= 100).select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0, F.md5(F.concat(F.col("dg"), F.lit("v2"))))
            .otherwise(F.col("dg"))
            .alias("dg"),
        )
        return crawl_snapshot_diff(old, new, "doc_id", "dg")

    def dedup_contamination_report(spark, sf_dir):
        # release-audit view of the same relation: per contaminated
        # benchmark doc, how many corpus near-dups and the worst overlap
        return (
            _cross_pairs(spark, sf_dir)
            .groupBy("benchmark_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_contaminated"),
                F.max("jaccard").alias("max_jaccard"),
            )
        )

    def text_lm_score(spark, sf_dir):
        # CCNet-style char-LM quality signal: mean quantized conditional
        # trigram probability under a model trained on the corpus itself
        from biocurator_mapper_spark.operators.lm_quality import lm_quality_score

        return lm_quality_score(_docs(spark, sf_dir), "doc_id", "text")

    def dedup_decontaminate_exact(spark, sf_dir):
        # GPT-3/PaLM-style exact 13-gram collision rule: a corpus doc is
        # contaminated if ANY word 13-gram also occurs in a benchmark doc
        from biocurator_mapper_spark.operators.dedup import decontaminate_exact

        d = _docs(spark, sf_dir)
        return decontaminate_exact(
            d.where(F.col("doc_id") % 20 != 0).select("doc_id", "source", "text"),
            d.where(F.col("doc_id") % 20 == 0),
            "doc_id", "text", n=13,
        ).select("doc_id", "source")

    def dedup_decontaminate_bloom(spark, sf_dir):
        # the memory-bounded variant of the exact 13-gram rule: benchmark
        # grams become a fixed-size broadcast Bloom bitmap, only Bloom
        # candidates reach the exact verify join — result-IDENTICAL to
        # dedup_decontaminate_exact (no false negatives + exact verify),
        # which is the oracle
        from biocurator_mapper_spark.operators.bloom import decontaminate_bloom

        d = _docs(spark, sf_dir)
        return decontaminate_bloom(
            d.where(F.col("doc_id") % 20 != 0).select("doc_id", "source", "text"),
            d.where(F.col("doc_id") % 20 == 0),
            "doc_id", "text", n=13,
        ).select("doc_id", "source")

    def dedup_decontaminate(spark, sf_dir):
        # decontaminate == corpus anti-join on the (shared) cross-pair
        # relation — same wiring as operators.dedup.decontaminate, reusing
        # the pair plan dedup_cross_pairs already materialized
        corpus = _docs(spark, sf_dir).where(F.col("doc_id") % 20 != 0)
        contaminated = (
            _cross_pairs(spark, sf_dir)
            .select(F.col("corpus_id").alias("doc_id"))
            .distinct()
        )
        return corpus.join(contaminated, "doc_id", "left_anti").select(
            "doc_id", "source"
        )

    def text_ngram_freq(spark, sf_dir):
        from biocurator_mapper_spark.operators.dedup import ngram_frequencies

        return ngram_frequencies(_docs(spark, sf_dir), "text", n=2, top=100)

    def dedup_simhash(spark, sf_dir):
        # block-permutation near-dup pairs; the DuckDB oracle rebuilds the
        # sketch AND the 4×12-bit chunk join (see _SIMHASH_PAIRS_SQL)
        return simhash_near_dup_pairs(
            _docs(spark, sf_dir), "doc_id", "text", max_hamming=3
        ).select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))

    def sim_ann_lsh_topk(spark, sf_dir):
        # candidate generation is integer-exact (quantized vectors × ±1
        # sign planes), so the DuckDB oracle replicates it bit-for-bit
        emb = _read(spark, sf_dir, "embeddings")
        q = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
        )
        c = emb.select(
            F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("c_embedding")
        )
        out = lsh_topk(q, c, dim=64, k=5, n_planes=6, n_tables=8)
        return out.select(
            "query_id", "corpus_id", F.col("rank").cast("bigint").alias("rank"),
            "cosine", "certainty",
        )

    def sim_ann_q8_topk(spark, sf_dir):
        # int8-quantized top-k (the 4×-smaller corpus representation):
        # integer dot product — exact in ANY summation order, so the
        # expression path, the numpy-matmul scale path, and the DuckDB
        # oracle can never diverge on the fold; the only floats are two
        # per-vector maxes and one rescale multiply
        from biocurator_mapper_spark.operators.similarity import q8_topk

        emb = _read(spark, sf_dir, "embeddings")
        q = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
        )
        c = emb.select(
            F.col("vec_id").alias("corpus_id"),
            F.col("embedding").alias("c_embedding"),
        )
        out = q8_topk(q, c, k=5)
        return out.select(
            "query_id", "corpus_id", F.col("rank").cast("bigint").alias("rank"),
            "score",
        )

    def sim_ann_ivf_topk(spark, sf_dir):
        # IVF coarse-quantizer ANN — deterministic md5-sampled training +
        # integer-quantized assignment; the oracle retrains identical
        # centroids driver-side and inlines them as a VALUES table
        from biocurator_mapper_spark.operators.similarity import ivf_topk

        emb = _read(spark, sf_dir, "embeddings")
        q = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
        )
        c = emb.select(
            F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("c_embedding")
        )
        out = ivf_topk(q, c, dim=64, k=5, n_centroids=16, nprobe=4)
        return out.select(
            "query_id", "corpus_id", F.col("rank").cast("bigint").alias("rank"),
            "cosine", "certainty",
        )

    def sim_ann_ivf_indexed(spark, sf_dir):
        # the PERSISTENT form of the same search: build the IVF index into
        # a catalog (quantizer table + centroid-partitioned postings), then
        # search the stored index — same seed/corpus ⇒ relation identical
        # to the fresh ivf_topk, so it shares that VALUES oracle. The index
        # build is SETUP, not the query: it runs once per (process, sf_dir)
        # into a tempdir removed at exit (the build is deterministic, so
        # reuse is result-identical; a fresh mkdtemp per call leaked dirs
        # and re-paid the build inside every timed pass).
        from biocurator_mapper_spark.operators.similarity import (
            build_ivf_index,
            ivf_index_search,
        )
        from biocurator_mapper_spark.sources.catalog import ParquetCatalog

        emb = _read(spark, sf_dir, "embeddings")
        q = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
        )
        c = emb.select(
            F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("c_embedding")
        )
        cat = ParquetCatalog(spark, _ivf_index_dir(sf_dir))
        if "emb_postings" not in _IVF_BUILT.setdefault(sf_dir, set()):
            build_ivf_index(cat, "emb", c, n_centroids=16, seed=7)
            _IVF_BUILT[sf_dir].add("emb_postings")
        out = ivf_index_search(cat, "emb", q, k=5, nprobe=4)
        return out.select(
            "query_id", "corpus_id", F.col("rank").cast("bigint").alias("rank"),
            "cosine", "certainty",
        )

    def emb_near_dup_pairs(spark, sf_dir):
        # LSH-bucketed embedding near-dup self-join (the scale path whose
        # exact-slice twin is emb_cosine_pairs_exact) — bucket generation
        # is integer-exact, so the DuckDB oracle replicates it fully
        from biocurator_mapper_spark.operators.similarity import (
            embedding_cosine_pairs,
        )

        emb = _read(spark, sf_dir, "embeddings")
        return embedding_cosine_pairs(
            emb, "vec_id", "embedding", dim=64, threshold=0.4,
            n_planes=6, n_tables=6, seed=11,
        )

    def emb_dedup_clusters(spark, sf_dir):
        # semantic keep-one: CC closure over the (engine-exact) embedding
        # near-dup pair set — the DuckDB oracle recurses the same closure
        from biocurator_mapper_spark.operators.similarity import (
            emb_dedup_clusters as _edc,
        )

        emb = _read(spark, sf_dir, "embeddings")
        return _edc(
            emb, "vec_id", "embedding", dim=64, threshold=0.4,
            n_planes=6, n_tables=6, seed=11,
        )

    def media_features_sha(spark, sf_dir):
        # multimodal plumbing under the driver gate: documents' text bytes
        # stand in for media blobs; the mapInPandas feature stage's
        # SQL-expressible outputs (content sha, dim, meta byte length) are
        # oracle-checked — the feature floats are covered by pytest
        from biocurator_mapper_spark.operators.multimodal import (
            extract_media_features,
            with_media_meta,
        )

        d = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("media_id"),
            F.encode(F.col("text"), "utf-8").alias("media"),
        )
        meta = with_media_meta(d, media_type="text-as-blob", fmt="utf8").select(
            "media_id", F.col("media_meta.n_bytes").alias("n_bytes")
        )
        feats = extract_media_features(d).select(
            "media_id",
            F.col("feat_dim").cast("bigint").alias("feat_dim"),
            "content_sha",
        )
        return feats.join(meta, "media_id")

    def text_simhash(spark, sf_dir):
        from biocurator_mapper_spark.operators.dedup import simhash_expr

        return _docs(spark, sf_dir).select(
            "doc_id", simhash_expr(F.col("text")).alias("simhash")
        )

    def text_token_count(spark, sf_dir):
        return _docs(spark, sf_dir).select(
            "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens")
        )

    def lex_bm25_topk(spark, sf_dir):
        # lexical candidate generation: BM25 top-k (TakeOrdered, no global
        # sort); corpus stats + idf logs inlined driver-side so the oracle
        # reproduces the doubles bit-for-bit
        from biocurator_mapper_spark.operators.retrieval import bm25_topk

        return bm25_topk(
            _docs(spark, sf_dir), ["hash", "join", "stream"], k=20
        )

    def sample_stratified(spark, sf_dir):
        # deterministic data-mixing recipe: per-source keep fractions via
        # id-hash thresholds (same rows every run, every engine)
        from biocurator_mapper_spark.operators.sampling import stratified_sample

        return stratified_sample(
            _docs(spark, sf_dir).select("doc_id", "source"),
            "source",
            {"src0": 1.0, "src1": 0.5, "src2": 0.25},
            "doc_id",
            default_fraction=0.1,
        )

    def sample_capped(spark, sf_dir):
        # head-domain cap: at most 5 docs per source, by id-hash order
        from biocurator_mapper_spark.operators.sampling import cap_per_stratum

        return cap_per_stratum(
            _docs(spark, sf_dir).select("doc_id", "source"), "source", 5, "doc_id"
        )

    def text_pii_scrub(spark, sf_dir):
        from biocurator_mapper_spark.functions.text import pii_counts, redact_pii

        d = _docs(spark, sf_dir)
        counts = pii_counts(F.col("text"))
        return d.select(
            "doc_id",
            redact_pii(F.col("text")).alias("redacted"),
            counts["email"].cast("bigint").alias("n_email"),
            counts["ipv4"].cast("bigint").alias("n_ipv4"),
            counts["phone"].cast("bigint").alias("n_phone"),
        )

    def text_repetition(spark, sf_dir):
        from biocurator_mapper_spark.functions.text import repetition_struct

        # materialize the struct in its own projection, THEN fan out the
        # fields — the HOF chain evaluates once per row, not per column
        d = _docs(spark, sf_dir)
        return d.withColumn("_rep", repetition_struct(F.col("text"))).select(
            "doc_id",
            F.col("_rep.max_word_freq").alias("max_word_freq"),
            F.col("_rep.max_word_freq_ratio").alias("max_word_freq_ratio"),
            F.col("_rep.dup_line_frac").alias("dup_line_frac"),
        )

    def text_bpe_token_count(spark, sf_dir):
        from biocurator_mapper_spark.functions.text import bpe_token_count

        return _docs(spark, sf_dir).select(
            "doc_id",
            bpe_token_count(F.col("text")).cast("bigint").alias("n_bpe_tokens"),
        )

    def text_bpe_real(spark, sf_dir):
        # REAL merged-BPE token count (not pre-tokenizer pieces): the fixed
        # checked-in merge table (functions/bpe_merges.py, trained once by
        # tools/train_bpe.py) applied in one Arrow-batched pandas_udf over a
        # JVM regexp_extract_all pre-tokenize. Oracle = independent
        # rank-order-scan encoder over DuckDB's RE2 pre-tokens (VALUES).
        from biocurator_mapper_spark.functions.bpe import bpe_count_expr
        from biocurator_mapper_spark.functions.bpe_merges import MERGES

        return _docs(spark, sf_dir).select(
            "doc_id",
            bpe_count_expr(F.col("text"), MERGES).alias("n_tokens"),
        )

    def text_bpe_ids(spark, sf_dir):
        # REAL tokenizer-ID sequences: the checked-in merge table encoded
        # against the fixed vocab (unk=0, printable ASCII, then merges in
        # rank order) in one Arrow-batched pandas_udf. Oracle = independent
        # rank-order-scan id encoder (VALUES). The driver-visible relation
        # is SCALAR-ONLY (the driver's pandas canonicalizer cannot hash
        # list cells — r6 rows erred on array<int>): ids are checked as
        # n_ids + the exact space-joined id string, element order and all.
        # The array<int> API stays in functions/bpe.py for pytest/CLI. ids
        # built in one projection, fanned out in a SEPARATE one
        # (CollapseProject keeps the UDF evaluated once).
        from biocurator_mapper_spark.functions.bpe import bpe_encode_expr
        from biocurator_mapper_spark.functions.bpe_merges import MERGES

        return (
            _docs(spark, sf_dir)
            .withColumn("_ids", bpe_encode_expr(F.col("text"), MERGES))
            .select(
                "doc_id",
                F.size("_ids").cast("bigint").alias("n_ids"),
                F.array_join(
                    F.transform(F.col("_ids"), lambda x: x.cast("string")),
                    " ",
                ).alias("ids_str"),
            )
        )

    def text_bpe_roundtrip(spark, sf_dir):
        # decode ∘ encode == pre-tokenize concat, corpus-wide: the decoder
        # is PURE codegen (symbol-table lookup per id), so this one query
        # pins the whole encode→decode loop against DuckDB's independent
        # pre-tokenization — any encoder id drift or decoder table bug
        # breaks the string equality
        from biocurator_mapper_spark.functions.bpe import (
            bpe_decode_expr,
            bpe_encode_expr,
        )
        from biocurator_mapper_spark.functions.bpe_merges import MERGES

        return (
            _docs(spark, sf_dir)
            .withColumn("_ids", bpe_encode_expr(F.col("text"), MERGES))
            .select(
                "doc_id",
                bpe_decode_expr(F.col("_ids"), MERGES).alias("decoded"),
            )
        )

    def pack_materialize_ids(spark, sf_dir):
        # ctx-length windows of REAL BPE ids — the tensor-ready training
        # input: encode (Arrow stage), then materialize 256-id sequences of
        # the doc_id-ordered concatenated id stream via the distributed
        # prefix scan + one balanced seq_id shuffle. Docs split at window
        # boundaries, GPT-style. Driver-visible relation is SCALAR-ONLY
        # (see text_bpe_ids): n_tokens + the exact space-joined id string
        # per sequence; the array<int> API stays in operators/packing.py.
        from biocurator_mapper_spark.functions.bpe import bpe_encode_expr
        from biocurator_mapper_spark.functions.bpe_merges import MERGES
        from biocurator_mapper_spark.operators.packing import (
            materialize_id_sequences,
        )

        seqs = materialize_id_sequences(
            _docs(spark, sf_dir),
            "doc_id",
            bpe_encode_expr(F.col("text"), MERGES),
            ctx_len=256,
        )
        return seqs.select(
            "seq_id",
            "n_tokens",
            F.array_join(
                F.transform(F.col("seq_ids"), lambda x: x.cast("string")),
                " ",
            ).alias("seq_ids_str"),
        )

    def dedup_paragraphs(spark, sf_dir):
        # CCNet-style corpus-wide paragraph dedup (first occurrence of each
        # normalized paragraph wins; docs reassembled). The synthetic corpus
        # is newline-free, so pseudo-paragraph breaks are injected at every
        # ' the ' (literal regexp_replace — identical non-overlapping scan
        # in both engines) to exercise splitting, cross-doc first-win and
        # in-order reassembly for real.
        from biocurator_mapper_spark.operators.dedup import paragraph_dedup

        d = _docs(spark, sf_dir).select(
            "doc_id",
            F.regexp_replace(F.col("text"), " the ", "\n").alias("text"),
        )
        return paragraph_dedup(d, "doc_id", "text")

    def pack_materialize(spark, sf_dir):
        # the actual packed training sequences (512-token windows of the
        # id-ordered concatenated token stream; docs split at boundaries)
        from biocurator_mapper_spark.operators.packing import (
            materialize_sequences,
        )

        toks = F.filter(
            F.split(F.lower(F.col("text")), r"[^a-z0-9']+"),
            lambda t: t != "",
        )
        return materialize_sequences(
            _docs(spark, sf_dir), "doc_id", toks, ctx_len=512
        )

    def dedup_incremental(spark, sf_dir):
        # production incremental shape: docs < 250 are the stored corpus
        # (only their SAVED signature state participates), docs >= 250 are
        # the arriving increment; greedy first-wins — a new doc is dropped
        # iff some smaller-id doc (stored or in-increment) pairs with it.
        # The oracle replays the batch LSH-pair rule over the full corpus.
        from biocurator_mapper_spark.operators.dedup import (
            incremental_dedup,
            signature_state,
        )

        d = _docs(spark, sf_dir)
        state = signature_state(d.where(F.col("doc_id") < 250), "doc_id", "text")
        kept, _state = incremental_dedup(
            d.where(F.col("doc_id") >= 250), state, "doc_id", "text"
        )
        return kept.select("doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars"))

    def profile_documents(spark, sf_dir):
        # one-pass deequ-style table profile (row/null/exact-distinct/min/
        # max per column) — single EXPAND+hash-agg job, tidy-unpivoted
        from biocurator_mapper_spark.operators.profile import profile_table

        return profile_table(
            _docs(spark, sf_dir), ["doc_id", "text", "lang", "source", "n_chars"]
        )

    def train_shuffle_order(spark, sf_dir):
        # deterministic epoch shuffle: global rank by (md5(seed:id), id) via
        # the distributed prefix scan — no single-partition corpus window
        from biocurator_mapper_spark.operators.packing import shuffle_rank

        return shuffle_rank(_docs(spark, sf_dir).select("doc_id"), "doc_id", seed="7")

    def sample_temperature(spark, sf_dir):
        # XLM-R-style temperature mixing (alpha=0.5, target 300 rows):
        # stratum mass ∝ n_s^alpha; deterministic id-hash filter against
        # integer thresholds computed ONCE in Python (shared verbatim with
        # the oracle generator — engines only compare integers)
        from biocurator_mapper_spark.operators.sampling import temperature_sample

        return temperature_sample(
            _docs(spark, sf_dir).select("doc_id", "source"),
            "source",
            "doc_id",
            alpha=0.5,
            target_rows=300,
        )

    def pack_sequences(spark, sf_dir):
        # GPT-style sequence packing: concatenate docs (id order) into
        # ctx_len=512 training windows via the two-level distributed prefix
        # sum (operators/packing.py) — no single-partition corpus window
        from biocurator_mapper_spark.operators.packing import (
            pack_sequences as _pack,
        )

        d = _docs(spark, sf_dir).select(
            "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens")
        )
        return _pack(d, "doc_id", "n_tokens", ctx_len=512)

    def events_rollup_report(spark, sf_dir):
        # multi-granularity rollup in ONE pass (GROUPING SETS): per
        # (day, type), per day, and grand total
        e = _read(spark, sf_dir, "events")
        # sum an integer-quantized value (cents): round(sum(double), 2)
        # would depend on partial-aggregate accumulation order near
        # half-cent boundaries; per-row floor(x*100+0.5) + integer sum is
        # order-independent and exact in every engine
        return e.rollup(
            F.to_date(F.col("ts")).alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("sum_value_cents"),
        )

    def skew_salted_join(spark, sf_dir):
        # skew-safe join under the driver gate: result must equal the plain
        # join (the small side is derived from the data so the oracle can
        # rebuild it)
        from biocurator_mapper_spark.operators.skew import salted_join

        d = _docs(spark, sf_dir)
        small = d.select("source").distinct().select(
            "source", F.upper(F.col("source")).alias("source_label")
        )
        return salted_join(
            d.select("doc_id", "source"), small, "source", n_salts=8
        ).select("doc_id", "source", "source_label")

    def text_quality(spark, sf_dir):
        from biocurator_mapper_spark.functions.text import quality_struct

        # struct materialized in its own projection: one tokenize/aggregate
        # pass per row, fields fanned out in a second select
        d = _docs(spark, sf_dir)
        return d.withColumn("_q", quality_struct(F.col("text"))).select(
            "doc_id",
            F.col("_q.n_chars").cast("bigint").alias("n_chars"),
            F.col("_q.n_tokens").cast("bigint").alias("n_tokens"),
            F.col("_q.punct_ratio").alias("punct_ratio"),
            F.col("_q.stopword_ratio").alias("stopword_ratio"),
        )

    def text_lang_id(spark, sf_dir):
        return _docs(spark, sf_dir).select(
            "doc_id", lang_id_expr(F.col("text")).alias("lang_guess")
        )

    def text_fingerprint(spark, sf_dir):
        return _docs(spark, sf_dir).select(
            "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
        )

    def kg_triples(spark, sf_dir):
        # full pipeline (extract → mentions → score → rerank → canonicalize).
        # The embedding certainties aren't SQL-expressible, so the oracle
        # inlines rows re-derived by the independent plain-Python
        # implementation (testdata/kg_oracle.py, see _kg_triples_sql)
        return _triples_full(spark, sf_dir).select(
            "subj", "pred", "obj", "mention", "confidence"
        )

    def kg_exact_winner(spark, sf_dir):
        # oracle-checkable slice of the pipeline's DECISION logic: on pages
        # with exactly one exact-surface term, the rerank's exactness bonus
        # (+1.0 vs certainty ∈ (0,1)) makes that term the winner regardless
        # of embeddings, so subj/pred/obj/mention are SQL-derivable from
        # documents × the inline dict + the canonical mapping. The slice is
        # computed by the REAL pipeline (build_triples) and only filtered.
        triples = _triples_full(spark, sf_dir)
        return triples.join(_one_exact_subjs(spark, sf_dir), "subj").select(
            "subj", "pred", "obj", "mention"
        )

    def kg_co_mentions(spark, sf_dir):
        # graph materialize: doc-level co-occurrence edges between terms
        # (in-array pair expansion — never a corpus self-join)
        from biocurator_mapper_spark.operators.graph import co_mention_edges

        d = _docs(spark, sf_dir).select(
            F.col("doc_id"), F.col("text").alias("extracted_text")
        )
        sm = _dict_df(spark).withColumn("is_exact", F.lit(True))
        return co_mention_edges(d, sm)

    def kg_exact_degree(spark, sf_dir):
        # per-object in-degree profile of the pipeline's output, on the
        # SQL-derivable one-exact-term slice (same restriction as
        # kg_exact_winner, aggregated)
        from biocurator_mapper_spark.operators.graph import degree_stats

        triples = _triples_full(spark, sf_dir)
        return degree_stats(triples.join(_one_exact_subjs(spark, sf_dir), "subj"))

    def j7_canonical_mapping(spark, sf_dir):
        # alias-graph canonicalization over the vocab ontology — the DuckDB
        # oracle computes the same transitive closure with a recursive CTE
        from biocurator_mapper_spark.operators.canonicalize import canonical_mapping

        return canonical_mapping(_vocab_terms(spark))

    def kg_mention_recall(spark, sf_dir):
        # SQL-checkable slice of the pipeline: every (doc, term) candidate
        # that mention detection must recall
        d = _docs(spark, sf_dir).select(
            F.col("doc_id"), F.col("text").alias("extracted_text")
        )
        out = mention_candidates(d, _dict_df(spark))
        return out.groupBy("doc_id", "term_id").agg(
            F.count(F.lit(1)).alias("n_surfaces")
        )

    def text_dup_ngrams(spark, sf_dir):
        # Gopher duplicate-2-gram rule: char mass inside repeated bigrams
        from biocurator_mapper_spark.functions.text import dup_ngram_chars_struct

        d = _docs(spark, sf_dir)
        return d.withColumn(
            "_g", dup_ngram_chars_struct(F.col("text"), 2)
        ).select(
            "doc_id",
            F.col("_g.dup_ngram_chars").alias("dup_ngram_chars"),
            F.col("_g.dup_ngram_frac").alias("dup_ngram_frac"),
        )

    def text_chunks(spark, sf_dir):
        # sliding token-window chunking (the pre-embedding step of every
        # retrieval/training pipeline): 64-token windows, 16-token overlap
        from biocurator_mapper_spark.operators.chunking import chunk_documents

        return chunk_documents(
            _docs(spark, sf_dir), chunk_tokens=64, overlap=16
        )

    def catalog_merge_upsert(spark, sf_dir):
        # row-level MERGE (Iceberg MERGE INTO semantics, bucket-granular
        # copy-on-write): base = documents, delta updates every 7th doc;
        # the merged table must equal anti-join(base, delta) ∪ delta
        import atexit
        import shutil
        import tempfile

        from biocurator_mapper_spark.sources.catalog import ParquetCatalog

        # fresh dir per invocation: a fixed shared path raced concurrent
        # evaluators (check_oracles + bench) and invalidated the lazy
        # DataFrame a previous invocation returned. Cleanup must wait for
        # process exit — the returned DataFrame reads the dir lazily.
        wh = tempfile.mkdtemp(prefix="bcm_merge_query_wh_")
        atexit.register(shutil.rmtree, wh, ignore_errors=True)
        cat = ParquetCatalog(spark, wh)
        docs = _docs(spark, sf_dir)
        base = docs.select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.lit(1).cast("bigint").alias("rev"),
        )
        cat.merge_upsert(base, "docs", ["doc_id"], n_buckets=8)
        delta = docs.where(F.col("doc_id") % 7 == 0).select(
            "doc_id",
            "source",
            (F.col("n_chars") + 1000).cast("bigint").alias("n_chars"),
            F.lit(2).cast("bigint").alias("rev"),
        )
        cat.merge_upsert(delta, "docs", ["doc_id"])
        return cat.read("docs").select("doc_id", "source", "n_chars", "rev")

    # ROTATION POLICY (round-5 standing rule, see CLAUDE.md): the driver's
    # correctness snapshot records queries in dict order and caps at ~50
    # entries (43/50/50/50 across r1-r4 while the pass got 30% faster — an
    # entry cap, not a time budget). Order each round as:
    #   1. kg_triples + queries NEW this round,
    #   2. every query with NO driver row last round (so r(N-1) ∪ r(N)
    #      always covers all of them — coverage never goes >2 rounds stale),
    #   3. the evergreens (green last round) in stable order.
    return {
        # --- flagship + reshaped (r6 err -> scalarized) + new this round -
        "kg_triples": kg_triples,
        "text_bpe_ids": text_bpe_ids,
        "pack_materialize_ids": pack_materialize_ids,
        "url_registrable_psl": url_registrable_psl,
        "mix_epoch_plan": mix_epoch_plan,
        "dedup_clusters_best": dedup_clusters_best,
        "sample_ccnet_buckets": sample_ccnet_buckets,
        "kg_pagerank": kg_pagerank,
        "url_blocklist_filter": url_blocklist_filter,
        "url_snapshot_diff": url_snapshot_diff,
        "sim_ann_q8_topk": sim_ann_q8_topk,
        "text_bpe_roundtrip": text_bpe_roundtrip,
        # --- no driver row in r6 (r5-green; r6 ∪ r7 must cover all) ------
        "sim_ann_lsh_topk": sim_ann_lsh_topk,
        "sim_ann_ivf_topk": sim_ann_ivf_topk,
        "text_simhash": text_simhash,
        "text_token_count": text_token_count,
        "lex_bm25_topk": lex_bm25_topk,
        "sample_stratified": sample_stratified,
        "sample_capped": sample_capped,
        "text_pii_scrub": text_pii_scrub,
        "text_repetition": text_repetition,
        "text_bpe_token_count": text_bpe_token_count,
        "events_rollup_report": events_rollup_report,
        "skew_salted_join": skew_salted_join,
        "text_quality": text_quality,
        "kg_exact_winner": kg_exact_winner,
        "kg_co_mentions": kg_co_mentions,
        "kg_exact_degree": kg_exact_degree,
        "dedup_decontaminate_exact": dedup_decontaminate_exact,
        "emb_dedup_clusters": emb_dedup_clusters,
        "text_lm_score": text_lm_score,
        "j7_canonical_mapping": j7_canonical_mapping,
        "kg_mention_recall": kg_mention_recall,
        "text_lang_id": text_lang_id,
        "text_fingerprint": text_fingerprint,
        "text_dup_ngrams": text_dup_ngrams,
        "text_chunks": text_chunks,
        "catalog_merge_upsert": catalog_merge_upsert,
        "p1_parse_terms": p1_parse_terms,
        "p2_curie_normalize": p2_curie_normalize,
        "p7_searchable_text": p7_searchable_text,
        "p8_searchable_config": p8_searchable_config,
        "emb_cosine_pairs_exact": emb_cosine_pairs_exact,
        "p9_truncate_text": p9_truncate_text,
        "p13_content_hash": p13_content_hash,
        "f2_quality_filter": f2_quality_filter,
        "w2_keep_last_n": w2_keep_last_n,
        "w3_latest_record": w3_latest_record,
        # --- evergreens (r6 driver-green), perf-fixed families first -----
        "dedup_decontaminate_bloom": dedup_decontaminate_bloom,
        "dedup_cross_pairs": dedup_cross_pairs,
        "dedup_decontaminate": dedup_decontaminate,
        "dedup_substring_candidates": dedup_substring_candidates,
        "dedup_substring_spans": dedup_substring_spans,
        "dedup_exactsubstr_spans": dedup_exactsubstr_spans,
        "dedup_exactsubstr_cut": dedup_exactsubstr_cut,
        "dedup_exactsubstr_incremental": dedup_exactsubstr_incremental,
        "url_canonical": url_canonical,
        "dedup_url_latest": dedup_url_latest,
        "sample_domain_cap": sample_domain_cap,
        "sample_dsir_weights": sample_dsir_weights,
        "j6_mention_detect": j6_mention_detect,
        "j5_topk_similarity": j5_topk_similarity,
        "j5b_broadcast_matmul_topk": j5b_broadcast_matmul_topk,
        "j1_broadcast_enrich": j1_broadcast_enrich,
        "j3_antijoin_unprocessed": j3_antijoin_unprocessed,
        "a1_stage_counters": a1_stage_counters,
        "a2_throughput": a2_throughput,
        "a3_batch_count": a3_batch_count,
        "a4_reject_tally": a4_reject_tally,
        "p11_json_parse": p11_json_parse,
        "skew_salted_host_stats": skew_salted_host_stats,
        "agg_pricing_summary": agg_pricing_summary,
        "join_top_customers_per_nation": join_top_customers_per_nation,
        "events_hourly_windows": events_hourly_windows,
        "curation_pipeline": curation_pipeline,
        "curation_funnel_report": curation_funnel_report,
        "dedup_exact": dedup_exact,
        "dedup_fingerprint": dedup_fingerprint,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_clusters": dedup_clusters,
        "text_ngram_freq": text_ngram_freq,
        "emb_near_dup_pairs": emb_near_dup_pairs,
        "media_features_sha": media_features_sha,
        "text_bpe_real": text_bpe_real,
        "pack_sequences": pack_sequences,
        "sample_temperature": sample_temperature,
        "dedup_paragraphs": dedup_paragraphs,
        "train_shuffle_order": train_shuffle_order,
        "profile_documents": profile_documents,
        "dedup_incremental": dedup_incremental,
        "pack_materialize": pack_materialize,
        "dedup_contamination_report": dedup_contamination_report,
        "sim_ann_ivf_indexed": sim_ann_ivf_indexed,
        "dedup_simhash": dedup_simhash,
    }


# -------------------------------------------------------------- oracle SQL

import string as _string

# punctuation for translate(): escape single quotes for SQL literals
_PUNCT_SQL = _string.punctuation.replace("'", "''")
_P8_SQL = f"""
    SELECT p_partkey AS part_key,
           concat_ws(' | ',
             nullif(translate(lower(p_name), '{_PUNCT_SQL}', ''), ''),
             nullif(translate(lower(p_type), '{_PUNCT_SQL}', ''), ''),
             nullif(translate(lower(p_brand), '{_PUNCT_SQL}', ''), '')
           ) AS searchable_text
    FROM part
"""


def _shingle_cte(n: int = 3) -> str:
    """Shared DuckDB CTEs: tokens → distinct word-3-gram shingles per doc."""
    return f"""
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE
           WHEN len(t) >= {n} THEN list_distinct(
             list_transform(range(1, len(t) - {n - 2}), i -> array_to_string(t[i:i+{n - 1}], ' ')))
           WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
           ELSE []
         END AS shingles
  FROM toks
),
s AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE len(shingles) > 0)
"""


# 60-bit integer shingle hash — DuckDB replica of
# operators/dedup.py::shingle_hash_expr (Spark: conv(substr(md5, 1, 15),
# 16, 10)::long). Integer keys make every oracle join/intersect exact AND
# cheap in both engines.
_H_SQL = "('0x' || substr(md5({s}), 1, 15))::BIGINT"


def _hashed_shingle_cte(n: int = 3) -> str:
    """Shared DuckDB CTEs for the hash-keyed dedup family: ``hs(doc_id,
    hset)`` — the per-doc 60-bit shingle-hash set — and ``s(doc_id, h)``
    exploded rows."""
    return f"""
{_shingle_cte(n)},
hs AS (
  SELECT doc_id,
         list_transform(shingles, x -> {_H_SQL.format(s='x')}) AS hset
  FROM sh WHERE len(shingles) > 0
),
hrows AS (SELECT doc_id, unnest(hset) AS h FROM hs)
"""


def _minhash_pairs_ctes(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.5
) -> str:
    """CTE body ending in ``mh_pairs(id_a, id_b, jaccard)`` — shared by the
    minhash-LSH pair oracle and the (LSH-pair-based) cluster oracle.
    Mirrors operators/dedup.py::_banded_signatures: one 60-bit hash per
    shingle, 16 integer universal-hash permutation minima, base-10 concat
    band keys, exact Jaccard over the hash sets."""
    from biocurator_mapper_spark.operators.dedup import _MINHASH_AB, MINHASH_MOD

    rpb = num_hashes // bands
    mh_cols = ",\n         ".join(
        f"min(({a} * (h % {MINHASH_MOD}) + {b}) % {MINHASH_MOD}) AS mh_{i}"
        for i, (a, b) in enumerate(_MINHASH_AB[:num_hashes])
    )
    band_cols = ",\n         ".join(
        "concat_ws('|', " + ", ".join(f"mh_{b * rpb + r}" for r in range(rpb)) + f") AS band_{b}"
        for b in range(bands)
    )
    band_union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_no, band_{b} AS band_val FROM bands"
        for b in range(bands)
    )
    return f"""
{_hashed_shingle_cte(3)},
sig AS (
  SELECT doc_id,
         {mh_cols}
  FROM hrows GROUP BY doc_id
),
bands AS (
  SELECT doc_id,
         {band_cols}
  FROM sig
),
banded AS (
{band_union}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_no = b.band_no AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(sa.hset, sb.hset))::DOUBLE
           / (len(sa.hset) + len(sb.hset) - len(list_intersect(sa.hset, sb.hset)))
           AS jaccard
  FROM cand c
  JOIN hs sa ON sa.doc_id = c.id_a
  JOIN hs sb ON sb.doc_id = c.id_b
),
mh_pairs AS (SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {threshold})
"""


def _minhash_sql(num_hashes: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    return (
        f"WITH {_minhash_pairs_ctes(num_hashes, bands, threshold)} "
        "SELECT id_a, id_b, jaccard FROM mh_pairs"
    )


# decontamination split used by the dedup_cross_* contract queries: every
# 20th doc plays the benchmark/eval set, the rest the training corpus
_BENCH_COND = "doc_id % 20 = 0"
_CORPUS_COND = "doc_id % 20 <> 0"


def _cross_minhash_ctes(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.5
) -> str:
    """CTE body ending in ``cross_pairs(corpus_id, benchmark_id, jaccard)``
    — banded LSH across the corpus/benchmark split (same seeds as the
    within-corpus oracle, so signatures agree)."""
    base = _minhash_pairs_ctes(num_hashes, bands, threshold)
    # reuse everything up to (and including) `banded`; replace the pairing
    head, _sep, _tail = base.partition("cand AS (")
    return f"""{head}cross_cand AS (
  SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS benchmark_id
  FROM banded a JOIN banded b
    ON a.band_no = b.band_no AND a.band_val = b.band_val
  WHERE a.{_CORPUS_COND} AND b.{_BENCH_COND}
),
cross_verified AS (
  SELECT c.corpus_id, c.benchmark_id,
         len(list_intersect(sa.hset, sb.hset))::DOUBLE
           / (len(sa.hset) + len(sb.hset) - len(list_intersect(sa.hset, sb.hset)))
           AS jaccard
  FROM cross_cand c
  JOIN hs sa ON sa.doc_id = c.corpus_id
  JOIN hs sb ON sb.doc_id = c.benchmark_id
),
cross_pairs AS (
  SELECT corpus_id, benchmark_id, jaccard
  FROM cross_verified WHERE jaccard >= {threshold}
)
"""


def _lang_votes_sql() -> str:
    n = len(_LANGS)
    votes = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, '{code}' AS lang, {n - 1 - i} AS prio, "
        f"len(list_filter(t, x -> list_contains({_sql_list(words)}, x))) AS hits FROM tok"
        for i, (code, words) in enumerate(_LANGS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^\\p{{L}}0-9'']+'), x -> x <> '') AS t
  FROM documents
),
votes AS (
{votes}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, prio DESC) AS rn
  FROM votes
)
SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_guess
FROM ranked WHERE rn = 1
"""


def _p1_sql() -> str:
    """DuckDB reimplementation of the parse stage over the same inline JSON."""
    import json as _json

    from biocurator_mapper_spark.testdata import full_fixture_graph

    doc = _json.dumps(full_fixture_graph(perf_n=5)).replace("'", "''")
    ns_pred = "http://www.geneontology.org/formats/oboInOwl#hasOBONamespace"

    def syn_vals(pred_filter: str | None) -> str:
        cond = f"AND json_extract_string(nd, '$.meta.synonyms[' || k || '].pred') = '{pred_filter}'" if pred_filter else ""
        return f"""list_filter(
            list_transform(range(coalesce(json_array_length(nd, '$.meta.synonyms'), 0)::BIGINT),
              k -> CASE WHEN json_extract_string(nd, '$.meta.synonyms[' || k || '].val') IS NOT NULL
                         AND json_extract_string(nd, '$.meta.synonyms[' || k || '].val') <> ''
                         {cond}
                    THEN json_extract_string(nd, '$.meta.synonyms[' || k || '].val') END),
            v -> v IS NOT NULL)"""

    return f"""
WITH raw AS (SELECT '{doc}' AS s),
nodes AS (
  SELECT json_extract(s, '$.graphs[0].nodes[' || i || ']') AS nd
  FROM raw, (SELECT unnest(range(
       (SELECT json_array_length(s, '$.graphs[0].nodes')::BIGINT FROM raw))) AS i)
),
valid AS (
  SELECT nd FROM nodes
  WHERE json_extract_string(nd, '$.id') IS NOT NULL
    AND json_extract_string(nd, '$.lbl') IS NOT NULL
),
parsed AS (
  SELECT
    replace(regexp_extract(json_extract_string(nd, '$.id'), '([^/]+)$', 1), '_', ':') AS term_id,
    json_extract_string(nd, '$.lbl') AS name,
    coalesce(json_extract_string(nd, '$.meta.definition.val'), '') AS definition,
    coalesce((list_filter(
      list_transform(range(coalesce(json_array_length(nd, '$.meta.basicPropertyValues'), 0)::BIGINT),
        k -> CASE WHEN json_extract_string(nd, '$.meta.basicPropertyValues[' || k || '].pred') = '{ns_pred}'
              THEN coalesce(json_extract_string(nd, '$.meta.basicPropertyValues[' || k || '].val'), '') END),
      v -> v IS NOT NULL))[1], '') AS namespace,
    {syn_vals(None)} AS all_syn,
    {syn_vals('hasExactSynonym')} AS exact_syn,
    list_concat(list_concat(
      -- definition xrefs: kept verbatim incl. empties (reference extend())
      list_transform(range(coalesce(json_array_length(nd, '$.meta.definition.xrefs'), 0)::BIGINT),
        k -> json_extract_string(nd, '$.meta.definition.xrefs[' || k || ']')),
      -- meta xrefs: struct OR bare-string form, non-empty
      list_filter(
        list_transform(range(coalesce(json_array_length(nd, '$.meta.xrefs'), 0)::BIGINT),
          k -> CASE WHEN json_type(nd, '$.meta.xrefs[' || k || ']') = 'VARCHAR'
                THEN json_extract_string(nd, '$.meta.xrefs[' || k || ']')
                ELSE json_extract_string(nd, '$.meta.xrefs[' || k || '].val') END),
        v -> v IS NOT NULL AND v <> '')),
      -- basicPropertyValues with hasDbXref in pred, non-empty vals
      list_filter(
        list_transform(range(coalesce(json_array_length(nd, '$.meta.basicPropertyValues'), 0)::BIGINT),
          k -> CASE WHEN contains(coalesce(json_extract_string(nd, '$.meta.basicPropertyValues[' || k || '].pred'), ''), 'hasDbXref')
                THEN json_extract_string(nd, '$.meta.basicPropertyValues[' || k || '].val') END),
        v -> v IS NOT NULL AND v <> '')
    ) AS xrefs
  FROM valid
)
SELECT term_id, name, definition, namespace,
       coalesce(array_to_string(all_syn, '|'), '') AS all_synonyms_joined,
       coalesce(array_to_string(exact_syn, '|'), '') AS exact_synonyms_joined,
       coalesce(array_to_string(xrefs, '|'), '') AS xrefs_joined,
       concat_ws(' ', nullif(name, ''), nullif(definition, ''),
                 nullif(array_to_string(all_syn, ' '), '')) AS searchable_text
FROM parsed
"""


# 48-bit sign-sum SimHash in pure SQL: distinct tokens × 48 bit positions,
# per-bit ±1 vote, reassembled with 1<<b weights — same construction as
# operators/dedup.py::simhash_expr (token hash = first 12 md5 hex chars).
# coalesce ::BIGINT: DuckDB sum() is HUGEINT; Spark's sketch is BIGINT.
_SIMHASH_CTES = """
tok AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t
  FROM documents
),
th AS (
  SELECT doc_id, ('0x' || substring(md5(unnest(t)), 1, 12))::BIGINT AS h
  FROM tok
),
bits AS (
  SELECT doc_id, b.b AS b,
         sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th, (SELECT unnest(range(48)) AS b) b
  GROUP BY doc_id, b.b
),
shsum AS (
  SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
  FROM bits GROUP BY doc_id
),
sim AS (
  SELECT k.doc_id, coalesce(shsum.simhash, 0)::BIGINT AS simhash
  FROM (SELECT doc_id FROM documents) k LEFT JOIN shsum ON k.doc_id = shsum.doc_id
)
"""

_SIMHASH_SQL = f"WITH {_SIMHASH_CTES} SELECT doc_id, simhash FROM sim"

# block-permutation near-dup pairing over the same sketch: 4 chunks × 12
# bits; any pair within hamming ≤ 3 agrees on ≥1 chunk (pigeonhole) — the
# SQL mirror of operators/dedup.py::simhash_near_dup_pairs
_SIMHASH_PAIRS_SQL = f"""
WITH {_SIMHASH_CTES},
chunks AS (
  SELECT doc_id, simhash, c.i AS chunk_no,
         (simhash >> (c.i * 12)::INT) & 4095 AS chunk_val
  FROM sim, (SELECT unnest(range(4)) AS i) c
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
  FROM chunks a
  JOIN chunks b ON a.chunk_no = b.chunk_no AND a.chunk_val = b.chunk_val
              AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
"""



def _cos_sql(a: str, b: str, dim: int = 64) -> str:
    """Bit-identical cosine: double cast before multiply, left-to-right
    list_sum fold — matches functions/embed.py::cosine_expr exactly."""
    r = f"range(1, {dim + 1})"
    return (
        f"list_sum(list_transform({r}, i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
        f" / (sqrt(list_sum(list_transform({r}, i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))"
        f" * sqrt(list_sum(list_transform({r}, i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE))))"
    )


_QUANT_SQL = "list_transform(embedding, x -> floor(x::DOUBLE * 1000 + 0.5)::BIGINT)"

# The driver compares Spark vs oracle at sf0.01; tools/check_oracles.py
# overrides this when checking another scale factor. Only the IVF oracle
# needs it (its centroids are trained on the input corpus).
_ORACLE_SF_DIR_ENV = "SPARK_GRAFT_ORACLE_SF_DIR"


def _lsh_planes_sql(
    dim: int, n_planes: int, n_tables: int, seed: int
) -> tuple[str, str]:
    """(VALUES rows for the seeded ±1 sign matrix, per-(row,table) bucket
    aggregate expression) — shared by every LSH oracle. Signatures are
    integer dot-product signs over floor(x*1000+0.5)-quantized vectors,
    exact in any engine."""
    from biocurator_mapper_spark.operators.similarity import plane_signs

    signs = plane_signs(dim, n_planes, n_tables, seed)
    vals = ",\n  ".join(
        f"({t}, {p}, [{', '.join(str(int(v)) for v in signs[t * n_planes + p])}])"
        for t in range(n_tables)
        for p in range(n_planes)
    )
    sig = (
        f"sum(CASE WHEN list_sum(list_transform(range(1, {dim + 1}), i -> q[i] * s[i])) > 0"
        f" THEN (1::BIGINT << p) ELSE 0 END)::BIGINT + t * {1 << n_planes}"
    )
    return vals, sig


def _lsh_topk_sql(
    dim: int = 64, k: int = 5, n_planes: int = 6, n_tables: int = 8, seed: int = 7
) -> str:
    """SQL mirror of operators/similarity.py::lsh_topk: bucketed candidate
    join, exact cosine re-score, window keeps k."""
    vals, sig = _lsh_planes_sql(dim, n_planes, n_tables, seed)
    return f"""
WITH planes(t, p, s) AS (VALUES
  {vals}
),
qv AS (SELECT vec_id AS query_id, embedding AS qe, {_QUANT_SQL} AS q
       FROM embeddings WHERE vec_id < 10),
cvv AS (SELECT vec_id AS corpus_id, embedding AS ce, {_QUANT_SQL} AS q
        FROM embeddings),
qb AS (SELECT query_id, {sig} AS bucket FROM qv, planes GROUP BY query_id, t),
cb AS (SELECT corpus_id, {sig} AS bucket FROM cvv, planes GROUP BY corpus_id, t),
cand AS (SELECT DISTINCT q.query_id, c.corpus_id FROM qb q JOIN cb c ON q.bucket = c.bucket),
scored AS (
  SELECT cand.query_id, cand.corpus_id, {_cos_sql("qe", "ce", dim)} AS cosine
  FROM cand
  JOIN qv ON qv.query_id = cand.query_id
  JOIN cvv ON cvv.corpus_id = cand.corpus_id
),
ranked AS (
  SELECT query_id, corpus_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM scored
)
SELECT query_id, corpus_id, rank, cosine,
       (1.0::DOUBLE + cosine) / 2.0::DOUBLE AS certainty
FROM ranked WHERE rank <= {k}
"""


def _emb_near_dup_sql(
    dim: int = 64,
    threshold: float = 0.4,
    n_planes: int = 6,
    n_tables: int = 6,
    seed: int = 11,
) -> str:
    """SQL mirror of operators/similarity.py::embedding_cosine_pairs: the
    LSH-bucketed SELF-join (id_a < id_b) + exact cosine verification."""
    return (
        f"WITH {_emb_near_dup_ctes(dim, threshold, n_planes, n_tables, seed)} "
        "SELECT id_a, id_b, cosine FROM emb_pairs"
    )


def _emb_near_dup_ctes(
    dim: int = 64,
    threshold: float = 0.4,
    n_planes: int = 6,
    n_tables: int = 6,
    seed: int = 11,
) -> str:
    """CTE body ending in ``emb_pairs(id_a, id_b, cosine)`` — shared by the
    embedding near-dup pair oracle and the semantic-cluster oracle."""
    vals, sig = _lsh_planes_sql(dim, n_planes, n_tables, seed)
    return f"""planes(t, p, s) AS (VALUES
  {vals}
),
v AS (SELECT vec_id AS _id, embedding AS e, {_QUANT_SQL} AS q FROM embeddings),
b AS (SELECT _id, {sig} AS bucket FROM v, planes GROUP BY _id, t),
cand AS (
  SELECT DISTINCT a._id AS id_a, bb._id AS id_b
  FROM b a JOIN b bb ON a.bucket = bb.bucket AND a._id < bb._id
),
scored AS (
  SELECT cand.id_a, cand.id_b, {_cos_sql("va.e", "vb.e", dim)} AS cosine
  FROM cand
  JOIN v va ON va._id = cand.id_a
  JOIN v vb ON vb._id = cand.id_b
),
emb_pairs AS (SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {threshold})
"""


def _ivf_topk_sql(
    dim: int = 64,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    train_sample: int = 10_000,
    seed: int = 7,
) -> str:
    """SQL mirror of operators/similarity.py::ivf_topk: replicates the
    md5-threshold training sample + Lloyd's k-means driver-side (identical
    numpy on identical input → identical centroids), inlines the quantized
    centroids as VALUES, and assigns by integer dot with the same
    (dot DESC, cid ASC) tie-break as the stable argsort."""
    import hashlib
    import os as _os

    import duckdb as _duckdb
    import numpy as _np

    from biocurator_mapper_spark.operators.similarity import (
        CENTROID_SCALE,
        _kmeans_lite,
        quantize,
    )

    sf_dir = _os.environ.get(_ORACLE_SF_DIR_ENV, "/root/testdata/sf0.01")
    con = _duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    con.close()
    frac = min(1.0, (2.0 * train_sample) / max(len(rows), 1))
    thresh = int(frac * 0xFFFF) + 1
    keep = [
        (vid, emb)
        for vid, emb in rows
        if int(hashlib.md5(str(vid).encode()).hexdigest()[:4], 16) < thresh
    ]
    keep.sort(key=lambda r: str(r[0]))
    sample = _np.array([e for _, e in keep[:train_sample]], dtype=_np.float32)
    qc = quantize(
        _kmeans_lite(sample, n_centroids, seed=seed).astype(_np.float64),
        CENTROID_SCALE,
    )
    vals = ",\n  ".join(
        f"({i}, [{', '.join(str(int(v)) for v in qc[i])}])" for i in range(len(qc))
    )
    dot = f"list_sum(list_transform(range(1, {dim + 1}), i -> q[i] * cv[i]))"
    return f"""
WITH cents(cid, cv) AS (VALUES
  {vals}
),
qv AS (SELECT vec_id AS query_id, embedding AS qe, {_QUANT_SQL} AS q
       FROM embeddings WHERE vec_id < 10),
cvv AS (SELECT vec_id AS corpus_id, embedding AS ce, {_QUANT_SQL} AS q
        FROM embeddings),
qa AS (
  SELECT query_id, cid FROM (
    SELECT query_id, cid,
           row_number() OVER (PARTITION BY query_id ORDER BY {dot} DESC, cid ASC) AS rn
    FROM qv, cents
  ) WHERE rn <= {nprobe}
),
ca AS (
  SELECT corpus_id, cid FROM (
    SELECT corpus_id, cid,
           row_number() OVER (PARTITION BY corpus_id ORDER BY {dot} DESC, cid ASC) AS rn
    FROM cvv, cents
  ) WHERE rn = 1
),
cand AS (SELECT DISTINCT qa.query_id, ca.corpus_id FROM qa JOIN ca ON qa.cid = ca.cid),
scored AS (
  SELECT cand.query_id, cand.corpus_id, {_cos_sql("qe", "ce", dim)} AS cosine
  FROM cand
  JOIN qv ON qv.query_id = cand.query_id
  JOIN cvv ON cvv.corpus_id = cand.corpus_id
),
ranked AS (
  SELECT query_id, corpus_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM scored
)
SELECT query_id, corpus_id, rank, cosine,
       (1.0::DOUBLE + cosine) / 2.0::DOUBLE AS certainty
FROM ranked WHERE rank <= {k}
"""


def _kg_triples_sql() -> str:
    """The flagship pipeline's oracle: the expected rows are re-derived by
    an INDEPENDENT plain-Python implementation (testdata/kg_oracle.py —
    zero shared plan code; hash-embedding certainties are not expressible
    in SQL) and inlined as a VALUES table; float32 confidences round-trip
    through ::FLOAT. The same derivation is asserted bit-exact in
    tests/test_kg_differential.py."""
    import os as _os

    from biocurator_mapper_spark.testdata.kg_oracle import expected_triples

    sf_dir = _os.environ.get(_ORACLE_SF_DIR_ENV, "/root/testdata/sf0.01")
    rows = expected_triples(sf_dir, VOCAB_ROWS)
    if not rows:
        return (
            "SELECT NULL::VARCHAR AS subj, NULL::VARCHAR AS pred, "
            "NULL::VARCHAR AS obj, NULL::VARCHAR AS mention, "
            "NULL::FLOAT AS confidence WHERE false"
        )
    q = lambda s: s.replace("'", "''")  # noqa: E731
    # ::DOUBLE first: DuckDB's DECIMAL-literal → FLOAT conversion is lossy
    # (1-ulp drift observed); DECIMAL → DOUBLE → FLOAT rounds correctly
    vals = ",\n  ".join(
        f"('{q(s)}', '{q(p)}', '{q(o)}', '{q(m)}', {c!r}::DOUBLE::FLOAT)"
        for s, p, o, m, c in rows
    )
    return (
        f"SELECT * FROM (VALUES\n  {vals}\n) "
        "AS t(subj, pred, obj, mention, confidence)"
    )


def _bpe_real_sql() -> str:
    """Oracle for text_bpe_real: DuckDB pre-tokenizes with the same RE2
    pattern (proven match vs Java regex by the green text_bpe_token_count),
    then the independently-shaped ``reference_piece_count`` encoder
    (rank-order scan-and-restart — spec-equivalent to the production
    lowest-rank-first encoder, pinned in tests/test_bpe.py) produces
    expected counts inlined as VALUES — the kg_triples oracle pattern."""
    import os as _os

    import duckdb

    from biocurator_mapper_spark.functions.bpe import reference_piece_count
    from biocurator_mapper_spark.functions.bpe_merges import MERGES
    from biocurator_mapper_spark.functions.text import BPE_TOKEN_RE

    sf_dir = _os.environ.get(_ORACLE_SF_DIR_ENV, "/root/testdata/sf0.01")
    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, regexp_extract_all(coalesce(text, ''), ?) "
        f"FROM '{sf_dir}/documents.parquet' ORDER BY doc_id",
        [BPE_TOKEN_RE],
    ).fetchall()
    con.close()
    if not rows:
        return (
            "SELECT NULL::BIGINT AS doc_id, NULL::BIGINT AS n_tokens "
            "WHERE false"
        )
    merges = [tuple(p) for p in MERGES]
    cache: dict[str, int] = {}
    out = []
    for doc_id, pieces in rows:
        n = 0
        for p in pieces:
            c = cache.get(p)
            if c is None:
                c = cache[p] = reference_piece_count(p, merges)
            n += c
        out.append((doc_id, n))
    vals = ",\n  ".join(f"({d}, {n})" for d, n in out)
    return (
        f"SELECT doc_id::BIGINT AS doc_id, n_tokens::BIGINT AS n_tokens "
        f"FROM (VALUES\n  {vals}\n) AS t(doc_id, n_tokens)"
    )


def _reference_doc_ids() -> list[tuple[int, list[int]]]:
    """(doc_id, ids) per corpus document through the INDEPENDENT id encoder
    (rank-order scan-and-restart + fixed vocab) over DuckDB's RE2
    pre-tokens — the shared generator for the two id-stream VALUES
    oracles. Piece→ids cache makes it linear despite the scan encoder."""
    import os as _os

    import duckdb

    from biocurator_mapper_spark.functions.bpe import (
        reference_piece_ids,
        vocab_from_merges,
    )
    from biocurator_mapper_spark.functions.bpe_merges import MERGES
    from biocurator_mapper_spark.functions.text import BPE_TOKEN_RE

    sf_dir = _os.environ.get(_ORACLE_SF_DIR_ENV, "/root/testdata/sf0.01")
    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, regexp_extract_all(coalesce(text, ''), ?) "
        f"FROM '{sf_dir}/documents.parquet' ORDER BY doc_id",
        [BPE_TOKEN_RE],
    ).fetchall()
    con.close()
    merges = [tuple(p) for p in MERGES]
    vocab = vocab_from_merges(merges)
    cache: dict[str, list[int]] = {}
    out = []
    for doc_id, pieces in rows:
        ids: list[int] = []
        for p in pieces:
            got = cache.get(p)
            if got is None:
                got = cache[p] = reference_piece_ids(p, merges, vocab)
            ids.extend(got)
        out.append((doc_id, ids))
    return out


def _bpe_ids_sql() -> str:
    """Oracle for text_bpe_ids: independent-encoder id sequences inlined
    as VALUES, space-joined to a scalar string (the driver's canonicalizer
    cannot hash list cells — element order is still fully checked by the
    exact joined string)."""
    docs = _reference_doc_ids()
    if not docs:
        return (
            "SELECT NULL::BIGINT AS doc_id, NULL::BIGINT AS n_ids, "
            "NULL::VARCHAR AS ids_str WHERE false"
        )
    vals = ",\n  ".join(
        "({}, {}, '{}')".format(d, len(ids), " ".join(map(str, ids)))
        for d, ids in docs
    )
    return (
        "SELECT doc_id::BIGINT AS doc_id, n_ids::BIGINT AS n_ids, ids_str "
        f"FROM (VALUES\n  {vals}\n) AS t(doc_id, n_ids, ids_str)"
    )


def _pack_ids_sql(ctx_len: int = 256) -> str:
    """Oracle for pack_materialize_ids: concatenate the independent
    per-doc id encodings in doc_id order and window into ctx_len slices —
    plain Python, inlined as VALUES."""
    docs = _reference_doc_ids()
    stream: list[int] = []
    for _d, ids in docs:
        stream.extend(ids)
    if not stream:
        return (
            "SELECT NULL::BIGINT AS seq_id, NULL::BIGINT AS n_tokens, "
            "NULL::VARCHAR AS seq_ids_str WHERE false"
        )
    rows = []
    for k in range((len(stream) + ctx_len - 1) // ctx_len):
        seq = stream[k * ctx_len : (k + 1) * ctx_len]
        rows.append((k, len(seq), seq))
    vals = ",\n  ".join(
        "({}, {}, '{}')".format(k, n, " ".join(map(str, seq)))
        for k, n, seq in rows
    )
    return (
        "SELECT seq_id::BIGINT AS seq_id, n_tokens::BIGINT AS n_tokens, "
        "seq_ids_str "
        f"FROM (VALUES\n  {vals}\n) AS t(seq_id, n_tokens, seq_ids_str)"
    )


_PARAGRAPH_DEDUP_SQL = """
WITH d AS (
  SELECT doc_id, regexp_replace(text, ' the ', chr(10), 'g') AS text FROM documents
),
sp AS (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ps FROM d),
px0 AS (
  SELECT doc_id,
         unnest(list_transform(range(len(ps)), i -> {'idx': i, 'para': ps[i+1]})) AS u
  FROM sp
),
px AS (
  SELECT doc_id, u.idx AS idx, u.para AS para,
         md5(trim(regexp_replace(lower(u.para), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM px0 WHERE trim(u.para) <> ''
),
w AS (
  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id, idx) AS rn FROM px
),
re AS (
  SELECT doc_id, string_agg(para, chr(10) ORDER BY idx) AS text_dedup,
         count(*)::BIGINT AS n_kept
  FROM w WHERE rn = 1 GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*)::BIGINT AS n_paragraphs FROM px GROUP BY doc_id)
SELECT dd.doc_id,
       coalesce(re.text_dedup, '') AS text_dedup,
       coalesce(tot.n_paragraphs, 0)::BIGINT AS n_paragraphs,
       coalesce(re.n_kept, 0)::BIGINT AS n_kept
FROM documents dd
LEFT JOIN tot ON tot.doc_id = dd.doc_id
LEFT JOIN re ON re.doc_id = dd.doc_id
"""


def _url_norm_cte() -> str:
    """Shared CTE for the URL-tier oracles: the same deterministic capture
    synthesis (_URL_RAW_EXPR parses identically in both engines), then an
    independent DuckDB re-implementation of the canonicalization — list
    lambdas and string functions, sharing only the CONSTANTS (regex,
    tracking-param and registry-label sets) with operators/urls.py."""
    from biocurator_mapper_spark.operators.urls import (
        REGISTRY_2LD,
        TRACKING_PARAMS,
        URL_RE,
    )

    track = "[" + ", ".join(f"'{p}'" for p in TRACKING_PARAMS) + "]"
    reg2 = "[" + ", ".join(f"'{p}'" for p in REGISTRY_2LD) + "]"
    return f"""
WITH cap AS (
  SELECT doc_id, {_URL_RAW_EXPR} AS url_raw FROM documents
), parts AS (
  SELECT doc_id, url_raw,
         lower(regexp_extract(url_raw, '{URL_RE}', 1)) AS scheme,
         regexp_replace(regexp_extract(url_raw, '{URL_RE}', 2),
                        '^[^/@]*@', '') AS auth,
         regexp_extract(url_raw, '{URL_RE}', 3) AS rawpath,
         regexp_extract(url_raw, '{URL_RE}', 4) AS q
  FROM cap
), hostport AS (
  SELECT *,
         lower(split_part(auth, ':', 1)) AS host,
         CASE WHEN contains(auth, ':') THEN split_part(auth, ':', 2)
              ELSE '' END AS port
  FROM parts
), pieces AS (
  SELECT *,
         CASE WHEN rawpath = '' THEN '/'
              WHEN rawpath <> '/' AND rawpath LIKE '%/'
                THEN substr(rawpath, 1, length(rawpath) - 1)
              ELSE rawpath END AS path,
         array_to_string(list_sort(list_filter(string_split(q, '&'),
           p -> p <> '' AND NOT list_contains({track},
                  lower(split_part(p, '=', 1))))), '&') AS qs,
         string_split(host, '.') AS labels
  FROM hostport
), normed AS (
  SELECT doc_id, url_raw,
         CASE WHEN scheme = '' THEN trim(url_raw) ELSE
           scheme || '://' || host ||
           CASE WHEN (scheme = 'http' AND port = '80')
                     OR (scheme = 'https' AND port = '443')
                     OR port = '' THEN '' ELSE ':' || port END ||
           path ||
           CASE WHEN qs = '' THEN '' ELSE '?' || qs END
         END AS url_norm,
         CASE WHEN len(labels) <= 2 THEN host
              WHEN length(labels[len(labels)]) = 2
                   AND list_contains({reg2}, labels[len(labels) - 1])
                THEN array_to_string(list_slice(labels, len(labels) - 2, len(labels)), '.')
              ELSE array_to_string(list_slice(labels, len(labels) - 1, len(labels)), '.')
         END AS domain
  FROM pieces
)"""


def _url_canonical_sql() -> str:
    return (
        _url_norm_cte()
        + """
SELECT doc_id::BIGINT AS doc_id, url_raw, url_norm, domain FROM normed"""
    )


def _url_psl_sql() -> str:
    """Oracle for url_registrable_psl: an independent DuckDB formulation
    of the prevailing-rule algorithm (unnest candidate suffixes + one
    rules join + group-by, vs the Spark side's per-label-count broadcast
    joins), sharing only the parsed snapshot CONSTANTS."""
    from biocurator_mapper_spark.operators.psl import parse_psl_rules
    from biocurator_mapper_spark.operators.urls import REGISTRY_2LD

    rules = parse_psl_rules()
    rows = []
    for r in rules.values():
        if r.ps_low is not None:
            rows.append((r.suffix, r.k, r.ps_low, "false"))
        if r.ps_high is not None:  # wildcard: needs one more host label
            rows.append((r.suffix, r.ps_high, r.ps_high, "false"))
        if r.exc_ps is not None:
            rows.append((r.suffix, r.k, r.exc_ps, "true"))
    max_k = max(r.k for r in rules.values())
    vals = ",\n    ".join(
        f"('{s}', {mn}, {ps}, {exc})" for s, mn, ps, exc in rows
    )
    reg2 = "[" + ", ".join(f"'{p}'" for p in REGISTRY_2LD) + "]"
    return f"""
WITH hosts AS (
  SELECT doc_id, lower({_PSL_HOST_SQL}) AS host FROM documents
), hl AS (
  SELECT doc_id, host, string_split(host, '.') AS labels,
         len(string_split(host, '.')) AS n
  FROM hosts
), cand AS (
  SELECT doc_id, n,
         unnest(generate_series(1, least(n, {max_k}))) AS k, labels
  FROM hl
), c2 AS (
  SELECT doc_id, n,
         array_to_string(list_slice(labels, n - k + 1, n), '.') AS sfx
  FROM cand
), rules(sfx, min_n, ps_len, is_exc) AS (
  SELECT * FROM (VALUES
    {vals}
  )
), m AS (
  SELECT c2.doc_id, r.is_exc, r.ps_len
  FROM c2 JOIN rules r ON r.sfx = c2.sfx AND c2.n >= r.min_n
), agg AS (
  SELECT doc_id,
         max(CASE WHEN is_exc THEN ps_len END) AS exc_ps,
         max(CASE WHEN NOT is_exc THEN ps_len END) AS plain_ps
  FROM m GROUP BY doc_id
)
SELECT h.doc_id::BIGINT AS doc_id, h.host,
       CASE WHEN coalesce(a.exc_ps, a.plain_ps) IS NULL THEN
              CASE WHEN h.n <= 2 THEN h.host
                   WHEN length(h.labels[h.n]) = 2
                        AND list_contains({reg2}, h.labels[h.n - 1])
                     THEN array_to_string(list_slice(h.labels, h.n - 2, h.n), '.')
                   ELSE array_to_string(list_slice(h.labels, h.n - 1, h.n), '.')
              END
            WHEN h.n <= coalesce(a.exc_ps, a.plain_ps) THEN h.host
            ELSE array_to_string(
                   list_slice(h.labels,
                              h.n - coalesce(a.exc_ps, a.plain_ps), h.n), '.')
       END AS domain_psl
FROM hl h LEFT JOIN agg a ON a.doc_id = h.doc_id"""


from biocurator_mapper_spark.functions.text import (  # noqa: E402
    BPE_TOKEN_RE as _BPE_RE,
)

_BPE_RE_SQL = _BPE_RE.replace("'", "''")

_TOK_TWIN = "list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '')"
_DISTINCT_TOK_Q = (
    "len(list_distinct(list_filter(string_split_regex(lower(text), "
    "'[^a-z0-9]+'), x -> x <> '')))::BIGINT"
)


def _mix_epoch_sql() -> str:
    """Oracle for mix_epoch_plan: same all-integer arithmetic (// is
    DuckDB's integer division, Spark's DIV twin) over the shared weight
    constants."""
    wsum = sum(_MIX_WEIGHTS.values())
    vals = ", ".join(f"('{s}', {w})" for s, w in sorted(_MIX_WEIGHTS.items()))
    return f"""
WITH tok AS (
  SELECT source, len({_TOK_TWIN})::BIGINT AS n_tok FROM documents
), sums AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens
  FROM tok GROUP BY source
), w(source, weight) AS (SELECT * FROM (VALUES {vals})),
j AS (
  SELECT coalesce(s.source, w.source) AS source,
         coalesce(s.n_docs, 0)::BIGINT AS n_docs,
         coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
         coalesce(w.weight, 0)::BIGINT AS weight
  FROM sums s FULL OUTER JOIN w ON s.source = w.source
), t AS (
  SELECT *, (({_MIX_BUDGET} * weight) // {wsum})::BIGINT AS target_tokens
  FROM j
)
SELECT source, n_docs, n_tokens, weight, target_tokens,
       (CASE WHEN n_tokens > 0 THEN target_tokens // n_tokens
             ELSE 0 END)::BIGINT AS full_epochs,
       (CASE WHEN n_tokens > 0 THEN target_tokens % n_tokens
             ELSE target_tokens END)::BIGINT AS remainder_tokens
FROM t"""


def _ccnet_buckets_sql() -> str:
    return f"""
WITH q AS (SELECT doc_id, source, {_DISTINCT_TOK_Q} AS q FROM documents)
SELECT doc_id::BIGINT AS doc_id, source, q,
       ntile(3) OVER (PARTITION BY source ORDER BY q DESC, doc_id ASC)::BIGINT
         AS quality_bucket
FROM q"""


# Deterministic host-level link-graph fixture: two out-edges per document
# between 40 'd<k>' nodes — CASE/||/CAST-only SQL, parses identically in
# both engines (the usual fixture rule).
_LINK_EDGES_SQL = (
    "SELECT 'd' || CAST(doc_id % 40 AS STRING) AS src, "
    "'d' || CAST((doc_id * 7 + 3) % 40 AS STRING) AS dst FROM documents "
    "UNION ALL "
    "SELECT 'd' || CAST(doc_id % 40 AS STRING) AS src, "
    "'d' || CAST((doc_id * 13 + 1) % 40 AS STRING) AS dst FROM documents"
)


def _pagerank_sql(iters: int = 5, damping: int = 85) -> str:
    """Oracle for kg_pagerank: the SAME fixed-point integer recurrence
    unrolled as chained CTEs (DuckDB ``//`` ≡ Spark ``DIV`` on BIGINTs, so
    every rank matches bit-for-bit — no float tolerance games)."""
    from biocurator_mapper_spark.operators.graph import PAGERANK_SCALE

    base = PAGERANK_SCALE * (100 - damping) // 100
    sql = f"""
WITH e AS ({_LINK_EDGES_SQL}),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
r0 AS (SELECT node, {PAGERANK_SCALE}::BIGINT AS rank FROM nodes)"""
    prev = "r0"
    for i in range(1, iters + 1):
        sql += f""",
c{i} AS (
  SELECT e.dst AS node, sum(r.rank // d.deg)::BIGINT AS cin
  FROM e JOIN {prev} r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.node,
         ({base} + ({damping} * coalesce(c.cin, 0)) // 100)::BIGINT AS rank
  FROM nodes n LEFT JOIN c{i} c ON c.node = n.node
)"""
        prev = f"r{i}"
    return sql + f"\nSELECT node, rank FROM {prev}"


_BLOCKED_DOMAINS = ("site0.com", "site13.co.uk", "site2.org")


def _url_blocklist_sql() -> str:
    vals = ", ".join(f"('{d}')" for d in _BLOCKED_DOMAINS)
    return (
        _url_norm_cte()
        + f"""
SELECT doc_id::BIGINT AS doc_id, domain FROM normed
WHERE domain NOT IN (SELECT b FROM (VALUES {vals}) AS t(b))"""
    )


def _url_latest_sql() -> str:
    # struct-max over unique (ts, tb) == the row_number formulation
    return (
        _url_norm_cte()
        + """
SELECT url_norm, warc_ts, tb, doc_id FROM (
  SELECT n.url_norm,
         (n.doc_id * 3600)::BIGINT AS warc_ts,
         n.doc_id::BIGINT AS tb,
         n.doc_id::BIGINT AS doc_id,
         row_number() OVER (PARTITION BY n.url_norm
                            ORDER BY n.doc_id * 3600 DESC, n.doc_id DESC) AS rn
  FROM normed n
) WHERE rn = 1"""
    )


def _domain_cap_sql(cap: int = 3) -> str:
    # the sampling tier's md5-prefix hash order over the URL tier's domain
    return (
        _url_norm_cte()
        + f"""
SELECT doc_id, domain FROM (
  SELECT doc_id::BIGINT AS doc_id, domain,
         row_number() OVER (
           PARTITION BY domain
           ORDER BY ('0x' || substring(md5(coalesce(doc_id::VARCHAR,
                       chr(0) || 'null')), 1, 4))::BIGINT ASC,
                    doc_id ASC
         ) AS rn
  FROM normed
) WHERE rn <= {cap}"""
    )


def _exactsubstr_cte(length: int = 50) -> str:
    """Shared CTE prefix for the exact-substring tier oracles: one row per
    character position of the normalized text, duplicated L-grams found by
    grouping the gram STRINGS (the Spark path keys by two independent
    62-bit polynomial hashes — the oracle never re-derives them), first
    occurrence per gram = min (doc_id, p), islands merged with the same
    gaps-and-islands window. Normalization mirrors the operator's unicode
    word class (operators/exactsubstr.py::_NORM_SQL — RE2 and Java agree
    on \\p{{L}}/\\p{{N}})."""
    return f"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(lower(coalesce(text, '')), '[^\\p{{L}}\\p{{N}}]+', ' ', 'g')) AS s
  FROM documents
), pos AS (
  SELECT doc_id, unnest(generate_series(1, length(s) - {length} + 1)) AS p, s
  FROM norm
  WHERE length(s) >= {length}
), grams AS (
  SELECT doc_id, p, substr(s, p::INT, {length}) AS g FROM pos
), marked AS (
  SELECT doc_id, p,
         count(*) OVER (PARTITION BY g) AS c,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn
  FROM grams
), cov AS (
  SELECT doc_id, p FROM marked WHERE c >= 2 AND rn > 1
), brk AS (
  SELECT doc_id, p,
         CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
                   OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > {length}
              THEN 1 ELSE 0 END AS b
  FROM cov
), isl AS (
  SELECT doc_id, p, sum(b) OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM brk
), spans AS (
  SELECT doc_id, min(p) AS span_start, max(p) + {length} AS span_end
  FROM isl GROUP BY doc_id, grp
)"""


def _exactsubstr_spans_sql(length: int = 50) -> str:
    return (
        _exactsubstr_cte(length)
        + """
SELECT doc_id::BIGINT AS doc_id,
       span_start::BIGINT AS span_start,
       span_end::BIGINT AS span_end
FROM spans"""
    )


_DSIR_T_COND = "source IN ('src0', 'src1')"
_DSIR_R_COND = "source NOT IN ('src0', 'src1')"


def _dsir_grams_cte(cond: str) -> str:
    # NON-distinct word bigrams (the multiset is the signal) — same token
    # regex as _shingle_cte, duplicates kept
    return f"""
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents WHERE {cond}
),
grams AS (
  SELECT doc_id,
         unnest(CASE
           WHEN len(t) >= 2
             THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
           WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
           ELSE [] END) AS g
  FROM toks
)"""


def _dsir_sql(dim: int | None = None) -> str:
    """Oracle for sample_dsir_weights: bucket counts re-derived with DuckDB
    SQL (independent tokenize/bigram/hash/count), fed through the SAME
    pure-Python quantized log-ratio function, inlined as VALUES; scoring
    (bucket join + per-doc integer sum) is then pure SQL."""
    import os as _os

    import duckdb

    from biocurator_mapper_spark.operators.importance import (
        DSIR_DIM,
        dsir_log_ratios,
    )

    dim = dim or DSIR_DIM
    sf_dir = _os.environ.get(_ORACLE_SF_DIR_ENV, "/root/testdata/sf0.01")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )

    def _counts(cond: str) -> dict[int, int]:
        rows = con.execute(
            f"""WITH {_dsir_grams_cte(cond)}
            SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT % {dim} AS b,
                   count(*) AS c
            FROM grams GROUP BY 1"""
        ).fetchall()
        return {int(b): int(c) for b, c in rows}

    ratios = dsir_log_ratios(_counts(_DSIR_T_COND), _counts(_DSIR_R_COND), dim)
    con.close()
    vals = ",".join(f"({b},{r})" for b, r in sorted(ratios.items()))
    return f"""
WITH ratios(b, lr) AS (VALUES {vals}),
{_dsir_grams_cte(_DSIR_R_COND)},
bk AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT % {dim} AS b
  FROM grams
),
sc AS (SELECT doc_id, sum(lr) AS s FROM bk JOIN ratios USING (b) GROUP BY doc_id)
SELECT d.doc_id::BIGINT AS doc_id, coalesce(sc.s, 0)::BIGINT AS dsir_score
FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
WHERE {_DSIR_R_COND}"""


def _exactsubstr_incremental_sql(length: int = 50, split_id: int = 250) -> str:
    # batch-equivalence under monotone ingestion: the full-corpus span
    # derivation restricted to the increment's docs
    return (
        _exactsubstr_cte(length)
        + f"""
SELECT doc_id::BIGINT AS doc_id,
       span_start::BIGINT AS span_start,
       span_end::BIGINT AS span_end
FROM spans WHERE doc_id >= {split_id}"""
    )


def _exactsubstr_cut_sql(length: int = 50) -> str:
    # kept segments between spans (plus the tail after the last span),
    # joined on ' ' then whitespace-collapsed and trimmed — exactly the
    # pandas kernel's " ".join(pieces) + collapse + strip
    return (
        _exactsubstr_cte(length)
        + """
, segs AS (
  SELECT doc_id,
         coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 1) AS seg_start,
         span_start AS seg_end
  FROM spans
  UNION ALL
  SELECT doc_id, max(span_end) AS seg_start, NULL AS seg_end
  FROM spans GROUP BY doc_id
), joined AS (
  SELECT sg.doc_id,
         string_agg(
           substr(n.s, sg.seg_start::INT,
                  (coalesce(sg.seg_end, length(n.s) + 1) - sg.seg_start)::INT),
           ' ' ORDER BY sg.seg_start) AS j
  FROM segs sg JOIN norm n USING (doc_id)
  GROUP BY sg.doc_id
), ncut AS (
  SELECT doc_id, sum(span_end - span_start) AS n FROM spans GROUP BY doc_id
)
SELECT n.doc_id::BIGINT AS doc_id,
       CASE WHEN j.j IS NULL THEN n.s
            ELSE trim(regexp_replace(j.j, ' +', ' ', 'g')) END AS text_cut,
       coalesce(nc.n, 0)::BIGINT AS n_cut_chars
FROM norm n
LEFT JOIN joined j ON j.doc_id = n.doc_id
LEFT JOIN ncut nc ON nc.doc_id = n.doc_id"""
    )


def _substring_spans_sql(
    k: int = 20, w: int = 30, min_len: int = 49, max_df: int = 256
) -> str:
    """Oracle for dedup_substring_spans: candidate pairs re-derived with the
    SAME winnowing kernel (winnow_anchors_py — candidate generation is the
    shared spec), then span lengths computed with difflib's
    find_longest_match — a genuinely INDEPENDENT longest-common-substring
    implementation — and inlined as VALUES."""
    import difflib
    import os as _os
    import re as _re
    from collections import Counter as _Counter

    import duckdb

    from biocurator_mapper_spark.operators.dedup import winnow_anchors_py

    sf_dir = _os.environ.get(_ORACLE_SF_DIR_ENV, "/root/testdata/sf0.01")
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, coalesce(text, '') FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    con.close()
    collapse = _re.compile(r"[^a-z0-9]+")
    norm = {i: collapse.sub(" ", t.lower()).strip() for i, t in rows}
    anchors = {i: winnow_anchors_py(s, k, w) for i, s in norm.items()}
    df_count: _Counter = _Counter(a for al in anchors.values() for a in al)
    hot = {a for a, c in df_count.items() if c > max_df}
    buckets: dict[int, list] = {}
    for i, al in anchors.items():
        for a in al:
            if a not in hot:
                buckets.setdefault(a, []).append(i)
    pairs = set()
    for ids in buckets.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                pairs.add((ids[x], ids[y]))
    out = []
    for ia, ib in sorted(pairs):
        a, b = norm[ia], norm[ib]
        m = difflib.SequenceMatcher(None, a, b, autojunk=False)
        ln = m.find_longest_match(0, len(a), 0, len(b)).size
        if ln >= min_len:
            out.append((ia, ib, ln))
    if not out:
        return (
            "SELECT NULL::BIGINT AS id_a, NULL::BIGINT AS id_b, "
            "NULL::BIGINT AS span_len WHERE false"
        )
    vals = ",\n  ".join(f"({a}, {b}, {n})" for a, b, n in out)
    return (
        "SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, "
        f"span_len::BIGINT AS span_len FROM (VALUES\n  {vals}\n) "
        "AS t(id_a, id_b, span_len)"
    )


def _temperature_sample_sql(alpha: float = 0.5, target_rows: int = 300) -> str:
    """Oracle for sample_temperature: per-source counts read via DuckDB at
    the oracle SF, thresholds produced by the SAME pure-Python math the
    Spark path uses (operators/sampling.py::thresholds_from_counts), then
    an integer hash-threshold filter — the IVF-centroid data-dependent
    pattern; no float crosses an engine boundary."""
    import os as _os

    import duckdb

    from biocurator_mapper_spark.operators.sampling import thresholds_from_counts

    sf_dir = _os.environ.get(_ORACLE_SF_DIR_ENV, "/root/testdata/sf0.01")
    con = duckdb.connect()
    n_by = con.execute(
        f"SELECT source, count(*)::BIGINT FROM '{sf_dir}/documents.parquet' "
        "GROUP BY source ORDER BY source"
    ).fetchall()
    con.close()
    th = thresholds_from_counts([(s, n) for s, n in n_by], alpha, target_rows)
    q = lambda s: str(s).replace("'", "''")  # noqa: E731
    # same null-safe (is-not-None, value) ordering sampling.py uses, and a
    # CASE WHEN form so a NULL stratum gets its own threshold branch (the
    # simple `CASE source WHEN ...` never matches NULL)
    items = sorted(
        th.items(),
        key=lambda kv: (kv[0] is not None, kv[0] if kv[0] is not None else ""),
    )
    cases = " ".join(
        f"WHEN source IS NULL THEN {t}"
        if s is None
        else f"WHEN source = '{q(s)}' THEN {t}"
        for s, t in items
    )
    return f"""
        SELECT doc_id, source FROM documents
        WHERE ('0x' || substring(md5(coalesce(doc_id::VARCHAR, chr(0) || 'null')), 1, 4))::BIGINT
              < CASE {cases} ELSE 0 END
    """


def _bm25_sql(
    query_terms: list[str], k: int = 20, k1: float = 1.2, b: float = 0.75
) -> str:
    """Mirror of operators/retrieval.py::bm25_topk: stats recomputed from
    the parquet driver-side (exact integers), idf logs taken in Python and
    inlined via '…'::DOUBLE (string→double parse is correctly rounded;
    decimal literals are not), score chain in the same fold order."""
    import os as _os

    import duckdb as _duckdb

    from biocurator_mapper_spark.operators.retrieval import bm25_idf

    sf_dir = _os.environ.get(_ORACLE_SF_DIR_ENV, "/root/testdata/sf0.01")
    con = _duckdb.connect()
    tok = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
    df_cols = ", ".join(
        f"sum(CASE WHEN list_contains({tok}, '{t}') THEN 1 ELSE 0 END)::BIGINT"
        for t in query_terms
    )
    row = con.execute(
        f"SELECT count(*)::BIGINT, sum(len({tok}))::BIGINT, {df_cols} "
        f"FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()
    con.close()
    n, dl_sum = int(row[0]), int(row[1])
    avgdl = dl_sum / n if n else 0.0
    d = lambda v: f"('{v!r}'::DOUBLE)"  # noqa: E731
    terms_sql = []
    for i, t in enumerate(query_terms):
        idf = bm25_idf(n, int(row[2 + i]))
        tf = f"len(list_filter(t, x -> x = '{t}'))::DOUBLE"
        denom = f"({tf} + {d(k1)} * ({d(1.0 - b)} + {d(b)} * dl / {d(avgdl)}))"
        terms_sql.append(f"{d(idf)} * ({tf} * {d(k1 + 1.0)} / {denom})")
    score = " + ".join([d(0.0), *terms_sql])
    return f"""
WITH tok AS (
  SELECT doc_id, {tok} AS t, len({tok})::DOUBLE AS dl FROM documents
),
scored AS (SELECT doc_id, {score} AS score FROM tok)
SELECT doc_id, score FROM scored
WHERE score > 0.0
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def _pii_sql() -> str:
    """Mirror of redact_pii/pii_counts, generated from the SAME pattern
    registry (functions/text.py::PII_PATTERNS — RE2-compatible)."""
    from biocurator_mapper_spark.functions.text import PII_PATTERNS

    red = "text"
    for name, pat in PII_PATTERNS:
        p = pat.replace("'", "''")
        red = f"regexp_replace({red}, '{p}', '[{name.upper()}]', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat.replace(chr(39), chr(39) * 2)}'))::BIGINT AS n_{name}"
        for name, pat in PII_PATTERNS
    )
    return f"SELECT doc_id, {red} AS redacted, {counts} FROM documents"


_CURATION_SQL = None


def _curation_sql() -> str:
    stop = _sql_list(_EN)
    return f"""
WITH t AS (
  SELECT doc_id, text, lang,
    coalesce(length(text), 0) AS nc,
    len(list_filter(string_split_regex(lower(text), '[^\\p{{L}}0-9'']+'), x -> x <> '')) AS nt,
    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
      / greatest(length(text), 1)::DOUBLE AS pr,
    len(list_filter(list_filter(string_split_regex(lower(text), '[^\\p{{L}}0-9'']+'), x -> x <> ''),
                    x -> list_contains({stop}, x)))
      / greatest(len(list_filter(string_split_regex(lower(text), '[^\\p{{L}}0-9'']+'), x -> x <> '')), 1)::DOUBLE AS sr,
    CASE WHEN len(list_filter(string_split_regex(lower(text), '[^\\p{{L}}0-9'']+'), x -> x <> '')) > 0
         THEN coalesce(list_max(list_transform(
                list_distinct(list_filter(string_split_regex(lower(text), '[^\\p{{L}}0-9'']+'), x -> x <> '')),
                d -> len(list_filter(list_filter(string_split_regex(lower(text), '[^\\p{{L}}0-9'']+'), x -> x <> ''), x -> x = d)))), 0)
              / len(list_filter(string_split_regex(lower(text), '[^\\p{{L}}0-9'']+'), x -> x <> ''))::DOUBLE
         ELSE 0.0 END AS rr,
    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
  FROM documents
),
g AS (
  SELECT doc_id, fingerprint,
    CASE WHEN nc < 80 THEN 'too_short'
         WHEN nt < 10 THEN 'too_few_tokens'
         WHEN pr > 0.2 THEN 'too_much_punct'
         WHEN sr < 0.01 THEN 'no_stopwords'
         WHEN rr > 0.5 THEN 'too_repetitive'
         WHEN coalesce(lang, 'und') NOT IN ('en') THEN 'wrong_language' END AS gate
  FROM t
),
reps AS (SELECT fingerprint, min(doc_id) AS rep FROM g WHERE gate IS NULL GROUP BY 1)
SELECT g.doc_id, g.fingerprint,
       coalesce(g.gate, CASE WHEN g.doc_id <> r.rep THEN 'duplicate' END, 'kept')
         AS curation_stage
FROM g LEFT JOIN reps r ON r.fingerprint = g.fingerprint
"""


def oracle_sql() -> dict[str, str]:
    return {
        "p1_parse_terms": _p1_sql(),
        "p2_curie_normalize": """
            SELECT p_partkey AS part_key,
                   replace(regexp_extract('http://purl.obolibrary.org/obo/PART_' || p_partkey,
                                          '([^/]+)$', 1), '_', ':') AS curie
            FROM part
        """,
        "p7_searchable_text": """
            SELECT p_partkey AS part_key,
                   concat_ws(' ', nullif(p_name, ''), nullif(p_brand, ''), nullif(p_type, ''))
                     AS searchable_text
            FROM part
        """,
        "p8_searchable_config": _P8_SQL,
        "emb_cosine_pairs_exact": """
            WITH a AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings WHERE vec_id < 100),
            b AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings)
            SELECT id_a, id_b,
                   list_sum(list_transform(range(1, 65), i -> va[i]::DOUBLE * vb[i]::DOUBLE))
                     / (sqrt(list_sum(list_transform(range(1, 65), i -> va[i]::DOUBLE * va[i]::DOUBLE)))
                        * sqrt(list_sum(list_transform(range(1, 65), i -> vb[i]::DOUBLE * vb[i]::DOUBLE))))
                     AS cosine
            FROM a, b
            WHERE id_a < id_b
              AND list_sum(list_transform(range(1, 65), i -> va[i]::DOUBLE * vb[i]::DOUBLE))
                    / (sqrt(list_sum(list_transform(range(1, 65), i -> va[i]::DOUBLE * va[i]::DOUBLE)))
                       * sqrt(list_sum(list_transform(range(1, 65), i -> vb[i]::DOUBLE * vb[i]::DOUBLE)))) >= 0.4
        """,
        "p9_truncate_text": """
            SELECT doc_id,
                   CASE WHEN length(text) > 100 THEN substring(text, 1, 97) || '...'
                        ELSE text END AS embed_text
            FROM documents
        """,
        "p13_content_hash": """
            SELECT o_orderkey AS order_key,
                   substring(sha256('{"status":"' || o_orderstatus || '","priority":"' ||
                             o_orderpriority || '"}'), 1, 16) AS content_hash
            FROM orders
        """,
        "f2_quality_filter": """
            SELECT doc_id, n_chars FROM documents
            WHERE length(text) >= 100 AND NOT contains(lower(text), 'slow')
              AND trim(text) <> ''
        """,
        "w2_keep_last_n": """
            SELECT user_id, event_id, rn FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn <= 10
        """,
        "w3_latest_record": """
            SELECT user_id, event_id AS latest_event_id, ts AS latest_ts FROM (
              SELECT user_id, event_id, ts,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "j6_mention_detect": f"""
            SELECT d.doc_id, dic.surface AS mention, dic.term_id
            FROM documents d, {_dict_values_sql()}
            WHERE contains(lower(d.text), dic.surface)
        """,
        "j5_topk_similarity": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS corpus_id, embedding AS ce FROM embeddings),
            scored AS (
              SELECT q.query_id, c.corpus_id,
                     list_sum(list_transform(range(1, 65), i -> qe[i]::DOUBLE * ce[i]::DOUBLE))
                       / (sqrt(list_sum(list_transform(range(1, 65), i -> qe[i]::DOUBLE * qe[i]::DOUBLE)))
                          * sqrt(list_sum(list_transform(range(1, 65), i -> ce[i]::DOUBLE * ce[i]::DOUBLE))))
                       AS cosine
              FROM q, c
            ),
            ranked AS (
              SELECT query_id, corpus_id, cosine,
                     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, corpus_id, rank, cosine FROM ranked WHERE rank <= 5
        """,
        "sim_ann_q8_topk": """
            -- the same int8 symmetric quantization: q_i = floor(x·127/max|x| + .5),
            -- integer dot (order-independent), ((ma·mb)·dot)/127² rescale
            WITH qz AS (
              SELECT vec_id,
                     list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS m,
                     list_transform(embedding, x -> x::DOUBLE) AS d
              FROM embeddings
            ),
            qv AS (
              SELECT vec_id, m,
                     CASE WHEN m > 0
                          THEN list_transform(d, x -> floor(x * 127.0 / m + 0.5)::BIGINT)
                          ELSE list_transform(d, x -> 0::BIGINT) END AS q
              FROM qz
            ),
            scored AS (
              SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
                     ((a.m * b.m) * list_sum(list_transform(range(1, 65),
                        i -> a.q[i] * b.q[i]))::DOUBLE) / 16129.0 AS score
              FROM qv a, qv b WHERE a.vec_id < 10
            )
            SELECT query_id, corpus_id, rank, score FROM (
              SELECT query_id, corpus_id, score,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, corpus_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "j5b_broadcast_matmul_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS corpus_id, embedding AS ce FROM embeddings),
            scored AS (
              SELECT q.query_id, c.corpus_id,
                     list_sum(list_transform(range(1, 65), i -> qe[i]::DOUBLE * ce[i]::DOUBLE))
                       / (sqrt(list_sum(list_transform(range(1, 65), i -> qe[i]::DOUBLE * qe[i]::DOUBLE)))
                          * sqrt(list_sum(list_transform(range(1, 65), i -> ce[i]::DOUBLE * ce[i]::DOUBLE))))
                       AS cosine
              FROM q, c
            )
            SELECT query_id, corpus_id, rank FROM (
              SELECT query_id, corpus_id,
                     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "j1_broadcast_enrich": """
            SELECT o.o_orderkey AS order_key, c.c_name AS customer_name, n.n_name AS nation_name
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
        """,
        "j3_antijoin_unprocessed": """
            SELECT p_partkey AS part_key FROM part
            WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        """,
        "a1_stage_counters": """
            SELECT event_type, count(*) AS n_events,
                   sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS sum_value_cents,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "a2_throughput": """
            -- floor(epoch()) mirrors Spark's unix_timestamp whole-second
            -- truncation (DuckDB epoch() keeps fractional seconds)
            SELECT event_type,
                   count(*) / greatest(floor(epoch(max(ts)))::BIGINT
                                       - floor(epoch(min(ts)))::BIGINT, 1)::DOUBLE
                     AS rows_per_s
            FROM events GROUP BY event_type
        """,
        "a3_batch_count": """
            SELECT event_type, ceil(count(*) / 100.0)::BIGINT AS total_batches
            FROM events GROUP BY event_type
        """,
        "a4_reject_tally": """
            SELECT CASE WHEN length(text) < 100 THEN 'too_short'
                        WHEN contains(lower(text), 'slow') THEN 'excluded_pattern'
                        ELSE 'kept' END AS reject_reason,
                   count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "p11_json_parse": """
            SELECT event_id, TRY_CAST(props->>'k' AS INTEGER) AS k_value
            FROM events WHERE props->>'k' IS NOT NULL
        """,
        "skew_salted_host_stats": """
            -- sum() over integers is HUGEINT in DuckDB (arrow decimal128) but
            -- BIGINT in Spark; cast so the driver's value hash matches
            SELECT source, count(doc_id) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
                   max(n_chars) AS max_chars
            FROM documents GROUP BY source
        """,
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(floor(l_quantity * 100 + 0.5)::BIGINT)::BIGINT AS sum_qty_x100,
                   sum(floor(l_extendedprice * 100 + 0.5)::BIGINT)::BIGINT AS sum_base_price_cents,
                   sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)::BIGINT)::BIGINT AS sum_disc_price_cents,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "join_top_customers_per_nation": """
            WITH spend AS (
              SELECT o_custkey,
                     sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS total_spend_cents
              FROM orders GROUP BY o_custkey
            )
            SELECT n.n_name AS nation_name, s.o_custkey AS cust_key, s.total_spend_cents, rn
            FROM (
              SELECT s.*, c.c_nationkey,
                     row_number() OVER (
                       PARTITION BY c.c_nationkey ORDER BY s.total_spend_cents DESC, s.o_custkey ASC
                     ) AS rn
              FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
            ) s JOIN nation n ON s.c_nationkey = n.n_nationkey
            WHERE rn <= 3
        """,
        "events_hourly_windows": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n_events,
                   sum(floor(value * 100 + 0.5)::BIGINT)
                     / count(*)::DOUBLE AS avg_value_cents
            FROM events GROUP BY 1, 2
        """,
        "curation_pipeline": _curation_sql(),
        "curation_funnel_report": f"""
            WITH base AS ({{0}})
            SELECT curation_stage, count(*) AS n_docs FROM base GROUP BY 1
        """.format(_curation_sql()),
        "dedup_exact": """
            SELECT text, min(doc_id) AS representative_id, count(*) AS dup_count
            FROM documents GROUP BY text
        """,
        "dedup_fingerprint": """
            SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
                   min(doc_id) AS representative_id, count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "dedup_ngram_jaccard": f"""
            -- mirrors the default max_shingle_df=256 hub-shingle cap:
            -- Jaccard is exact over the RETAINED shingle sets (keyed on the
            -- 60-bit integer shingle hash, like the Spark plan)
            WITH {_hashed_shingle_cte(3)},
            hot AS (SELECT h FROM hrows GROUP BY h HAVING count(*) > 256),
            s2 AS (SELECT hrows.doc_id, hrows.h FROM hrows ANTI JOIN hot USING (h)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM s2 GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM s2 a JOIN s2 b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT i.id_a, i.id_b,
                   i.n_inter / (za.sz + zb.sz - i.n_inter)::DOUBLE AS jaccard
            FROM inter i
            JOIN sizes za ON za.doc_id = i.id_a
            JOIN sizes zb ON zb.doc_id = i.id_b
            WHERE i.n_inter / (za.sz + zb.sz - i.n_inter)::DOUBLE >= 0.5
        """,
        "dedup_minhash_lsh": _minhash_sql(16, 4, 0.5),
        "dedup_cross_pairs": (
            f"WITH {_cross_minhash_ctes(16, 4, 0.5)} "
            "SELECT corpus_id, benchmark_id, jaccard FROM cross_pairs"
        ),
        "dedup_decontaminate": f"""
            WITH {_cross_minhash_ctes(16, 4, 0.5)}
            SELECT doc_id, source FROM documents
            WHERE {_CORPUS_COND}
              AND doc_id NOT IN (SELECT corpus_id FROM cross_pairs)
        """,
        "dedup_substring_spans": _substring_spans_sql(),
        "dedup_exactsubstr_spans": _exactsubstr_spans_sql(),
        "dedup_exactsubstr_cut": _exactsubstr_cut_sql(),
        "url_canonical": _url_canonical_sql(),
        "url_registrable_psl": _url_psl_sql(),
        "mix_epoch_plan": _mix_epoch_sql(),
        "sample_ccnet_buckets": _ccnet_buckets_sql(),
        # decode(encode(text)) must equal the pre-tokenizer's piece concat
        # (corpus is printable ASCII, so no <unk>/U+FFFD asymmetry); DuckDB
        # re-derives the expected string from the shared regex alone —
        # fully independent of the encoder/decoder implementations
        "text_bpe_roundtrip": (
            "SELECT doc_id, array_to_string(regexp_extract_all("
            f"coalesce(text, ''), '{_BPE_RE_SQL}'), '') AS decoded "
            "FROM documents"
        ),
        "kg_pagerank": _pagerank_sql(),
        "url_blocklist_filter": _url_blocklist_sql(),
        "url_snapshot_diff": """
            WITH d AS (SELECT doc_id, md5(text) AS dg FROM documents),
            o AS (SELECT doc_id, dg FROM d WHERE doc_id < 400),
            n AS (SELECT doc_id,
                         CASE WHEN doc_id % 7 = 0 THEN md5(dg || 'v2')
                              ELSE dg END AS dg
                  FROM d WHERE doc_id >= 100)
            SELECT coalesce(o.doc_id, n.doc_id)::BIGINT AS doc_id,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        WHEN o.dg = n.dg THEN 'unchanged'
                        ELSE 'changed' END AS change
            FROM o FULL OUTER JOIN n ON n.doc_id = o.doc_id
        """,
        "dedup_url_latest": _url_latest_sql(),
        "sample_domain_cap": _domain_cap_sql(),
        "dedup_exactsubstr_incremental": _exactsubstr_incremental_sql(),
        "sample_dsir_weights": _dsir_sql(),
        "dedup_substring_candidates": """
            WITH s AS (SELECT doc_id,
                              trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')) AS s
                       FROM documents),
            h AS (
              -- the shared winnow hash: double 31-bit polynomial fold per
              -- k-gram, combined h1*2^31 + h2 (< 2^62, exact in BIGINT)
              SELECT doc_id,
                CASE WHEN length(s) - 19 >= 1 THEN
                  list_transform(range(1, length(s) - 19 + 1),
                    i -> list_reduce(list_prepend(0::BIGINT,
                           list_transform(range(i, i + 20), j -> ascii(substring(s, j, 1))::BIGINT)),
                           (acc, c) -> (acc * 131 + c) % 2147483647) * 2147483648
                       + list_reduce(list_prepend(0::BIGINT,
                           list_transform(range(i, i + 20), j -> ascii(substring(s, j, 1))::BIGINT)),
                           (acc, c) -> (acc * 137 + c) % 2147483629))
                ELSE [] END AS hs
              FROM s
            ),
            an AS (
              SELECT doc_id,
                CASE WHEN len(hs) >= 30 THEN
                       list_distinct(list_transform(range(1, len(hs) - 29 + 1), j -> list_min(hs[j : j+29])))
                     WHEN len(hs) >= 1 THEN [list_min(hs)]
                     ELSE [] END AS anchors
              FROM h
            ),
            rows_ AS (SELECT doc_id, unnest(anchors) AS a FROM an),
            hot AS (SELECT a FROM rows_ GROUP BY a HAVING count(*) > 256),
            r2 AS (SELECT * FROM rows_ WHERE a NOT IN (SELECT a FROM hot))
            SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*)::BIGINT AS n_shared_anchors
            FROM r2 x JOIN r2 y ON x.a = y.a AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        """,
        "dedup_contamination_report": (
            f"WITH {_cross_minhash_ctes(16, 4, 0.5)} "
            "SELECT benchmark_id, count(*)::BIGINT AS n_contaminated, "
            "max(jaccard) AS max_jaccard FROM cross_pairs GROUP BY benchmark_id"
        ),
        "text_lm_score": """
            -- mirrors operators/lm_quality.py: trigram MLE model over the
            -- corpus, per-doc mean of integer-quantized P(c3|c1c2)
            WITH t AS (
              SELECT doc_id,
                     ' ' || trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) || ' ' AS s
              FROM documents
            ),
            tris AS (
              SELECT doc_id,
                     unnest(CASE WHEN len(s) >= 3
                            THEN list_transform(range(1, len(s) - 1), i -> substr(s, i, 3))
                            ELSE [] END) AS trigram
              FROM t
            ),
            model AS (SELECT trigram, count(*)::BIGINT AS tri_n FROM tris GROUP BY trigram),
            ctx AS (SELECT substr(trigram, 1, 2) AS c, sum(tri_n)::BIGINT AS ctx_n
                    FROM model GROUP BY 1),
            m2 AS (SELECT trigram, tri_n, ctx_n
                   FROM model JOIN ctx ON substr(model.trigram, 1, 2) = ctx.c),
            scored AS (
              SELECT tris.doc_id,
                     floor(tri_n::DOUBLE / (ctx_n + 37) * 1000000.0 + 0.5)::BIGINT AS q
              FROM tris JOIN m2 USING (trigram)
            ),
            per_doc AS (SELECT doc_id, count(*) AS n, sum(q) AS sq FROM scored GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(p.n, 0)::BIGINT AS n_trigrams,
                   CASE WHEN coalesce(p.n, 0) > 0
                        THEN p.sq::DOUBLE / (p.n::DOUBLE * 1000000.0)
                        ELSE 0.0 END AS lm_score
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        "dedup_decontaminate_exact": f"""
            -- exact 13-gram collision rule (GPT-3/PaLM decontamination):
            -- any shared word 13-gram with a benchmark doc contaminates
            WITH {_hashed_shingle_cte(13)},
            contaminated AS (
              SELECT DISTINCT a.doc_id
              FROM hrows a JOIN hrows b ON a.h = b.h
              WHERE a.{_CORPUS_COND} AND b.{_BENCH_COND}
            )
            SELECT doc_id, source FROM documents
            WHERE {_CORPUS_COND}
              AND doc_id NOT IN (SELECT doc_id FROM contaminated)
        """,
        # Bloom tier is result-identical to the exact tier by construction
        # (no false negatives + exact verification of candidates) — the
        # oracle IS the exact tier's derivation
        "dedup_decontaminate_bloom": f"""
            WITH {_hashed_shingle_cte(13)},
            contaminated AS (
              SELECT DISTINCT a.doc_id
              FROM hrows a JOIN hrows b ON a.h = b.h
              WHERE a.{_CORPUS_COND} AND b.{_BENCH_COND}
            )
            SELECT doc_id, source FROM documents
            WHERE {_CORPUS_COND}
              AND doc_id NOT IN (SELECT doc_id FROM contaminated)
        """,
        "dedup_clusters": f"""
            -- closure over the LSH-verified pair set (the operator's
            -- scale-safe default), not the exact all-pairs set
            WITH RECURSIVE {_minhash_pairs_ctes(16, 4, 0.5)},
            bi AS (SELECT id_a AS a, id_b AS b FROM mh_pairs
                   UNION SELECT id_b, id_a FROM mh_pairs),
            reach(node, m) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT bi.a, r.m FROM reach r JOIN bi ON bi.b = r.node
            ),
            rep AS (SELECT node AS doc_id, min(m) AS representative_id FROM reach GROUP BY node)
            SELECT d.doc_id, rep.representative_id,
                   d.doc_id <> rep.representative_id AS is_duplicate
            FROM documents d LEFT JOIN rep ON rep.doc_id = d.doc_id
        """,
        "dedup_clusters_best": f"""
            -- same closure as dedup_clusters, but the representative is
            -- the member with max integer quality (ties -> min id)
            WITH RECURSIVE {_minhash_pairs_ctes(16, 4, 0.5)},
            bi AS (SELECT id_a AS a, id_b AS b FROM mh_pairs
                   UNION SELECT id_b, id_a FROM mh_pairs),
            reach(node, m) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT bi.a, r.m FROM reach r JOIN bi ON bi.b = r.node
            ),
            comp AS (SELECT node AS doc_id, min(m) AS comp FROM reach GROUP BY node),
            qual AS (SELECT doc_id, {_DISTINCT_TOK_Q} AS q FROM documents),
            win AS (
              SELECT comp, doc_id AS rep FROM (
                SELECT c.comp, c.doc_id,
                       row_number() OVER (PARTITION BY c.comp
                                          ORDER BY q.q DESC, c.doc_id ASC) AS rn
                FROM comp c JOIN qual q USING (doc_id)
              ) WHERE rn = 1
            )
            SELECT c.doc_id, w.rep AS representative_id,
                   c.doc_id <> w.rep AS is_duplicate
            FROM comp c JOIN win w USING (comp)
        """,
        "text_ngram_freq": f"""
            WITH {_shingle_cte(2)}
            SELECT shingle AS ngram, count(*) AS doc_freq
            FROM s GROUP BY shingle
            ORDER BY doc_freq DESC, ngram ASC
            LIMIT 100
        """,
        "text_simhash": _SIMHASH_SQL,
        "media_features_sha": """
            SELECT doc_id AS media_id, 64::BIGINT AS feat_dim,
                   sha256(text) AS content_sha,
                   octet_length(text::BLOB)::BIGINT AS n_bytes
            FROM documents
        """,
        "dedup_simhash": _SIMHASH_PAIRS_SQL,
        "emb_near_dup_pairs": _emb_near_dup_sql(),
        "emb_dedup_clusters": f"""
            -- closure over the engine-exact embedding near-dup pair set
            WITH RECURSIVE {_emb_near_dup_ctes(64, 0.4, 6, 6, 11)},
            bi AS (SELECT id_a AS a, id_b AS b FROM emb_pairs
                   UNION SELECT id_b, id_a FROM emb_pairs),
            reach(node, m) AS (
              SELECT vec_id, vec_id FROM embeddings
              UNION
              SELECT bi.a, r.m FROM reach r JOIN bi ON bi.b = r.node
            ),
            rep AS (SELECT node AS vec_id, min(m) AS representative_id
                    FROM reach GROUP BY node)
            SELECT e.vec_id, rep.representative_id,
                   e.vec_id <> rep.representative_id AS is_duplicate
            FROM embeddings e LEFT JOIN rep ON rep.vec_id = e.vec_id
        """,
        "sim_ann_lsh_topk": _lsh_topk_sql(),
        "sim_ann_ivf_topk": _ivf_topk_sql(),
        # stored-index search is relation-identical to the fresh run (same
        # seed, same corpus, same quantized arithmetic) — same oracle
        "sim_ann_ivf_indexed": _ivf_topk_sql(),
        "text_token_count": """
            SELECT doc_id,
                   len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> ''))
                     ::BIGINT AS n_tokens
            FROM documents
        """,
        "lex_bm25_topk": _bm25_sql(["hash", "join", "stream"], 20),
        "sample_stratified": """
            SELECT doc_id, source FROM documents
            WHERE ('0x' || substring(md5(coalesce(doc_id::VARCHAR, chr(0) || 'null')), 1, 4))::BIGINT
                  < CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                                WHEN 'src2' THEN 0.25 ELSE 0.1 END * 65536
        """,
        "sample_capped": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substring(md5(coalesce(doc_id::VARCHAR, chr(0) || 'null')), 1, 4))::BIGINT ASC,
                                doc_id ASC
                     ) AS rn
              FROM documents
            ) WHERE rn <= 5
        """,
        "text_pii_scrub": _pii_sql(),
        "text_repetition": """
            WITH tok AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '[^\\p{L}0-9'']+'), x -> x <> '') AS t
              FROM documents
            ),
            rep AS (
              SELECT doc_id, t,
                     coalesce(list_max(list_transform(list_distinct(t),
                       d -> len(list_filter(t, x -> x = d)))), 0) AS mf,
                     list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                                 l -> l <> '') AS lines
              FROM tok
            )
            SELECT doc_id, mf::BIGINT AS max_word_freq,
                   CASE WHEN len(t) > 0 THEN mf / len(t)::DOUBLE ELSE 0.0 END
                     AS max_word_freq_ratio,
                   CASE WHEN len(lines) > 0
                        THEN (len(lines) - len(list_distinct(lines))) / len(lines)::DOUBLE
                        ELSE 0.0 END AS dup_line_frac
            FROM rep
        """,
        "text_bpe_real": _bpe_real_sql(),
        "text_bpe_ids": _bpe_ids_sql(),
        "pack_materialize_ids": _pack_ids_sql(),
        "sample_temperature": _temperature_sample_sql(),
        "dedup_paragraphs": _PARAGRAPH_DEDUP_SQL,
        "pack_materialize": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS t
              FROM documents
            ),
            allt AS (SELECT flatten(list(t ORDER BY doc_id)) AS ts FROM toks),
            seqs AS (SELECT unnest(range((len(ts) + 511) // 512)) AS seq_id, ts FROM allt)
            SELECT seq_id::BIGINT AS seq_id,
                   len(ts[seq_id*512+1 : (seq_id+1)*512])::BIGINT AS n_tokens,
                   array_to_string(ts[seq_id*512+1 : (seq_id+1)*512], ' ') AS seq_text
            FROM seqs
        """,
        "dedup_incremental": (
            f"WITH {_minhash_pairs_ctes(16, 4, 0.5)} "
            "SELECT d.doc_id, d.source, d.n_chars::BIGINT AS n_chars "
            "FROM documents d WHERE d.doc_id >= 250 AND NOT EXISTS "
            "(SELECT 1 FROM mh_pairs p WHERE p.id_b = d.doc_id)"
        ),
        "profile_documents": """
            SELECT 'doc_id' AS "column", count(*)::BIGINT AS n_rows,
                   sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
                   count(DISTINCT doc_id)::BIGINT AS n_distinct,
                   min(doc_id)::VARCHAR AS min_value, max(doc_id)::VARCHAR AS max_value
            FROM documents
            UNION ALL
            SELECT 'text', count(*)::BIGINT,
                   sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT text)::BIGINT, min(text), max(text)
            FROM documents
            UNION ALL
            SELECT 'lang', count(*)::BIGINT,
                   sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT lang)::BIGINT, min(lang), max(lang)
            FROM documents
            UNION ALL
            SELECT 'source', count(*)::BIGINT,
                   sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT source)::BIGINT, min(source), max(source)
            FROM documents
            UNION ALL
            SELECT 'n_chars', count(*)::BIGINT,
                   sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT n_chars)::BIGINT,
                   min(n_chars)::VARCHAR, max(n_chars)::VARCHAR
            FROM documents
        """,
        "train_shuffle_order": """
            SELECT doc_id,
                   (row_number() OVER (
                      ORDER BY md5('7:' || coalesce(doc_id::VARCHAR, chr(0) || 'null')),
                               doc_id) - 1)::BIGINT AS shuffle_rank
            FROM documents
        """,
        "pack_sequences": """
            WITH t AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> ''))::BIGINT
                       AS n_tokens
              FROM documents
            ), c AS (
              SELECT doc_id, n_tokens,
                     coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
              FROM t
            )
            SELECT doc_id, n_tokens, cum_before,
                   (cum_before // 512)::BIGINT AS seq_id,
                   (cum_before % 512)::BIGINT AS seq_offset,
                   ((cum_before + greatest(n_tokens - 1, 0)) // 512)::BIGINT AS end_seq_id
            FROM c
        """,
        "text_bpe_token_count": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text,
                     '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))
                     ::BIGINT AS n_bpe_tokens
            FROM documents
        """,
        "events_rollup_report": """
            SELECT ts::DATE AS day, event_type,
                   count(*) AS n_events,
                   sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS sum_value_cents
            FROM events
            GROUP BY ROLLUP (ts::DATE, event_type)
        """,
        "skew_salted_join": """
            WITH small AS (
              SELECT source, upper(source) AS source_label
              FROM (SELECT DISTINCT source FROM documents)
            )
            SELECT d.doc_id, d.source, s.source_label
            FROM documents d JOIN small s ON d.source = s.source
        """,
        "text_quality": f"""
            WITH tok AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '[^\\p{{L}}0-9'']+'), x -> x <> '') AS t
              FROM documents
            )
            SELECT doc_id,
                   length(text)::BIGINT AS n_chars,
                   len(t)::BIGINT AS n_tokens,
                   (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
                     / greatest(length(text), 1)::DOUBLE AS punct_ratio,
                   len(list_filter(t, x -> list_contains({_sql_list(_EN)}, x)))
                     / greatest(len(t), 1)::DOUBLE AS stopword_ratio
            FROM tok
        """,
        "text_lang_id": _lang_votes_sql(),
        "text_fingerprint": """
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "text_dup_ngrams": """
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 2
                          THEN list_sort(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
                          ELSE [] END AS grams
              FROM tok
            ),
            r AS (
              SELECT doc_id, grams,
                list_reduce(
                  list_prepend({prev: '', run: 0, dup: 0, total: 0},
                               list_transform(grams, x -> {prev: x, run: 0, dup: 0, total: 0})),
                  (a, b) -> CASE WHEN b.prev = a.prev
                    THEN {prev: b.prev, run: a.run + 1,
                          dup: a.dup + length(b.prev)
                               + CASE WHEN a.run = 1 THEN length(b.prev) ELSE 0 END,
                          total: a.total + length(b.prev)}
                    ELSE {prev: b.prev, run: 1, dup: a.dup,
                          total: a.total + length(b.prev)} END
                ) AS acc
              FROM g
            )
            SELECT doc_id, acc.dup::BIGINT AS dup_ngram_chars,
                   CASE WHEN acc.total > 0 THEN acc.dup / acc.total::DOUBLE
                        ELSE 0.0 END AS dup_ngram_frac
            FROM r
        """,
        "text_chunks": """
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
              FROM documents
            ),
            c AS (
              SELECT doc_id, t, len(t) AS n,
                     CASE WHEN len(t) > 0
                          THEN greatest((len(t) - 64 + 47) // 48, 0) + 1
                          ELSE 0 END AS nc
              FROM tok
            ),
            ch AS (
              SELECT doc_id,
                     unnest(list_transform(range(nc), i -> struct_pack(
                       chunk_no := i,
                       chunk_text := array_to_string(t[i*48+1 : i*48+64], ' '),
                       n_tokens := least(64, n - i*48)))) AS u
              FROM c
            )
            SELECT doc_id, u.chunk_no::BIGINT AS chunk_no, u.chunk_text AS chunk_text,
                   u.n_tokens::BIGINT AS n_tokens
            FROM ch
        """,
        "catalog_merge_upsert": """
            WITH delta AS (
              SELECT doc_id, source, (n_chars + 1000)::BIGINT AS n_chars,
                     2::BIGINT AS rev
              FROM documents WHERE doc_id % 7 = 0
            )
            SELECT doc_id, source, n_chars::BIGINT AS n_chars, 1::BIGINT AS rev
            FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM delta)
            UNION ALL
            SELECT * FROM delta
        """,
        "j7_canonical_mapping": (
            f"WITH RECURSIVE {_CANON_CTES} "
            "SELECT term_id, canonical_id FROM canon_map"
        ),
        "kg_exact_winner": f"""
            WITH RECURSIVE {_CANON_CTES},
            ex_hits AS (
              SELECT DISTINCT d.doc_id, dic.term_id
              FROM documents d, {_exact_dict_values_sql()}
              WHERE contains(lower(d.text), dic.surface)
            ),
            one_exact AS (
              SELECT doc_id, min(term_id) AS term_id
              FROM ex_hits GROUP BY doc_id HAVING count(*) = 1
            ),
            -- the winner's reported mention: longest surface of the term
            -- present in the page (ties → lexicographically smallest),
            -- over the FULL surface dict (broad synonyms included)
            all_hits AS (
              SELECT d.doc_id, dic.term_id, dic.surface
              FROM documents d, {_dict_values_sql()}
              WHERE contains(lower(d.text), dic.surface)
            ),
            mention_pick AS (
              SELECT doc_id, term_id, surface AS mention FROM (
                SELECT a.doc_id, a.term_id, a.surface,
                       row_number() OVER (
                         PARTITION BY a.doc_id, a.term_id
                         ORDER BY length(a.surface) DESC, a.surface ASC
                       ) AS rn
                FROM all_hits a
              ) WHERE rn = 1
            )
            SELECT 'doc://' || o.doc_id AS subj,
                   split_part(cm.canonical_id, ':', 1) || ':mapped_to' AS pred,
                   cm.canonical_id AS obj,
                   m.mention
            FROM one_exact o
            JOIN canon_map cm ON cm.term_id = o.term_id
            JOIN mention_pick m ON m.doc_id = o.doc_id AND m.term_id = o.term_id
        """,
        "kg_triples": _kg_triples_sql(),
        "kg_mention_recall": f"""
            SELECT d.doc_id, dic.term_id, count(*) AS n_surfaces
            FROM documents d, {_dict_values_sql()}
            WHERE contains(lower(d.text), dic.surface)
            GROUP BY 1, 2
        """,
        "kg_co_mentions": f"""
            WITH hits AS (
              SELECT DISTINCT d.doc_id, dic.term_id
              FROM documents d, {_dict_values_sql()}
              WHERE contains(lower(d.text), dic.surface)
            ),
            pairs AS (
              SELECT a.term_id AS t1, b.term_id AS t2
              FROM hits a JOIN hits b
                ON a.doc_id = b.doc_id AND a.term_id < b.term_id
            )
            SELECT t1, t2, count(*) AS n_docs FROM pairs GROUP BY 1, 2
        """,
        "kg_exact_degree": f"""
            WITH RECURSIVE {_CANON_CTES},
            ex_hits AS (
              SELECT DISTINCT d.doc_id, dic.term_id
              FROM documents d, {_exact_dict_values_sql()}
              WHERE contains(lower(d.text), dic.surface)
            ),
            one_exact AS (
              SELECT doc_id, min(term_id) AS term_id
              FROM ex_hits GROUP BY doc_id HAVING count(*) = 1
            ),
            winners AS (
              SELECT 'doc://' || o.doc_id AS subj, cm.canonical_id AS obj
              FROM one_exact o JOIN canon_map cm ON cm.term_id = o.term_id
            )
            SELECT obj, count(*) AS n_triples,
                   count(DISTINCT subj) AS n_subjects
            FROM winners GROUP BY obj
        """,
    }
