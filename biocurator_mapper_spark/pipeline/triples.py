"""The flagship job: pages → (subj, pred, obj) triples.

Spark restatement of the reference's ``POST /resolve_biocurated_data`` path
(``app/main.py:68-88``; lifecycle SURVEY §3.1), one declarative chain:

    pages ─ extract (Arrow UDF) ─ mention detect (broadcast Aho-Corasick)
          ─ embed passage (Arrow UDF) ─ score candidates (JVM cosine)
          ─ top-k window ─ rerank (deterministic stub / LLM adapter)
          ─ canonicalize (connected components) ─ triples

Scale notes (the plan this compiles to):
- the corpus never shuffles until the per-url top-k window; everything before
  it is narrow (extract/scan/embed are per-partition maps);
- the ontology side is *always* broadcast (surface map, term embeddings,
  canonical mapping are all ontology-sized);
- the one wide exchange hashes on ``url`` — pre-salted with the url itself as
  the key (urls are near-unique, so no hot key; head-DOMAIN skew does not
  reach the exchange because the key is the full url, not the host);
- AQE coalesces the post-window partitions.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dims import local_dim_df
from ..functions.embed import (
    certainty_expr,
    cosine_from_norms_expr,
    norm_expr,
    with_hash_embedding,
)
from ..operators.canonicalize import canonical_mapping
from ..operators.mentions import build_surface_map
from ..sources.catalog import ParquetCatalog

class RunCancelled(RuntimeError):
    """Raised by ``TriplesPipeline.run`` when ``cancel()`` interrupts it
    at a stage boundary (SURVEY §4 cooperative cancellation)."""


DEFAULT_K = 5  # reference app/config.py:10
TRIPLE_BUCKETS = 256  # bucket(url) partition transform width

# Ontology tables up to this many terms are prepared driver-side with ONE
# collect (surface map, canonical mapping, term vectors) instead of ~a dozen
# dimension-sized Spark stages — the same judgement call as broadcasting a
# small join side. Full GO+DOID is ~60k terms (3x headroom); the cap also
# bounds what the collect hauls through py4j and what hash_embed_py runs
# single-threaded on the driver. Bigger ontologies take the distributed path.
DRIVER_TERMS_MAX = 200_000


_TERM_COLS = {
    "term_id", "name", "exact_synonyms", "all_synonyms",
    "cross_references", "searchable_text",
}


def _is_plain_terms(terms: DataFrame) -> bool:
    return _TERM_COLS.issubset(set(terms.columns))


def _driver_side_inputs(
    spark, term_rows: list, need_vecs: bool = True
) -> tuple[list[str], "DataFrame", "DataFrame | None", "DataFrame"]:
    """Surface list, surface map, term vectors and canonical mapping from
    collected term rows — zero extra cluster jobs. ``need_vecs=False`` skips
    per-term embedding (the caller supplies cache-backed vectors)."""
    from ..functions.embed import hash_embed_py
    from ..operators.canonicalize import _driver_union_find

    surface_map_rows: dict[tuple[str, str], bool] = {}
    vec_rows = []
    edges = []
    for r in term_rows:
        exact = {s.lower() for s in (r.exact_synonyms or [])}
        exact.add((r.name or "").lower())
        for s in [r.name, *(r.all_synonyms or [])]:
            if s:
                key = (s.lower(), r.term_id)
                surface_map_rows[key] = surface_map_rows.get(key, False) or (
                    s.lower() in exact
                )
        if need_vecs:
            vec_rows.append((r.term_id, hash_embed_py(r.searchable_text)))
        for x in r.cross_references or []:
            if x:
                edges.append((r.term_id, f"xref:{x}"))
    comp = _driver_union_find(edges)
    # re-key components by min REAL term id, map every term
    term_ids = {r.term_id for r in term_rows}
    by_comp: dict[str, str] = {}
    for t in term_ids:
        c = comp.get(t)
        if c is not None:
            by_comp[c] = min(by_comp.get(c, t), t)
    canon_rows = [
        (t, by_comp[comp[t]] if t in comp else t) for t in sorted(term_ids)
    ]
    # single-slice dimension frames: the default 32-slice parallelize made
    # every broadcast-hash build over these a 32-Python-task job (~0.2 s
    # of constant overhead per build; see functions.dims)
    surface_map = local_dim_df(
        spark,
        [(s, t, e) for (s, t), e in sorted(surface_map_rows.items())],
        "surface string, term_id string, is_exact boolean",
    )
    term_vecs = (
        local_dim_df(spark, vec_rows, "term_id string, term_embedding array<float>")
        if need_vecs
        else None
    )
    canon = local_dim_df(
        spark, canon_rows, "term_id string, canonical_id string"
    )
    surfaces = sorted({s for s, _ in surface_map_rows})
    return surfaces, surface_map, term_vecs, canon


def _fused_page_scan(
    pages: DataFrame, surfaces: list[str], page_embed=None
) -> DataFrame:
    """(url, warc_ts, html, text?, lang) → (url, warc_ts, lang, mentions,
    page_embedding) in ONE Arrow pass: byte-identical HTML→text extraction
    (``extract_text_py``), passage fallback (empty extraction → ``text``),
    broadcast Aho-Corasick dictionary scan, and the page embedding.
    ``page_embed`` is a batched ``pd.Series → pd.Series``
    callable — the hash stub by default, a provider-backed embedder with
    the same contract otherwise (M1). Narrow: scales with input splits,
    zero shuffle."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from ..extract.html_text import extract_text_py
    from ..functions.embed import embed_series
    from ..operators.mentions import broadcast_scanner

    spark = pages.sparkSession
    has_text = "text" in pages.columns
    get_scanner = broadcast_scanner(spark, surfaces)
    embed = page_embed if page_embed is not None else embed_series
    out_schema = StructType(
        [
            StructField("url", StringType()),
            StructField("warc_ts", TimestampType()),
            StructField("lang", StringType()),
            StructField("mentions", ArrayType(StringType())),
            StructField("page_embedding", ArrayType(FloatType())),
        ]
    )

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        find = get_scanner()
        for pdf in batches:
            texts = pdf["text"] if has_text else None
            passages = []
            for i in range(len(pdf)):
                ext = extract_text_py(pdf["html"].iloc[i])
                if ext:
                    passages.append(ext)
                else:
                    t = texts.iloc[i] if texts is not None else None
                    passages.append(t if isinstance(t, str) else "")
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_ts": pdf["warc_ts"],
                    "lang": pdf["lang"],
                    "mentions": [find(p) for p in passages],
                    "page_embedding": embed(pd.Series(passages, dtype=object)),
                }
            )

    cols = ["url", "warc_ts", "html", "lang"] + (["text"] if has_text else [])
    src = pages.select(*cols)
    # an under-partitioned source (one small parquet split, single kafka
    # partition) would run the whole extract/scan/embed stage on ONE task;
    # one round-robin shuffle of the raw pages buys full parallelism.
    # Properly split 100 TB inputs (maxPartitionBytes-sized) skip this.
    from ..functions.partitions import estimated_source_partitions

    default_p = pages.sparkSession.sparkContext.defaultParallelism
    if estimated_source_partitions(pages) < max(default_p // 2, 1):
        src = src.repartition(default_p)
    return src.mapInPandas(_scan, out_schema)


# Stage-B rerank expression ASTs, cached per (py4j gateway, k): the nested
# HOF/struct tree costs hundreds of py4j round trips (~1s per fresh plan
# build) yet is a pure function of `k` and the unresolved `_cl` column —
# the same prepared tree slots into every plan the process builds. Keyed by
# the gateway id so a restarted JVM can never see stale Java objects.
_RERANK_CACHE: dict = {}
_OUTPUT_CACHE: dict = {}


def _rerank_exprs(k: int):
    """(ranked, winner) Column expressions over the ``_cl`` candidate array.

    - per-term collapse (W5 collapse of duplicate surfaces): distinct term
      ids, each with max certainty, any-exact flag, and its most specific
      (longest) surface as the reported mention;
    - top-k by certainty (W1, the reference's ``near_vector(limit=k)``);
    - rerank by stub score = exactness bonus + certainty (M5 stub).
    """
    from pyspark import SparkContext

    gw = SparkContext._gateway
    key = (id(gw), k)
    cached = _RERANK_CACHE.get(key)
    # the gateway ref rides in the entry: identity (not just id()) must
    # match, or a relaunched JVM reusing the address would serve stale
    # Java expression objects
    if cached is not None and cached[0] is gw:
        return cached[1]
    cl = F.col("_cl")
    term_ids = F.array_distinct(F.transform(cl, lambda x: x["term_id"]))
    per_term = F.transform(
        term_ids,
        lambda t: F.struct(
            t.alias("term_id"),
            F.array_max(
                F.transform(
                    F.filter(cl, lambda x: x["term_id"] == t), lambda x: x["certainty"]
                )
            ).alias("certainty"),
            F.exists(
                cl, lambda x: (x["term_id"] == t) & x["is_exact"]
            ).alias("exact_hit"),
            F.try_element_at(
                F.array_sort(
                    F.transform(
                        F.filter(cl, lambda x: x["term_id"] == t),
                        lambda x: F.struct(
                            (-F.length(x["mention"])).alias("l"),
                            x["mention"].alias("m"),
                        ),
                    )
                ),
                F.lit(1),
            )["m"].alias("mention"),
        ),
    )
    topk = F.slice(
        F.array_sort(
            F.transform(
                per_term,
                lambda c: F.struct(
                    (-c["certainty"]).alias("_negcert"),
                    c["term_id"].alias("term_id"),
                    c["certainty"].alias("certainty"),
                    c["exact_hit"].alias("exact_hit"),
                    c["mention"].alias("mention"),
                ),
            )
        ),
        1,
        k,
    )
    ranked = F.array_sort(
        F.transform(
            topk,
            lambda c: F.struct(
                (
                    -(
                        F.when(c["exact_hit"], F.lit(1.0)).otherwise(F.lit(0.0))
                        + c["certainty"]
                    )
                ).alias("_negscore"),
                (-c["certainty"]).alias("_negcert"),
                c["term_id"].alias("term_id"),
                c["certainty"].alias("certainty"),
                c["exact_hit"].alias("exact_hit"),
                c["mention"].alias("mention"),
            ),
        )
    )
    winner = F.try_element_at(ranked, F.lit(1))
    _RERANK_CACHE[key] = (gw, (ranked, winner))
    return ranked, winner


def _output_exprs(k: int, pred_suffix: str, n_buckets: int):
    """(winner-fanout columns, triple-projection columns) — like
    ``_rerank_exprs``, pure functions of their scalar args cached per
    gateway: the two selects cost a few hundred py4j round trips to build.

    The fanout runs in a SEPARATE projection from the one binding
    ``_w``/``_ranked`` (CollapseProject keeps non-cheap multiply-referenced
    expressions materialized once per row — see CLAUDE.md)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    key = (id(gw), k, pred_suffix, n_buckets)
    cached = _OUTPUT_CACHE.get(key)
    if cached is not None and cached[0] is gw:
        return cached[1]
    w = F.col("_w")
    fanout = [
        F.col("url"),
        F.col("warc_ts"),
        F.col("lang"),
        w["term_id"].alias("term_id"),
        w["mention"].alias("mention"),
        w["certainty"].cast("float").alias("certainty"),
        F.least(
            F.lit(1.0),
            w["certainty"]
            + F.when(w["exact_hit"], F.lit(0.05)).otherwise(F.lit(0.0)),
        )
        .cast("float")
        .alias("confidence"),
        F.when(
            w["exact_hit"],
            F.concat(
                F.lit("exact surface match '"),
                w["mention"],
                F.lit("' for "),
                w["term_id"],
            ),
        )
        .otherwise(
            F.concat(
                F.lit("highest embedding certainty for "),
                w["term_id"],
            )
        )
        .alias("reason"),
        F.transform(
            F.slice(F.col("_ranked"), 2, k), lambda c: c["term_id"]
        ).alias("alternatives"),
    ]
    triples = [
        F.col("url").alias("subj"),
        F.concat(
            F.split(F.col("obj"), ":").getItem(0), F.lit(":"), F.lit(pred_suffix)
        ).alias("pred"),
        F.col("obj"),
        F.col("mention"),
        F.col("confidence"),
        F.col("reason"),
        F.col("alternatives"),
        F.col("certainty"),
        F.col("lang"),
        F.col("warc_ts"),
        F.to_date("warc_ts").alias("part_date"),
        F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int").alias("part_bucket"),
    ]
    _OUTPUT_CACHE[key] = (gw, (fanout, triples))
    return fanout, triples


def build_triples(
    pages: DataFrame,
    terms: DataFrame | None,
    k: int = DEFAULT_K,
    pred_suffix: str = "mapped_to",
    n_buckets: int = TRIPLE_BUCKETS,
    term_vecs: DataFrame | None = None,
    page_embed=None,
    term_rows: list | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) × terms → triples DataFrame.

    Pure plan construction — no actions on the corpus, no writes. Output
    schema per FIXTURES.md §5.

    The physical plan has exactly ONE wide exchange over the corpus (the
    per-url groupBy); everything else is narrow or broadcast:

    - stage A (narrow): extract + passage embedding + mention scan run in a
      single pass over each input split — one Arrow round-trip, the corpus
      is read once;
    - broadcast joins attach (term_id, is_exact) per surface and the term
      vector per term — ontology-sized sides, never shuffled;
    - cosine/certainty are JVM expressions (whole-stage codegen);
    - stage B (one shuffle, hash on near-unique url → no hot keys): a
      groupBy(url) collects the candidate structs, and per-term collapse,
      top-k selection, exactness-aware rerank, winner/alternatives split
      are all array expressions inside the aggregate — replacing the
      window + three self-joins a naive formulation would shuffle for.
    """
    spark = pages.sparkSession

    # ontology side: ONE collect when dimension-sized (the common case),
    # else the distributed operators. A caller that already holds the
    # term rows on the driver (e.g. a constant vocabulary) passes
    # ``term_rows`` — attribute access per _driver_side_inputs:
    # term_id, name, exact_synonyms, all_synonyms, cross_references,
    # searchable_text — and skips the collect job entirely (~0.2 s of
    # pure round-trip per fresh plan build).
    if term_rows is None:
        term_rows = terms.select(
            "term_id", "name", "exact_synonyms", "all_synonyms",
            "cross_references", "searchable_text",
        ).limit(DRIVER_TERMS_MAX + 1).collect() if _is_plain_terms(terms) else None
    if term_rows is not None and len(term_rows) <= DRIVER_TERMS_MAX:
        surfaces, surface_map, default_term_vecs, canon = _driver_side_inputs(
            spark, term_rows, need_vecs=term_vecs is None
        )
    else:
        terms = terms.cache()
        surface_map = build_surface_map(terms)
        surfaces = [
            r.surface for r in surface_map.select("surface").distinct().collect()
        ]
        default_term_vecs = (
            with_hash_embedding(
                terms.select("term_id", "searchable_text"),
                "searchable_text",
                "term_embedding",
            ).select("term_id", "term_embedding")
            if term_vecs is None
            else None
        )
        canon = canonical_mapping(terms)

    # --- stage A: one narrow pass over the corpus -------------------------
    # extract + passage + mention scan + page embedding run as ONE
    # mapInPandas — a single JVM↔Python Arrow crossing. Chaining separate
    # pandas UDFs (extract → scan(passage) → embed(passage)) lets Catalyst
    # fan the passage expression into multiple columns and duplicate the
    # UDF chain (the plan showed FOUR ArrowEvalPython nodes: extract and
    # scan each evaluated twice); fusing removes the duplication and the
    # repeated html/text Arrow transfers.
    enriched = _fused_page_scan(pages, surfaces, page_embed=page_embed)

    # explode mentions; zero-mention pages exit here (the reference returns
    # an error response for no-candidate passages — metrics, not triples).
    # The page norm is folded ONCE PER PAGE here (before the explode): the
    # certainty CASE references each norm twice and every (mention × term)
    # row would otherwise re-fold both 64-float arrays — 5 interpreted
    # array aggregates per scored row collapse to 1 (the dot), with
    # bit-identical doubles (same fold, see cosine_from_norms_expr).
    cand = (
        enriched.select(
            "url", "warc_ts", "lang", "page_embedding",
            norm_expr("page_embedding").alias("_pn"),
            F.explode("mentions").alias("mention"),
        )
        .join(
            F.broadcast(surface_map.withColumnRenamed("surface", "mention")),
            "mention",
        )
    )

    # scoring: term vectors broadcast; cosine in codegen (M1/J5). A caller
    # can pass cache-backed vectors (pipeline.model_client.embed_with_cache)
    # — same (term_id, term_embedding) shape, zero plan change. The term
    # norm folds once per term on the broadcast side.
    if term_vecs is None:
        term_vecs = default_term_vecs
    scored = (
        cand.join(
            F.broadcast(
                term_vecs.withColumn("_tn", norm_expr("term_embedding"))
            ),
            "term_id",
        )
        .withColumn(
            "certainty",
            certainty_expr(
                cosine_from_norms_expr(
                    "page_embedding", "term_embedding", "_pn", "_tn"
                )
            ).cast("double"),
        )
        .drop("page_embedding", "term_embedding", "_pn", "_tn")
    )

    # --- stage B: the one shuffle — groupBy(url) + in-group rerank --------
    g = scored.groupBy("url").agg(
        F.collect_list(
            F.struct("term_id", "mention", "is_exact", "certainty")
        ).alias("_cl"),
        F.first("warc_ts").alias("warc_ts"),
        F.first("lang").alias("lang"),
    )

    ranked, winner = _rerank_exprs(k)
    fanout_cols, triple_cols = _output_exprs(k, pred_suffix, n_buckets)
    best = (
        g.withColumn("_ranked", ranked)
        .withColumn("_w", winner)
        .select(*fanout_cols)
    )

    # 6. CANONICALIZE (J7): collapse alias CURIEs (broadcast mapping).
    best = (
        best.join(F.broadcast(canon), "term_id", "left")
        .withColumn("obj", F.coalesce(F.col("canonical_id"), F.col("term_id")))
    )

    # 7. TRIPLES (S9): final projection with partition lineage columns.
    return best.select(*triple_cols)


class TriplesPipeline:
    """Materializing wrapper: checkpointed, resumable, metric-emitting runs.

    Mirrors the reference's operational semantics with Spark-native
    mechanisms (SURVEY §4 table):

    - `_checkpoints` commit log: one row per (run fingerprint, stage,
      part_bucket) — a re-run anti-joins completed buckets away and only
      recomputes the remainder (idempotent: bucket output is overwritten
      atomically via dynamic partition overwrite);
    - `_metrics`: per-stage row counts + elapsed, the reference's
      embedding_stats counters as table rows (app/ontology_manager.py:166-176);
    - version gate: the ontology content hash keys the run fingerprint, so a
      re-run with an unchanged ontology + input resumes instead of
      recomputing (app/ontology_version_manager.py:149-183 semantics).
    """

    def __init__(self, catalog: ParquetCatalog, n_buckets: int = 16):
        self.catalog = catalog
        self.n_buckets = n_buckets
        self._active_groups: dict[str, str] = {}
        self._cancel_requested: set[str] = set()

    def run(
        self,
        pages: DataFrame,
        terms: DataFrame,
        run_fingerprint: str,
        k: int = DEFAULT_K,
        run_id: str | None = None,
    ) -> DataFrame:
        """Cancellable entry point: the whole run executes under a Spark
        job group (SURVEY §4 — the reference's cooperative task
        cancellation, app/ontology_manager.py:187-189,344-347, mapped to
        ``cancelJobGroup``). ``cancel(run_id)`` from any thread kills the
        in-flight jobs; nothing is checkpointed or published until a write
        completes, so a cancelled run leaves ``_checkpoints`` exactly as it
        found them and the next run with the same fingerprint resumes to
        identical output."""
        run_id = run_id or uuid.uuid4().hex[:12]
        sc = pages.sparkSession.sparkContext
        # attempt-unique group name: cancelJobGroupAndFutureJobs poisons a
        # group id permanently, so a retry of a cancelled run_id must run
        # under a FRESH group or its first job dies on submission
        group = f"biocurator-triples-{run_id}-{uuid.uuid4().hex[:6]}"
        sc.setJobGroup(group, f"triples run {run_id} fp={run_fingerprint}")
        self._active_groups[run_id] = group
        try:
            return self._run_impl(pages, terms, run_fingerprint, k, run_id)
        finally:
            self._active_groups.pop(run_id, None)
            self._cancel_requested.discard(run_id)
            # detach this thread from the group so later jobs aren't
            # cancellable under a stale id
            sc.setLocalProperty("spark.jobGroup.id", None)

    def cancel(self, run_id: str | None = None) -> list[str]:
        """Cancel an in-flight run (all active runs when ``run_id`` is
        None). Returns the run ids signalled. Safe to call from any
        thread. Cancellation is STICKY: in-flight jobs in the run's group
        are killed JVM-side, and the run re-checks the flag at every stage
        boundary — ``cancelJobGroup`` alone only kills currently-active
        jobs, so a cancel landing between two jobs would otherwise be
        lost. The cancelled ``run()`` raises ``RunCancelled`` (or the
        killed job's error)."""
        targets = (
            {run_id: self._active_groups[run_id]}
            if run_id is not None and run_id in self._active_groups
            else dict(self._active_groups)
            if run_id is None
            else {}
        )
        sc = self.catalog.spark.sparkContext
        for rid, group in targets.items():
            self._cancel_requested.add(rid)
            try:
                # Spark 4: also fails jobs SUBMITTED after this call
                sc._jsc.sc().cancelJobGroupAndFutureJobs(group)
            except Exception:
                sc.cancelJobGroup(group)
        return sorted(targets)

    def _check_cancelled(self, run_id: str) -> None:
        if run_id in self._cancel_requested:
            raise RunCancelled(f"triples run {run_id} cancelled")

    def _run_impl(
        self,
        pages: DataFrame,
        terms: DataFrame,
        run_fingerprint: str,
        k: int,
        run_id: str,
    ) -> DataFrame:
        """ONE corpus pass: rows-in/rows-out come from ``Observation``
        metrics attached to the write job (no bookkeeping scans), the
        bucket domain is static (buckets are ``pmod(xxhash64(url), n)``, so
        it is ``range(n_buckets)`` by construction), and the run publishes
        a fresh immutable snapshot whose pointer flips atomically — a
        concurrent reader sees the old snapshot or the new one, never a
        mix (the reference's pointer-swap semantics,
        ``app/config_updater.py:84-93``, at table granularity)."""
        import time

        from pyspark.sql import Observation

        spark = pages.sparkSession
        t0 = time.monotonic()
        self._check_cancelled(run_id)

        pages_b = pages.withColumn(
            "part_bucket",
            F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)).cast("int"),
        )

        # Resume state is keyed by FINGERPRINT, not by whatever snapshot
        # happens to be live: runs of other fingerprints may have published
        # since, and trusting the live pointer would return (or re-link)
        # another input's data. The latest committed run_id for this
        # fingerprint names the snapshot its buckets live in; if that
        # snapshot was vacuumed, the checkpoints are unusable and the run
        # recomputes from scratch.
        done: list[int] = []
        fp_version: str | None = None
        log = self.catalog.read_log("_checkpoints")
        if log is not None:
            ck_rows = (
                log.where(
                    (F.col("fingerprint") == run_fingerprint)
                    & (F.col("stage") == "triples")
                    & (F.col("status") == "committed")
                )
                .select("part_bucket", "run_id", "committed_ts")
                .collect()
            )
            if ck_rows:
                latest = max(ck_rows, key=lambda r: (r.committed_ts, r.run_id))
                cand = f"v_{latest.run_id}"
                if os.path.isdir(
                    os.path.join(self.catalog._table_dir("triples"), cand)
                ):
                    fp_version = cand
                    done = sorted({r.part_bucket for r in ck_rows})
        todo = pages_b.where(~F.col("part_bucket").isin(done)) if done else pages_b

        triples_schema = None
        n_in = n_out = 0
        # driver-side gate — every bucket committed means a full resume;
        # no count()/isEmpty() scan needed to decide
        if len(set(done)) < self.n_buckets:
            # term vectors go through the cross-run embedding cache (M2):
            # a re-run with an unchanged ontology embeds nothing
            from .model_client import embed_with_cache

            obs_in = Observation(f"triples_in_{run_id}")
            todo = todo.observe(obs_in, F.count(F.lit(1)).alias("n"))
            term_vecs = embed_with_cache(
                terms.select("term_id", "searchable_text"),
                "searchable_text",
                self.catalog,
            ).select("term_id", F.col("embedding").alias("term_embedding"))
            triples = build_triples(
                todo.drop("part_bucket"),
                terms,
                k=k,
                n_buckets=self.n_buckets,
                term_vecs=term_vecs,
            )
            triples_schema = triples.schema
            obs_out = Observation(f"triples_out_{run_id}")
            triples = triples.observe(obs_out, F.count(F.lit(1)).alias("n"))
            run_dir = os.path.join(
                self.catalog._table_dir("triples"), "runs", f"r_{run_id}"
            )
            self._check_cancelled(run_id)
            triples.write.mode("overwrite").partitionBy("part_bucket").parquet(
                run_dir
            )
            self._check_cancelled(run_id)
            # observation results are available once the write job finishes
            n_out = int(obs_out.get["n"])
            try:
                n_in = int(obs_in.get["n"])
            except Exception:
                # AQE's empty-relation propagation removes the input-side
                # CollectMetrics node when ZERO candidates reach the
                # shuffle (the whole run produced nothing). Only in that
                # degenerate case is an explicit count needed for the
                # metrics row — the normal path never rescans.
                n_in = todo.count()
            self._publish_snapshot(run_id, done, fp_version)

        self._check_cancelled(run_id)
        elapsed = time.monotonic() - t0
        ckpt_rows = [
            (run_id, run_fingerprint, "triples", int(b), "committed")
            for b in range(self.n_buckets)
            if b not in set(done)
        ]
        if ckpt_rows:
            self.catalog.append(
                spark.createDataFrame(
                    ckpt_rows,
                    "run_id string, fingerprint string, stage string, part_bucket int, status string",
                ).withColumn("committed_ts", F.current_timestamp()),
                "_checkpoints",
            )
        metrics_rows = [
            (run_id, run_fingerprint, "triples", n_in, n_out, float(elapsed),
             float(n_in / elapsed) if elapsed > 0 else 0.0)
        ]
        self.catalog.append(
            spark.createDataFrame(
                metrics_rows,
                "run_id string, fingerprint string, stage string, rows_in long, "
                "rows_out long, elapsed_s double, rows_per_s double",
            ).withColumn("ts", F.current_timestamp()),
            "_metrics",
        )
        if fp_version is not None and len(set(done)) >= self.n_buckets:
            # full resume: no new snapshot was published — return THIS
            # fingerprint's snapshot (live may belong to another input)
            return self.catalog.read("triples", version=fp_version)
        return self._read_triples(spark, triples_schema)

    def _publish_snapshot(
        self, run_id: str, done: list[int], prev_version: str | None = None
    ) -> None:
        """Immutable-snapshot publish (Iceberg-manifest semantics over a
        plain filesystem): the new snapshot directory holds one symlink per
        bucket — freshly written buckets point into this run's ``runs/r_*``
        output; resumed (``done``) buckets point at the SAME immutable
        bucket dirs ``prev_version`` referenced (the caller resolves the
        snapshot belonging to THIS fingerprint — the live pointer may hold
        another input's snapshot). Run outputs are never modified after
        being written, so a reader that resolved the old pointer keeps a
        consistent view while (and after) the new pointer lands via the
        atomic ``os.replace`` swap. A recomputed bucket that yields zero
        rows simply has no entry — stale rows from earlier runs of a
        DIFFERENT input can't leak into this snapshot."""
        tdir = self.catalog._table_dir("triples")
        run_dir = os.path.join(tdir, "runs", f"r_{run_id}")
        snap_dir = os.path.join(tdir, f"v_{run_id}")
        os.makedirs(snap_dir, exist_ok=True)
        targets: dict[str, str] = {}
        if prev_version is not None and done:
            prev_dir = os.path.join(tdir, prev_version)
            done_names = {f"part_bucket={int(b)}" for b in done}
            for name in os.listdir(prev_dir) if os.path.isdir(prev_dir) else []:
                if name in done_names:
                    targets[name] = os.path.realpath(os.path.join(prev_dir, name))
        if os.path.isdir(run_dir):
            for name in os.listdir(run_dir):
                if name.startswith("part_bucket="):
                    # absolute target — a relative warehouse path would
                    # otherwise produce symlinks that resolve relative to
                    # the link's own directory (dangling)
                    targets[name] = os.path.realpath(
                        os.path.join(run_dir, name)
                    )
        for name, target in targets.items():
            os.symlink(target, os.path.join(snap_dir, name))
        prev_live = self.catalog.current_version("triples")
        self.catalog._commit_pointer("triples", f"v_{run_id}")
        # Supersession stamp: vacuum's grace window measures a dir's mtime,
        # which must mean "time since it became unreferenced", not "time it
        # was written" — touch the just-superseded snapshot and the run
        # dirs it references so a reader that resolved the old pointer a
        # moment before the flip gets the full retention window.
        if prev_live and prev_live != f"v_{run_id}":
            now = time.time()
            prev_live_dir = os.path.join(tdir, prev_live)
            if os.path.isdir(prev_live_dir):
                os.utime(prev_live_dir, (now, now))
                for name in os.listdir(prev_live_dir):
                    rd = os.path.dirname(
                        os.path.realpath(os.path.join(prev_live_dir, name))
                    )
                    if os.path.isdir(rd):
                        os.utime(rd, (now, now))

    def vacuum(self, retain_seconds: float = 3600.0) -> list[str]:
        """Delete run directories no longer referenced by the live snapshot
        (and snapshots other than the live one). Returns removed paths.

        ``retain_seconds`` is a grace window (Iceberg's
        ``expire_snapshots(older_than=...)`` semantics): run/snapshot dirs
        younger than it are kept even when unreferenced, so an in-flight
        writer's freshly written run_dir (written BEFORE the pointer flip)
        and a reader mid-scan on the just-superseded snapshot are safe.
        Pass 0 only when the caller guarantees no concurrent runs/readers.
        Single-writer is assumed throughout the catalog; vacuum itself must
        not run concurrently with another vacuum."""
        import shutil

        tdir = self.catalog._table_dir("triples")
        live = self.catalog.current_version("triples")
        if live is None:
            return []
        cutoff = time.time() - retain_seconds
        live_dir = os.path.join(tdir, live)
        referenced = {
            os.path.realpath(os.path.join(live_dir, n))
            for n in os.listdir(live_dir)
        }
        removed = []
        runs_dir = os.path.join(tdir, "runs")
        if os.path.isdir(runs_dir):
            for r in os.listdir(runs_dir):
                rdir = os.path.join(runs_dir, r)
                if os.path.getmtime(rdir) > cutoff:
                    continue  # grace window: possibly an in-flight run
                kept = any(
                    os.path.realpath(os.path.join(rdir, n)) in referenced
                    for n in os.listdir(rdir)
                    if n.startswith("part_bucket=")
                )
                if not kept:
                    shutil.rmtree(rdir)
                    removed.append(rdir)
        for name in os.listdir(tdir):
            path = os.path.join(tdir, name)
            if (
                name.startswith("v_")
                and name != live
                and os.path.getmtime(path) <= cutoff
            ):
                shutil.rmtree(path)
                removed.append(path)
        return removed

    def _read_triples(self, spark, schema=None) -> DataFrame:
        """Read the live snapshot, tolerating the empty case (a snapshot of
        0 rows holds no bucket symlinks → schema inference fails; an
        explicit schema or an empty DataFrame covers it)."""
        try:
            return self.catalog.read("triples")
        except Exception:
            if schema is not None:
                return spark.createDataFrame([], schema)
            # never-written table and no schema in hand: empty frame with
            # the canonical triple schema from a zero-page plan
            empty_pages = spark.createDataFrame(
                [],
                "url string, warc_ts timestamp, html binary, text string, lang string",
            )
            empty_terms = spark.createDataFrame(
                [],
                "term_id string, name string, definition string, "
                "exact_synonyms array<string>, narrow_synonyms array<string>, "
                "broad_synonyms array<string>, related_synonyms array<string>, "
                "all_synonyms array<string>, cross_references array<string>, "
                "namespace string, searchable_text string",
            )
            return spark.createDataFrame(
                [], build_triples(empty_pages, empty_terms, n_buckets=self.n_buckets).schema
            )
