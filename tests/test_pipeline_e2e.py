"""Minimum end-to-end slice (SURVEY §7): synthetic pages × fixture ontology →
triples matching hand-computed goldens; checkpoint/resume; metrics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biocurator_mapper_spark.pipeline import build_triples
from biocurator_mapper_spark.pipeline.triples import TriplesPipeline
from biocurator_mapper_spark.sources.catalog import ParquetCatalog
from biocurator_mapper_spark.testdata import pages_dataframe

SURFACES = ["hemangiosarcoma", "apoptosis of T cells", "type 2 diabetes mellitus"]


def test_flagship_query_apoptosis(spark, terms):
    pages = spark.createDataFrame(
        [
            (
                "https://x.test/1",
                None,
                "<html><body><main><p>We observed apoptosis of T cells in vitro.</p></main></body></html>".encode(),
                None,
                "en",
            )
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    triples = build_triples(pages, terms).collect()
    assert len(triples) == 1
    t = triples[0]
    # "apoptosis of T cells" is a narrow synonym of GO:0006915 — the engine's
    # restatement of the reference README's flagship resolve (README.md:28-30)
    assert t.subj == "https://x.test/1"
    assert t.obj == "GO:0006915"
    assert t.pred == "GO:mapped_to"
    assert t.mention == "apoptosis of t cells"
    assert 0.0 <= t.confidence <= 1.0


def test_triples_on_synthetic_pages(spark, terms):
    pages = pages_dataframe(spark, SURFACES, n_pages=80, seed=42)
    triples = build_triples(pages, terms)
    rows = triples.collect()
    assert len(rows) > 20
    by_subj = {r.subj: r for r in rows}
    # every triple's subject is a real page and the mention occurs in its text
    page_rows = {p.url: p for p in pages.collect()}
    for r in rows:
        assert r.subj in page_rows
        assert r.mention in page_rows[r.subj].text.lower()
        assert r.pred.endswith(":mapped_to")
        assert 0 <= r.part_bucket < 256
    # a page whose ONLY dictionary surface is the exact synonym
    # "hemangiosarcoma" must map to DOID:0001816; pages with several exact
    # surfaces are legitimately won by any of them
    others = ["apoptosis", "type 2 diabetes", "diabetes mellitus", "niddm"]
    for url, p in page_rows.items():
        low = p.text.lower()
        if "hemangiosarcoma" in low and not any(o in low for o in others):
            assert by_subj[url].obj == "DOID:0001816", url


def test_no_mention_pages_produce_no_triples(spark, terms):
    pages = spark.createDataFrame(
        [("u1", None, None, "totally unrelated content", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    assert build_triples(pages, terms).count() == 0


def test_ontology_side_cap_raises(spark, terms, monkeypatch):
    """The ontology side is prepared on the driver from one bounded collect:
    past DRIVER_TERMS_MAX, build_triples (collected or caller-supplied term
    rows), canonical_mapping, mention_candidates and the Resolver each raise
    a ValueError naming the cap instead of hauling the relation to the
    driver."""
    import __spark_entry__ as em
    from biocurator_mapper_spark.functions.dims import local_dim_df
    from biocurator_mapper_spark.operators import canonical_mapping, mention_candidates
    from biocurator_mapper_spark.operators import mentions as M
    from biocurator_mapper_spark.pipeline.resolve import Resolver

    pages = pages_dataframe(spark, SURFACES, n_pages=4, seed=5)
    surface_map = local_dim_df(
        spark,
        M.surface_map_rows(terms.collect()),
        "surface string, term_id string, is_exact boolean",
    )
    n_vocab = len(em.VOCAB_TERM_ROWS)
    monkeypatch.setattr(M, "DRIVER_TERMS_MAX", n_vocab)
    assert terms.count() > n_vocab and surface_map.count() > n_vocab
    # at the cap nothing changes: the caller-supplied rows build a plan
    build_triples(pages, None, term_rows=em.VOCAB_TERM_ROWS)

    cap = f"DRIVER_TERMS_MAX={n_vocab}"
    with pytest.raises(ValueError, match=cap):
        build_triples(pages, terms)
    with pytest.raises(ValueError, match=cap):
        build_triples(pages, None, term_rows=em.VOCAB_TERM_ROWS + [None])
    with pytest.raises(ValueError, match=cap):
        canonical_mapping(terms)
    docs = pages.select("url", F.col("text").alias("extracted_text"))
    with pytest.raises(ValueError, match=cap):
        mention_candidates(docs, surface_map)
    with pytest.raises(ValueError, match=cap):
        Resolver(terms)


def test_empty_pipeline_run(spark, terms, tmp_path):
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    pipe = TriplesPipeline(catalog, n_buckets=4)
    # pages with NO ontology surfaces → zero triples; must not crash
    pages = spark.createDataFrame(
        [("u1", None, None, "nothing relevant at all", "en"),
         ("u2", None, None, "still nothing here", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = pipe.run(pages, terms, run_fingerprint="empty1")
    assert out.count() == 0
    assert "subj" in out.columns
    # catalog pointer registered → catalog.read path also tolerable
    m = catalog.read_log("_metrics").collect()
    assert m[0].rows_in == 2 and m[0].rows_out == 0


def test_read_triples_raises_on_removed_snapshot(spark, terms, tmp_path):
    """Only the empty snapshot reads as an empty frame: a live snapshot
    whose directory is gone raises instead."""
    import os
    import shutil

    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    pipe = TriplesPipeline(catalog, n_buckets=2)
    out = pipe.run(pages_dataframe(spark, SURFACES, n_pages=4, seed=1), terms, "fpRm")
    schema = out.schema
    shutil.rmtree(
        os.path.join(catalog._table_dir("triples"), catalog.current_version("triples"))
    )
    with pytest.raises(FileNotFoundError):
        pipe._read_triples(spark, schema)


def test_pipeline_rejects_zero_buckets(spark, tmp_path):
    """A run has at least one output bucket: ``n_buckets=0`` (from
    ``cli triples --buckets`` or the example job) raises instead of
    returning an empty frame."""
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    for n in (0, -1):
        with pytest.raises(ValueError, match="n_buckets"):
            TriplesPipeline(catalog, n_buckets=n)


def test_pipeline_checkpoint_resume(spark, terms, tmp_path):
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    pipe = TriplesPipeline(catalog, n_buckets=4)
    pages = pages_dataframe(spark, SURFACES, n_pages=40, seed=42)

    out1 = pipe.run(pages, terms, run_fingerprint="fp1")
    n1 = out1.count()
    assert n1 > 0

    # second run with same fingerprint: all buckets checkpointed → no work
    out2 = pipe.run(pages, terms, run_fingerprint="fp1")
    assert out2.count() == n1
    metrics = catalog.read_log("_metrics").orderBy("ts").collect()
    assert metrics[-1].rows_in == 0  # resume skipped everything

    ckpts = catalog.read_log("_checkpoints")
    assert ckpts.where(F.col("status") == "committed").count() >= 4


def test_metrics_rows_emitted(spark, terms, tmp_path):
    catalog = ParquetCatalog(spark, str(tmp_path / "wh2"))
    pipe = TriplesPipeline(catalog, n_buckets=2)
    pages = pages_dataframe(spark, SURFACES, n_pages=10, seed=3)
    pipe.run(pages, terms, run_fingerprint="fpm")
    m = catalog.read_log("_metrics").collect()
    assert len(m) == 1
    assert m[0].rows_in == 14  # 10 + 4 edge rows
    assert m[0].rows_per_s > 0

def _sql_executions(spark) -> list[int]:
    """Ids of the SQL executions in the status store, once the listener
    bus has delivered every event so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(i).executionId() for i in range(execs.size())]


def _plan_nodes(spark, since_exec_id: int) -> list[str]:
    """Names of the nodes in the plan graphs of every SQL execution after
    ``since_exec_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    names = []
    for eid in _sql_executions(spark):
        if eid > since_exec_id:
            nodes = store.planGraph(eid).allNodes()
            names += [nodes.apply(j).name() for j in range(nodes.size())]
    return names


def test_run_scans_ontology_json_once(spark, tmp_path):
    """The ontology lineage (JSON scan → parse) runs once per run: the embed
    cache and build_triples share one collect, every dimension side is an
    Arrow LocalRelation and the commit logs are written without Spark, so
    no pickled-RDD scan appears either. On a fresh warehouse the run is
    two SQL executions, the term-row collect and the triples write: the
    term embedding and its cache append run no Spark job, and the one
    Python node in the plans is the fused page pass."""
    import json

    from biocurator_mapper_spark.ontology import nodes_from_obo_graph, parse_terms
    from biocurator_mapper_spark.sources.obo_json import read_obo_graph
    from biocurator_mapper_spark.testdata import full_fixture_graph

    onto = tmp_path / "ontology.json"
    onto.write_text(json.dumps(full_fixture_graph(perf_n=20)))
    terms = parse_terms(nodes_from_obo_graph(read_obo_graph(spark, str(onto))))
    pages_dataframe(spark, SURFACES, n_pages=20, seed=5).write.parquet(
        str(tmp_path / "pages")
    )
    pages = spark.read.parquet(str(tmp_path / "pages"))
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    since = max(_sql_executions(spark), default=-1)
    out = TriplesPipeline(catalog, n_buckets=4).run(
        pages, terms, run_fingerprint="scan1"
    )
    execs = [e for e in _sql_executions(spark) if e > since]
    nodes = _plan_nodes(spark, since)
    scans = [n for n in nodes if n.startswith("Scan ")]
    assert sum(n.startswith("Scan json") for n in scans) == 1, scans
    assert not any(n.startswith("Scan ExistingRDD") for n in scans), scans
    assert len(execs) == 2, execs
    assert nodes.count("MapInPandas") == 1, nodes
    assert out.count() > 0


def test_snapshot_isolation_concurrent_reader(spark, terms, tmp_path):
    """A reader holding the previous snapshot keeps a consistent view while
    a new run publishes: old-or-new, never a mix (Iceberg-pointer semantics
    over the parquet catalog)."""
    import os

    catalog = ParquetCatalog(spark, str(tmp_path / "wh3"))
    pipe = TriplesPipeline(catalog, n_buckets=2)

    pipe.run(pages_dataframe(spark, SURFACES, n_pages=8, seed=1), terms, "fpA")
    v1 = catalog.current_version("triples")
    v1_dir = os.path.join(catalog._table_dir("triples"), v1)
    reader_v1 = spark.read.parquet(v1_dir)  # reader resolved the old pointer
    rows_before = {r.subj for r in reader_v1.collect()}

    # a different input publishes a NEW snapshot
    pipe.run(pages_dataframe(spark, SURFACES, n_pages=20, seed=9), terms, "fpB")
    v2 = catalog.current_version("triples")
    assert v2 != v1

    # the old snapshot still reads exactly its original content
    rows_after = {r.subj for r in spark.read.parquet(v1_dir).collect()}
    assert rows_after == rows_before
    # and the pointer read resolves to the complete new snapshot only
    new_rows = {r.subj for r in catalog.read("triples").collect()}
    assert new_rows != rows_before


def test_snapshot_resume_reuses_prior_buckets_and_vacuum(spark, terms, tmp_path):
    import os

    catalog = ParquetCatalog(spark, str(tmp_path / "wh4"))
    pipe = TriplesPipeline(catalog, n_buckets=4)
    pages = pages_dataframe(spark, SURFACES, n_pages=30, seed=5)

    out1 = pipe.run(pages, terms, "fpC")
    n1 = out1.count()

    # mark two buckets as NOT done by rewriting the checkpoint log filter:
    # simplest honest simulation — a fresh fingerprint resumes nothing,
    # same fingerprint resumes everything; partial resume is exercised by
    # deleting half the checkpoint rows
    log_dir = os.path.join(catalog._table_dir("_checkpoints"), "log")
    ck = spark.read.parquet(log_dir).where(F.col("part_bucket") < 2)
    ck.write.mode("overwrite").parquet(log_dir + "_half")
    import shutil

    shutil.rmtree(log_dir)
    os.replace(log_dir + "_half", log_dir)

    out2 = pipe.run(pages, terms, "fpC")  # buckets 2,3 recomputed; 0,1 reused
    assert out2.count() == n1
    m = catalog.read_log("_metrics").orderBy("ts").collect()
    assert 0 < m[-1].rows_in < m[0].rows_in  # partial work only

    # default grace window protects the just-superseded (young) dirs —
    # an in-flight writer's run_dir or a mid-scan reader would live there
    assert pipe.vacuum() == []
    removed = pipe.vacuum(retain_seconds=0)  # no concurrency in this test
    assert removed  # the superseded snapshot/run dirs are gone
    assert catalog.read("triples").count() == n1  # live snapshot intact


def test_cancel_mid_run_then_resume_identical(spark, terms, tmp_path):
    """SURVEY §4 cooperative cancellation (reference
    app/ontology_manager.py:344-347 → cancelJobGroup): cancel() from
    another thread kills the in-flight jobs; nothing half-done lands in
    _checkpoints, and a rerun with the same fingerprint produces output
    identical to a never-cancelled control run."""
    import threading
    import time as _t

    control_cat = ParquetCatalog(spark, str(tmp_path / "wh_ctl"))
    pages = pages_dataframe(spark, SURFACES, n_pages=1500, seed=5)
    expected = {
        (r.subj, r.pred, r.obj)
        for r in TriplesPipeline(control_cat, n_buckets=4)
        .run(pages, terms, "fpCancel")
        .collect()
    }

    cat = ParquetCatalog(spark, str(tmp_path / "wh_can"))
    pipe = TriplesPipeline(cat, n_buckets=4)
    errs: list[Exception] = []

    def _target():
        try:
            pipe.run(pages, terms, "fpCancel", run_id="cancelme")
        except Exception as e:  # expected: job-group cancellation
            errs.append(e)

    th = threading.Thread(target=_target)
    th.start()
    # job groups are attempt-unique — resolve the actual group from the
    # pipeline registry, then wait for an in-flight Spark job in it (or a
    # short grace period: the sticky cancel flag still interrupts at the
    # next stage boundary even between jobs)
    tracker = spark.sparkContext.statusTracker()
    deadline = _t.time() + 120
    first_seen = None
    while _t.time() < deadline:
        group = pipe._active_groups.get("cancelme")
        if group is not None:
            first_seen = first_seen or _t.time()
            if tracker.getJobIdsForGroup(group) or _t.time() - first_seen > 2:
                break
        _t.sleep(0.02)
    cancelled = pipe.cancel("cancelme")
    th.join(timeout=120)
    assert not th.is_alive()
    assert cancelled == ["cancelme"]
    assert errs, "cancelled run must raise, not return"

    # _checkpoints consistent: the cancelled run committed nothing
    log = cat.read_log("_checkpoints")
    assert log is None or log.where(F.col("run_id") == "cancelme").count() == 0

    # resume to identical output
    out = pipe.run(pages, terms, "fpCancel")
    assert {(r.subj, r.pred, r.obj) for r in out.collect()} == expected


def test_cancel_then_retry_same_run_id(spark, terms, tmp_path):
    """cancelJobGroupAndFutureJobs poisons a group id permanently — a retry
    of a cancelled run under the SAME run_id must run in a fresh
    attempt-unique group and succeed."""
    import threading
    import time as _t

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    pipe = TriplesPipeline(cat, n_buckets=2)
    pages = pages_dataframe(spark, SURFACES, n_pages=60, seed=2)
    errs: list[Exception] = []

    def _target():
        try:
            pipe.run(pages, terms, "fpRetry", run_id="r1")
        except Exception as e:
            errs.append(e)

    th = threading.Thread(target=_target)
    th.start()
    deadline = _t.time() + 60
    while "r1" not in pipe._active_groups and th.is_alive() and _t.time() < deadline:
        _t.sleep(0.002)
    cancelled = pipe.cancel("r1")
    th.join(timeout=120)
    assert not th.is_alive()
    if cancelled:  # cancel landed while in flight → run raised
        assert errs

    out = pipe.run(pages, terms, "fpRetry", run_id="r1")
    assert out.count() > 0


def test_resume_is_fingerprint_scoped_not_live_scoped(spark, terms, tmp_path):
    """Checkpoint resume must return THIS fingerprint's snapshot even when
    a different input's run published since: trusting the live pointer
    would silently hand back another corpus's triples."""
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    pipe = TriplesPipeline(catalog, n_buckets=4)
    pages_a = pages_dataframe(spark, SURFACES, n_pages=20, seed=11)
    pages_b = pages_dataframe(spark, SURFACES, n_pages=35, seed=22)

    subj_a = {r.subj for r in pipe.run(pages_a, terms, "fpA").collect()}
    subj_b = {r.subj for r in pipe.run(pages_b, terms, "fpB").collect()}
    assert subj_a != subj_b

    # full resume of fpA AFTER fpB went live: identical output to run 1
    resumed = {r.subj for r in pipe.run(pages_a, terms, "fpA").collect()}
    assert resumed == subj_a
    m = catalog.read_log("_metrics").orderBy("ts").collect()
    assert m[-1].rows_in == 0  # it really resumed — zero recompute

    # and the fpB live pointer is untouched by the fpA resume
    assert {r.subj for r in catalog.read("triples").collect()} == subj_b

    # vacuumed fingerprint snapshot → checkpoints unusable → honest
    # recompute instead of returning wrong/missing data
    import shutil

    tdir = catalog._table_dir("triples")
    for v in [n for n in __import__("os").listdir(tdir) if n.startswith("v_")]:
        if {r.subj for r in spark.read.parquet(f"{tdir}/{v}").collect()} == subj_a:
            shutil.rmtree(f"{tdir}/{v}")
    recomputed = {r.subj for r in pipe.run(pages_a, terms, "fpA").collect()}
    assert recomputed == subj_a
    m2 = catalog.read_log("_metrics").orderBy("ts").collect()
    assert m2[-1].rows_in > 0  # actually recomputed
