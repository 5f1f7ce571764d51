"""Per-layer metrics for the traced run.

Spans wrap calls into the program's public functions; the program itself
is unchanged. ``TriplesPipeline.run`` calls ``build_triples``,
``embed_with_cache`` and ``ParquetCatalog.read_log`` through their module
attributes, so the traced op swaps those attributes for span-recording
wrappers and restores them afterwards. Spark stage metrics come from the
status store and are attributed to spans by stage submission time.
"""

from __future__ import annotations

import json
import os
from contextlib import nullcontext
import pickle
import re
import statistics
import time

from .trace import Spans, StatusStore, job_count
from .workloads import KgCrawl

PER_LAYER = [
    # (name, unit, better)
    ("session.start_s", "s", "lower"),
    ("session.worker_warm_s", "s", "lower"),
    ("setup.first_s", "s", "lower"),
    ("first_op_s", "s", "lower"),
    ("gen_s", "s", "lower"),
    ("ontology.ingest_s", "s", "lower"),
    ("ontology.terms", "count", "higher"),
    ("embed_cache.s", "s", "lower"),
    ("build_triples.plan_s", "s", "lower"),
    ("build_triples.jobs", "count", "lower"),
    ("build_triples.physical_plan_s", "s", "lower"),
    ("build_triples.execute_s", "s", "lower"),
    ("mentions.automaton_build_s", "s", "lower"),
    ("mentions.broadcast_mb", "MB", "lower"),
    ("mentions.scan_us_per_kchar", "us", "lower"),
    ("mentions.candidates_per_page", "count", "lower"),
    ("extract.us_per_page", "us", "lower"),
    ("extract.mb_per_s", "MB/s", "higher"),
    ("embed.us_per_page", "us", "lower"),
    ("fused_pass.executor_run_s", "s", "lower"),
    ("fused_pass.cpu_s", "s", "lower"),
    ("fused_pass.tasks", "count", "higher"),
    ("fused_pass.task_skew", "ratio", "lower"),
    ("fused_pass.parallel_efficiency", "ratio", "higher"),
    ("fused_pass.share", "ratio", "lower"),
    ("exchange.shuffle_write_mb", "MB", "lower"),
    ("exchange.shuffle_records", "count", "lower"),
    ("rerank.executor_run_s", "s", "lower"),
    ("rerank.task_skew", "ratio", "lower"),
    ("catalog.commit_s", "s", "lower"),
    ("catalog.files_written", "count", "lower"),
    ("catalog.bytes_written", "MB", "lower"),
    ("catalog.log_rows", "count", "lower"),
    ("catalog.read_log_s", "s", "lower"),
    ("driver_side.share", "ratio", "lower"),
    ("curate.s", "s", "lower"),
    ("curate.write_s", "s", "lower"),
    ("minhash_lsh.s", "s", "lower"),
    ("minhash_lsh.candidate_pairs", "count", "lower"),
    ("minhash_lsh.verified_ratio", "ratio", "higher"),
    ("clusters.s", "s", "lower"),
    ("clusters.jobs", "count", "lower"),
    ("ngram_jaccard.s", "s", "lower"),
    ("ngram_jaccard.intersection_rows", "count", "lower"),
    ("ngram_jaccard.pairs", "count", "higher"),
    ("dedup_recall", "ratio", "higher"),
    ("dedup_recall.base_pairs", "count", "higher"),
    ("python_udf_executions", "count", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("spill_mb", "MB", "lower"),
    ("driver.jvm_rss_mb", "MB", "lower"),
    ("python_workers.rss_mb", "MB", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("error_rate", "ratio", "lower"),
]

SAMPLE_PAGES = 150


def _skew(task_s: list[float]) -> float:
    med = statistics.median(task_s) if task_s else 0.0
    return max(task_s) / med if med > 0 else 0.0


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


class Tracer:
    def __init__(self, spark, wl):
        self.spark = spark
        self.wl = wl
        sc = spark.sparkContext
        self.spans = Spans(jobs=lambda: job_count(sc))
        self.store = StatusStore(spark)
        self.per_op: list[dict] = []
        self.is_kg = isinstance(wl, KgCrawl)

    # ------------------------------------------------------------- ops
    def traced_op(self, i: int):
        rec = {"stage0": self.store.max_stage_id(), "exec0": self.store.max_execution_id()}
        self.spans.op_id = i
        captured: list = []
        with _patched(self.spans, captured) if self.is_kg else nullcontext():
            with self.spans.span("op") as op_span:
                if self.is_kg:
                    res = self.wl.op(i)
                else:
                    res = self.wl.op(i, spans=self.spans)
        rec["op_span"] = op_span
        rec["built"] = captured[-1] if captured else None
        self.per_op.append(rec)
        return res

    def after_op(self, i: int, res) -> None:
        """Collect the op's stage and layer metrics (outside its timing)."""
        rec = self.per_op[-1]
        rec["stages"] = self.store.stages_after(rec["stage0"], with_tasks=True)
        rec["python_execs"] = self.store.python_plan_executions(rec["exec0"])
        if self.is_kg:
            self._kg_after(rec, res)
        else:
            rec["plan_rows"] = self.store.sql_plan_rows(rec["exec0"])
            rec["ngram_pairs"] = len(res["exact"])
            rec["recall"] = self.wl.recall
            rec["recall_base"] = self.wl.recall_base
        self.spans.op_id = None

    def _kg_after(self, rec: dict, res) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        wh = res["warehouse"]
        rec["files"], rec["bytes"] = _dir_stats(wh)
        rec["log_rows"] = sum(
            _log_rows(os.path.join(wh, t, "log")) for t in ("_checkpoints", "_metrics")
        )
        built = rec.pop("built")
        if built is not None:
            t = time.monotonic()
            built._jdf.queryExecution().executedPlan()
            rec["physical_plan_s"] = time.monotonic() - t
            t = time.monotonic()
            built.write.format("noop").mode("overwrite").save()
            rec["execute_s"] = time.monotonic() - t
        t = time.monotonic()
        obs = Observation(f"kgbench_terms_{rec['op_span']['op']}")
        self.wl.terms().observe(obs, F.count(F.lit(1)).alias("n")).write.format(
            "noop"
        ).mode("overwrite").save()
        rec["ingest_s"] = time.monotonic() - t
        rec["terms"] = int(obs.get["n"])

    # --------------------------------------------------------- metrics
    def metrics(self, setups, first_ready, first_op, gen_s, overhead, rss, error_rate):
        m = {name: 0.0 for name, _, _ in PER_LAYER}
        m.update(
            {
                "session.start_s": _med(s["session"] for s in setups),
                "session.worker_warm_s": _med(s["workers"] for s in setups),
                "setup.first_s": first_ready,
                "first_op_s": first_op,
                "gen_s": gen_s,
                "trace.overhead_s": overhead,
                "error_rate": error_rate,
                "driver.jvm_rss_mb": rss["jvm"],
                "python_workers.rss_mb": rss["workers"],
            }
        )
        ops = self.per_op
        m["python_udf_executions"] = _med(r["python_execs"] for r in ops)
        m["jvm.gc_s"] = _med(sum(s["gc_s"] for s in r["stages"]) for r in ops)
        m["spill_mb"] = _med(sum(s["spill_bytes"] for s in r["stages"]) / 2**20 for r in ops)
        if self.is_kg:
            m.update(self._kg_metrics())
        else:
            m.update(self._curate_metrics())
        units = {n: u for n, u, _ in PER_LAYER}
        return {k: (float(v), units[k]) for k, v in m.items()}

    def _op_spans(self, name: str, op: int) -> list[dict]:
        return [s for s in self.spans.by_name(name) if s["op"] == op]

    def _span_s(self, name: str, op: int) -> float:
        return sum(s["end"] - s["start"] for s in self._op_spans(name, op))

    def _kg_metrics(self) -> dict:
        m: dict = {}
        per = []
        for r in self.per_op:
            op = r["op_span"]["op"]
            op_s = r["op_span"]["end"] - r["op_span"]["start"]
            plan = self._op_spans("build_triples.plan", op)
            plan_end = plan[-1]["end"] if plan else r["op_span"]["start"]
            after = [s for s in r["stages"] if s["submit"] and s["submit"] >= plan_end]
            fused = max(
                (s for s in after if s["shuffle_write_records"] > 0),
                key=lambda s: s["run_s"], default=None,
            )
            rerank = max(
                (s for s in after if fused and s["shuffle_read_records"] > 0
                 and s["submit"] >= fused["complete"]),
                key=lambda s: s["run_s"], default=None,
            )
            write_wall = 0.0
            if fused:
                end = rerank["complete"] if rerank else fused["complete"]
                write_wall = end - fused["submit"]
            plan_s = self._span_s("build_triples.plan", op)
            embed_s = self._span_s("embed_cache", op)
            read_log_s = self._span_s("catalog.read_log", op)
            commit = op_s - plan_s - embed_s - read_log_s - write_wall
            per.append(
                {
                    "build_triples.plan_s": plan_s,
                    "build_triples.jobs": sum(s.get("jobs", 0) for s in plan),
                    "build_triples.physical_plan_s": r.get("physical_plan_s"),
                    "build_triples.execute_s": r.get("execute_s"),
                    "embed_cache.s": embed_s,
                    "catalog.read_log_s": read_log_s,
                    "catalog.commit_s": commit,
                    "catalog.files_written": r["files"],
                    "catalog.bytes_written": r["bytes"] / 2**20,
                    "catalog.log_rows": r["log_rows"],
                    "ontology.ingest_s": r["ingest_s"],
                    "ontology.terms": r["terms"],
                    "fused_pass.executor_run_s": fused["run_s"] if fused else 0.0,
                    "fused_pass.cpu_s": fused["cpu_s"] if fused else 0.0,
                    "fused_pass.tasks": fused["tasks"] if fused else 0,
                    "fused_pass.task_skew": _skew(fused["task_s"]) if fused else 0.0,
                    "fused_wall": (fused["complete"] - fused["submit"]) if fused else 0.0,
                    "fused_pass.share": (
                        (fused["complete"] - fused["submit"]) / op_s if fused else 0.0
                    ),
                    "driver_side.share": (plan_s + embed_s + read_log_s + commit) / op_s,
                    "exchange.shuffle_write_mb": (
                        fused["shuffle_write_bytes"] / 2**20 if fused else 0.0
                    ),
                    "exchange.shuffle_records": fused["shuffle_write_records"] if fused else 0,
                    "rerank.executor_run_s": rerank["run_s"] if rerank else 0.0,
                    "rerank.task_skew": _skew(rerank["task_s"]) if rerank else 0.0,
                }
            )
        for k in per[0]:
            m[k] = _med(p[k] for p in per)
        m.update(self._kg_samples())
        one_thread_us = m["extract.us_per_page"] + m["embed.us_per_page"] + m.get("_scan_us_per_page", 0.0)
        if m["fused_wall"] > 0:
            m["fused_pass.parallel_efficiency"] = (
                one_thread_us * self.wl.items() / 1e6 / (4 * m["fused_wall"])
            )
        m.pop("fused_wall")
        m.pop("_scan_us_per_page", None)
        return m

    def _kg_samples(self) -> dict:
        """1-thread samples of extract, scan and embed on this workload's
        pages, plus the automaton build and its pickled size."""
        import pandas as pd
        import pyarrow.parquet as pq

        from biocurator_mapper_spark.extract.html_text import extract_text_py
        from biocurator_mapper_spark.functions.embed import embed_series
        from biocurator_mapper_spark.operators.mentions import AhoCorasick

        surfaces = sorted(self.wl.ref.surface_terms)
        t = time.monotonic()
        ac = AhoCorasick(surfaces)
        build_s = time.monotonic() - t
        mb = len(pickle.dumps(ac)) / 2**20
        pages_dir = self.wl.sample_pages_dir()
        table = pq.read_table(pages_dir, columns=["html"])
        html = table.column("html").to_pylist()
        html = html[:: max(1, len(html) // SAMPLE_PAGES)][:SAMPLE_PAGES]
        t = time.monotonic()
        texts = [extract_text_py(h) for h in html]
        ext_s = time.monotonic() - t
        t = time.monotonic()
        found = [ac.find_distinct(x) for x in texts]
        scan_s = time.monotonic() - t
        # once to fill the per-process token-vector cache, as a worker's
        # is after its first batch; the second call is timed
        embed_series(pd.Series(texts, dtype=object))
        t = time.monotonic()
        embed_series(pd.Series(texts, dtype=object))
        emb_s = time.monotonic() - t
        n = len(html)
        kchars = sum(len(x) for x in texts) / 1000
        return {
            "mentions.automaton_build_s": build_s,
            "mentions.broadcast_mb": mb,
            "mentions.scan_us_per_kchar": scan_s * 1e6 / max(kchars, 1e-9),
            "mentions.candidates_per_page": sum(len(f) for f in found) / n,
            "_scan_us_per_page": scan_s * 1e6 / n,
            "extract.us_per_page": ext_s * 1e6 / n,
            "extract.mb_per_s": sum(len(h) for h in html) / 2**20 / ext_s,
            "embed.us_per_page": emb_s * 1e6 / n,
        }

    def _curate_metrics(self) -> dict:
        per = []
        for r in self.per_op:
            op = r["op_span"]["op"]
            lsh = self._op_spans("minhash_lsh", op)[0]
            ng = self._op_spans("ngram_jaccard", op)[0]
            cl = self._op_spans("clusters", op)[0]

            lsh_rows = [x for x in r["plan_rows"] if x[1] == "HashAggregate"
                        and "keys=[id_a" in x[2] and "functions=[]" in x[2]]
            cand = min((x[3] for x in lsh_rows if x[3] > 0), default=0)
            ng_join = max(
                (x[3] for x in r["plan_rows"]
                 if "Join" in x[1] and re.search(r"\[h#\d+L\], \[h#\d+L\]", x[2])),
                default=0,
            )
            verified = lsh.get("pairs", 0)
            per.append(
                {
                    "curate.s": self._span_s("curate", op),
                    "curate.write_s": self._span_s("curate.write", op),
                    "minhash_lsh.s": lsh["end"] - lsh["start"],
                    "minhash_lsh.candidate_pairs": cand,
                    "minhash_lsh.verified_ratio": verified / cand if cand else 0.0,
                    "clusters.s": cl["end"] - cl["start"],
                    "clusters.jobs": cl.get("jobs", 0),
                    "ngram_jaccard.s": ng["end"] - ng["start"],
                    "ngram_jaccard.intersection_rows": ng_join,
                    "ngram_jaccard.pairs": r["ngram_pairs"],
                    "dedup_recall": r["recall"],
                    "dedup_recall.base_pairs": r["recall_base"],
                }
            )
        return {k: _med(p[k] for p in per) for k in per[0]}

    def write_spans(self, out_dir: str, args) -> None:
        """Spans with self time, kept in memory until now."""
        os.makedirs(out_dir, exist_ok=True)
        selfs = self.spans.self_times()
        rows = [{**s, "self_s": st} for s, st in zip(self.spans.spans, selfs)]
        ops = [
            {k: v for k, v in r.items() if k not in ("op_span", "built")}
            for r in self.per_op
        ]
        path = os.path.join(out_dir, f"{args.workload}-s{args.seed}.trace.json")
        with open(path, "w") as f:
            json.dump({"spans": rows, "ops": ops}, f, indent=1, default=str)


# ------------------------------------------------------------- helpers


def _dir_stats(path: str) -> tuple[int, int]:
    n = b = 0
    for dp, _dn, fn in os.walk(path):
        for f in fn:
            n += 1
            b += os.path.getsize(os.path.join(dp, f))
    return n, b


def _log_rows(log_dir: str) -> int:
    import pyarrow.parquet as pq

    if not os.path.isdir(log_dir):
        return 0
    return sum(
        pq.read_metadata(os.path.join(log_dir, f)).num_rows
        for f in os.listdir(log_dir)
        if f.endswith(".parquet")
    )


class _patched:
    """Swap the pipeline's module-level entry points for span wrappers."""

    def __init__(self, spans: Spans, captured: list):
        self.spans, self.captured = spans, captured

    def __enter__(self):
        import biocurator_mapper_spark.pipeline.model_client as mc
        import biocurator_mapper_spark.pipeline.triples as tr
        from biocurator_mapper_spark.sources.catalog import ParquetCatalog

        spans, captured = self.spans, self.captured
        self.saved = (tr.build_triples, mc.embed_with_cache, ParquetCatalog.read_log)
        bt, ewc, rl = self.saved

        def build_triples(*a, **k):
            with spans.span("build_triples.plan"):
                df = bt(*a, **k)
            captured.append(df)
            return df

        def embed_with_cache(*a, **k):
            with spans.span("embed_cache"):
                return ewc(*a, **k)

        def read_log(self_, table):
            with spans.span("catalog.read_log", table=table):
                return rl(self_, table)

        tr.build_triples = build_triples
        mc.embed_with_cache = embed_with_cache
        ParquetCatalog.read_log = read_log
        return self

    def __exit__(self, *exc):
        import biocurator_mapper_spark.pipeline.model_client as mc
        import biocurator_mapper_spark.pipeline.triples as tr
        from biocurator_mapper_spark.sources.catalog import ParquetCatalog

        tr.build_triples, mc.embed_with_cache, ParquetCatalog.read_log = self.saved
        return False
