"""The workloads: generated inputs, one op, and the op's output check.

Each op is a closed-loop call into the program's public entry points; the
benchmark never reaches into the program's internals except to wrap public
functions with spans in the traced run.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import statistics

from . import gen, oracle

N_BUCKETS = 16  # TriplesPipeline / `cli triples` default
K = 5
GEN_PROCS = 4  # processes for the triples reference at generation time

# Sizes at --scale 1; NOTES.md records the size scans behind them. Each
# workload also writes a small warm-up set: the untraced run's first op runs
# on it, so the cold JIT and first worker imports cost a few seconds of a
# small op instead of a second full-size op.
SIZES = {
    "kg_crawl": {
        "terms": 7000,
        "pages": 2000,
        "warmup_pages": 400,
        "text_chars": (1500, 9000),
        "boiler_chars": (4000, 26000),
        "files": 8,
    },
    "curate_dedup": {"docs": 500, "warmup_docs": 200, "files": 4},
}


def scaled(workload: str, scale: float) -> dict:
    out = dict(SIZES[workload])
    for k in ("terms", "pages", "docs"):
        if k in out:
            out[k] = max(20, int(out[k] * scale))
    return out


# ================================================================ KG side


def expected_kg(ref: oracle.TriplesReference, rows, procs: int = 1) -> dict:
    """The reference's triples digest and the pages' text digest; the
    reference runs in ``procs`` forked processes."""
    pairs = [(r[0], r[3]) for r in rows]
    if procs > 1:
        import multiprocessing

        step = -(-len(pairs) // (4 * procs))
        chunks = [pairs[i : i + step] for i in range(0, len(pairs), step)]
        with multiprocessing.get_context("fork").Pool(
            procs, initializer=_set_ref, initargs=(ref,)
        ) as pool:
            triples = [t for part in pool.map(_triples, chunks) for t in part]
    else:
        _set_ref(ref)
        triples = _triples(pairs)
    exp = [t for t in triples if t]
    return {
        "n_pages": len(rows),
        "n_triples": len(exp),
        "triples_digest": oracle.triples_digest(exp),
        "text_digest": oracle.text_digest((url, oracle.sha256_text(text)) for url, text in pairs),
    }


# the reference reaches forked workers through this global, so it is not
# pickled with every chunk
_REF: list = []


def _set_ref(ref) -> None:
    _REF[:] = [ref]


def _triples(pairs):
    return [_REF[0].triple(url, text) for url, text in pairs]


def _page_manifest(rows, ref: oracle.TriplesReference) -> dict:
    html_kb = [len(r[2]) / 1024 for r in rows]
    sample = rows[:: max(1, len(rows) // 200)]
    cands = [len(ref.candidates(r[3])) for r in sample]
    return {
        "pages": len(rows),
        "mean_html_kb": round(statistics.mean(html_kb), 2),
        "mean_text_kb": round(statistics.mean(len(r[3]) for r in rows) / 1024, 2),
        "hub_share": round(sum(gen.HUB_HOST in r[0] for r in rows) / len(rows), 3),
        "non_en_share": round(sum(r[4] != "en" for r in rows) / len(rows), 3),
        "candidates_per_page": round(statistics.mean(cands), 2),
        "no_candidate_share": round(sum(c == 0 for c in cands) / len(cands), 3),
    }


def _onto_manifest(doc: dict, ref: oracle.TriplesReference) -> dict:
    nodes = doc["graphs"][0]["nodes"]
    multi = sum(len(t) > 1 for t in ref.surface_terms.values())
    aliased = sum(ref.canonical[t] != t for t in ref.canonical)
    return {
        "terms": len(nodes),
        "terms_after_quality_filter": len(ref.term_vec),
        "surfaces": len(ref.surface_terms),
        "surface_collision_share": round(multi / len(ref.surface_terms), 4),
        "canonicalized_term_share": round(aliased / len(ref.canonical), 4),
    }


def _vocab(texts) -> int:
    import re

    tok = re.compile(r"[a-z0-9]+")
    seen: set[str] = set()
    for t in texts:
        seen.update(tok.findall(t.lower()))
    return len(seen)


def check_triple_rows(rows: list[tuple], expected: dict) -> list[str]:
    """Triples vs the reference: digest, count, one row per subject."""
    errs = []
    if len({r[0] for r in rows}) != len(rows):
        errs.append("more than one triple for a subject")
    if len(rows) != expected["n_triples"]:
        errs.append(f"triples {len(rows)} != expected {expected['n_triples']}")
    if oracle.triples_digest(rows) != expected["triples_digest"]:
        errs.append("triples digest differs from the reference")
    return errs


def check_extracted(shas: list[tuple[str, str]], expected_digest: str) -> list[str]:
    if oracle.text_digest(shas) != expected_digest:
        return ["extracted text differs from the generator's text"]
    return []


class KgCrawl:
    """One op = a full TriplesPipeline.run into a fresh warehouse: ontology
    ingest, then ``TriplesPipeline(n_buckets=16).run(k=5)``."""

    name = "kg_crawl"

    def __init__(self, data_dir: str, manifest: dict, scale: float):
        self.dir = data_dir
        self.manifest = manifest
        self.onto_path = os.path.join(data_dir, "ontology.json")

    @functools.cached_property
    def ref(self) -> oracle.TriplesReference:
        with open(self.onto_path) as f:
            return oracle.TriplesReference(json.load(f), k=K)

    @staticmethod
    def generate(d: str, seed: int, scale: float) -> dict:
        size = scaled("kg_crawl", scale)
        doc = gen.gen_ontology(seed, size["terms"])
        gen.write_json(doc, os.path.join(d, "ontology.json"))
        good = gen.ontology_surfaces(doc)
        ref = oracle.TriplesReference(doc, k=K)
        m = {"ontology": _onto_manifest(doc, ref)}
        # the warm-up set has a file per task slot, so every Python worker
        # takes part in the warm-up op
        for sub, n, files in (("main", size["pages"], size["files"]),
                              ("warmup", size["warmup_pages"], 4)):
            rows = gen.gen_pages(
                seed, good, n, size["text_chars"], size["boiler_chars"], url_prefix=sub
            )
            gen.write_pages(rows, os.path.join(d, sub, "pages"), files)
            exp = expected_kg(ref, rows, procs=GEN_PROCS)
            gen.write_json(exp, os.path.join(d, sub, "expected.json"))
            if sub == "main":
                m.update(input=_page_manifest(rows, ref), triples=exp["n_triples"],
                         vocabulary=_vocab(r[3] for r in rows))
        return m

    def open(self, spark) -> None:
        from biocurator_mapper_spark.sources.obo_json import read_obo_graph

        self.spark = spark
        self.obo = read_obo_graph(spark, self.onto_path)
        self.pages = {
            sub: spark.read.parquet(os.path.join(self.dir, sub, "pages"))
            for sub in ("main", "warmup")
        }

    def prepare(self, work: str) -> None:
        self.expected = {}
        for sub in ("main", "warmup"):
            with open(os.path.join(self.dir, sub, "expected.json")) as f:
                self.expected[sub] = json.load(f)
        self.work = work
        self.extract_errs: dict[str, list[str]] = {}

    def items(self) -> int:
        return self.manifest["input"]["pages"]

    def sample_pages_dir(self) -> str:
        return os.path.join(self.dir, "main", "pages")

    def terms(self):
        from biocurator_mapper_spark.ontology import (
            nodes_from_obo_graph,
            parse_terms,
            quality_filter,
        )

        return quality_filter(parse_terms(nodes_from_obo_graph(self.obo)))

    def op(self, i: int, warmup: bool = False):
        from biocurator_mapper_spark.pipeline.triples import TriplesPipeline
        from biocurator_mapper_spark.sources.catalog import ParquetCatalog

        sub = "warmup" if warmup else "main"
        wh = os.path.join(self.work, f"wh_{i}")
        catalog = ParquetCatalog(self.spark, wh)
        out = TriplesPipeline(catalog, n_buckets=N_BUCKETS).run(
            self.pages[sub], self.terms(), run_fingerprint=f"crawl-{i}", k=K,
            run_id=f"crawl{i}",
        )
        return {"catalog": catalog, "out": out, "warehouse": wh, "set": sub}

    def check(self, i: int, res) -> list[str]:
        from pyspark.sql import functions as F

        from biocurator_mapper_spark.extract.html_text import with_extracted_text

        sub = res["set"]
        rows = [
            tuple(r)
            for r in res["out"].select("subj", "pred", "obj", "mention", "confidence").collect()
        ]
        errs = check_triple_rows(rows, self.expected[sub])
        if sub not in self.extract_errs:
            # one extraction check per distinct input: every op on a set
            # reads the same pages, so a mismatch fails all of them
            got = with_extracted_text(self.pages[sub].select("url", "html")).select(
                "url", F.sha2("extracted_text", 256).alias("h")
            )
            self.extract_errs[sub] = check_extracted(
                [(r.url, r.h) for r in got.collect()], self.expected[sub]["text_digest"]
            )
        return errs + self.extract_errs[sub]

    def cleanup(self, res) -> None:
        shutil.rmtree(res["warehouse"], ignore_errors=True)


# ============================================================ curation side


class CurateDedup:
    """One op = the `cli curate --near-dup` chain (gates, exact dedup,
    MinHash-LSH clusters, write) plus the exact n-gram Jaccard audit."""

    name = "curate_dedup"
    THRESHOLD = 0.5

    def __init__(self, data_dir: str, manifest: dict, scale: float):
        self.dir = data_dir
        self.manifest = manifest

    @staticmethod
    def generate(d: str, seed: int, scale: float) -> dict:
        size = scaled("curate_dedup", scale)
        m = CurateDedup.generate_set(os.path.join(d, "main"), seed, size["docs"], size["files"])
        CurateDedup.generate_set(os.path.join(d, "warmup"), f"{seed}-warmup", size["warmup_docs"], 4)
        return m

    @staticmethod
    def generate_set(d: str, seed, n_docs: int, files: int) -> dict:
        from biocurator_mapper_spark.operators.dedup import _MINHASH_AB

        rows, truth = gen.gen_docs(seed, n_docs)
        gen.write_docs(rows, os.path.join(d, "docs"), files)
        texts = {r[0]: r[1] for r in rows}
        kept = {int(k): texts[int(k)] for k, st in truth["stage"].items() if st == "kept"}
        n_cand, lsh_pairs, rep = oracle.lsh_reference(kept, _MINHASH_AB[:16], 4, CurateDedup.THRESHOLD)
        final = sorted(i for i in kept if rep[i] == i)
        exact = oracle.ngram_jaccard_reference(kept, CurateDedup.THRESHOLD)
        funnel: dict[str, int] = {}
        for st in truth["stage"].values():
            funnel[st] = funnel.get(st, 0) + 1
        gen.write_json(
            {
                "funnel": funnel,
                "final_ids_digest": _ids_digest(final),
                "n_final": len(final),
                "ngram_pairs": [[a, b, j] for a, b, j in exact],
                "kept_ids": sorted(kept),
            },
            os.path.join(d, "expected.json"),
        )
        planted = sum(len(c["ids"]) * (len(c["ids"]) - 1) // 2 for c in truth["clusters"])
        return {
            "input": {
                "docs": len(rows),
                "mean_doc_chars": round(statistics.mean(len(r[1]) for r in rows), 1),
                "funnel": funnel,
                "planted_cluster_pairs": planted,
                "near_dup_edit_rates": sorted({r for c in truth["clusters"] for r in c["edit_rates"]}),
                "exact_pairs_at_threshold": len(exact),
                "lsh_candidate_pairs": n_cand,
                "lsh_verified_pairs": len(lsh_pairs),
            },
            "vocabulary": _vocab(texts.values()),
        }

    def open(self, spark) -> None:
        self.spark = spark
        self.docs = {
            sub: spark.read.parquet(os.path.join(self.dir, sub, "docs"))
            for sub in ("main", "warmup")
        }

    def prepare(self, work: str) -> None:
        self.expected = {}
        for sub in ("main", "warmup"):
            with open(os.path.join(self.dir, sub, "expected.json")) as f:
                self.expected[sub] = json.load(f)
        self.work = work

    def items(self) -> int:
        return self.manifest["input"]["docs"]

    # the op, split at the public calls so the traced run can time each
    def op(self, i: int, warmup: bool = False, spans=None):
        from contextlib import nullcontext

        from pyspark.sql import functions as F

        from biocurator_mapper_spark.operators.canonicalize import clusters_from_pairs
        from biocurator_mapper_spark.operators.dedup import (
            dedup_clusters,
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
        )
        from biocurator_mapper_spark.pipeline.curation import curate, curation_funnel

        sp = spans.span if spans is not None else (lambda *_a, **_k: nullcontext())
        sub = "warmup" if warmup else "main"
        docs = self.docs[sub]
        out_dir = os.path.join(self.work, f"curated_{i}")
        with sp("curate"):
            staged = curate(docs, id_col="doc_id", text_col="text", keep_langs=("en",))
            funnel = {r.curation_stage: r.n_docs for r in curation_funnel(staged).collect()}
            kept_ids = staged.where(F.col("curation_stage") == "kept").select("doc_id")
            kept = docs.join(kept_ids, "doc_id", "left_semi")
        if spans is None:
            clusters = dedup_clusters(kept, "doc_id", "text", threshold=self.THRESHOLD)
        else:
            with sp("minhash_lsh") as rec:
                pairs = minhash_lsh_pairs(kept, "doc_id", "text", threshold=self.THRESHOLD).cache()
                rec["pairs"] = pairs.count()
            with sp("clusters"):
                clusters = clusters_from_pairs(kept, pairs, "doc_id")
        # cached so the recall check reads the clusters without re-running
        # the chain; the write below materializes it
        clusters = clusters.cache()
        reps = clusters.where(~F.col("is_duplicate")).select("doc_id")
        with sp("curate.write"):
            kept.join(reps, "doc_id", "left_semi").write.mode("overwrite").parquet(out_dir)
        with sp("ngram_jaccard"):
            exact = [
                (r.id_a, r.id_b, r.jaccard)
                for r in ngram_jaccard_pairs(
                    kept, "doc_id", "text", threshold=self.THRESHOLD
                ).collect()
            ]
        if spans is not None:
            pairs.unpersist()
        return {"funnel": funnel, "clusters": clusters, "out_dir": out_dir, "exact": exact,
                "set": sub}

    def check(self, i: int, res) -> list[str]:
        import pyarrow.parquet as pq

        final = pq.read_table(res["out_dir"], columns=["doc_id"]).column(0).to_pylist()
        errs = check_curation(res["funnel"], final, res["exact"], self.expected[res["set"]])
        rep = {r.doc_id: r.representative_id for r in res["clusters"].collect()}
        res["clusters"].unpersist()
        merged = sum(rep.get(a) == rep.get(b) for a, b, _ in res["exact"])
        self.recall = (merged / len(res["exact"])) if res["exact"] else 1.0
        self.recall_base = len(res["exact"])
        return errs

    def cleanup(self, res) -> None:
        shutil.rmtree(res["out_dir"], ignore_errors=True)


def check_curation(funnel: dict, final_ids: list, exact_pairs: list, expected: dict) -> list[str]:
    """Funnel counts, kept ids and exact-tier pairs vs the reference."""
    errs = []
    if funnel != expected["funnel"]:
        errs.append(f"funnel {funnel} != {expected['funnel']}")
    if _ids_digest(final_ids) != expected["final_ids_digest"]:
        errs.append("kept ids differ from the reference")
    if sorted(tuple(p) for p in exact_pairs) != [tuple(p) for p in expected["ngram_pairs"]]:
        errs.append("exact n-gram Jaccard pairs differ from the reference")
    return errs


def _ids_digest(ids) -> str:
    return hashlib.sha256(",".join(str(i) for i in sorted(ids)).encode()).hexdigest()


WORKLOADS = {w.name: w for w in (KgCrawl, CurateDedup)}


def prepare_inputs(root: str, workload: str, seed: int, scale: float):
    """Generate (or reuse) the inputs of ``(workload, seed, scale)``;
    returns (data dir, manifest)."""
    d = os.path.join(root, "data", f"{workload}-s{seed}-x{scale:g}")
    mpath = os.path.join(d, "manifest.json")
    sizes = json.loads(json.dumps(scaled(workload, scale)))
    if os.path.exists(mpath):
        with open(mpath) as f:
            m = json.load(f)
        if m.get("gen_version") == gen.GEN_VERSION and m.get("sizes") == sizes:
            return d, m
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    m = WORKLOADS[workload].generate(d, seed, scale)
    m.update(
        gen_version=gen.GEN_VERSION,
        workload=workload,
        seed=seed,
        scale=scale,
        sizes=sizes,
        token_cache_cap=gen.TOKEN_CACHE_CAP,
        vocabulary_vs_token_cache=round(m["vocabulary"] / gen.TOKEN_CACHE_CAP, 6),
    )
    gen.write_json(m, mpath)
    return d, m
