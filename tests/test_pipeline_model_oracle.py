"""Model-based oracle for the full pipeline: an independent pure-Python
implementation of the triple semantics (mention recall → certainty scoring →
top-k → exactness rerank → canonicalization) checked against build_triples
on randomized, seeded ontologies and page sets.

This is the strongest correctness statement the engine makes: on arbitrary
inputs — not just curated goldens — the distributed plan and the sequential
model produce identical (subj, obj, mention, alternatives) decisions.
Certainty floats are compared only through ranking; when two candidates tie
within 1e-9 the winner is implementation-defined and the case is skipped
(requires identical searchable texts, which the generator avoids).
"""

from __future__ import annotations

import random

import numpy as np

from biocurator_mapper_spark.functions.embed import hash_embed_py
from biocurator_mapper_spark.pipeline import build_triples

TERMS_DDL = (
    "term_id string, name string, definition string, exact_synonyms array<string>, "
    "narrow_synonyms array<string>, broad_synonyms array<string>, "
    "related_synonyms array<string>, all_synonyms array<string>, "
    "cross_references array<string>, namespace string, searchable_text string"
)

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lamda mu nu xi "
    "omicron pi rho sigma tau upsilon phi chi psi omega red blue green"
).split()


def _mk_ontology(rng: random.Random, n_terms: int):
    terms = []
    for i in range(n_terms):
        name = " ".join(rng.sample(WORDS, rng.randint(1, 3)))
        exact = [" ".join(rng.sample(WORDS, 2)) for _ in range(rng.randint(0, 2))]
        related = [" ".join(rng.sample(WORDS, 2)) for _ in range(rng.randint(0, 1))]
        all_syn = exact + related
        definition = " ".join(rng.choices(WORDS, k=8)) + f" number {i}"
        xrefs = [f"X:{rng.randint(0, n_terms)}" for _ in range(rng.randint(0, 2))]
        terms.append(
            {
                "term_id": f"T:{i:04d}",
                "name": name,
                "definition": definition,
                "exact_synonyms": exact,
                "narrow_synonyms": [],
                "broad_synonyms": [],
                "related_synonyms": related,
                "all_synonyms": all_syn,
                "cross_references": xrefs,
                "namespace": "rand",
                "searchable_text": " ".join(
                    filter(None, [name, definition, " ".join(all_syn)])
                ),
            }
        )
    return terms


def _mk_pages(rng: random.Random, terms, n_pages: int):
    pages = []
    surfaces = [s for t in terms for s in [t["name"], *t["all_synonyms"]]]
    for i in range(n_pages):
        parts = []
        for _ in range(rng.randint(0, 3)):
            if rng.random() < 0.7 and surfaces:
                parts.append(rng.choice(surfaces))
            parts.append(" ".join(rng.choices(WORDS, k=rng.randint(2, 6))))
        pages.append((f"u{i:04d}", None, None, ". ".join(parts), "en"))
    return pages


def _model_triples(terms, pages, k=5):
    """Sequential reference implementation of the pipeline semantics."""
    # canonicalization: union-find over term↔xref edges, min REAL term id
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for t in terms:
        parent.setdefault(t["term_id"], t["term_id"])
        for x in t["cross_references"]:
            node = f"xref:{x}"
            parent.setdefault(node, node)
            ru, rv = find(t["term_id"]), find(node)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
    comp_terms = {}
    for t in terms:
        comp_terms.setdefault(find(t["term_id"]), []).append(t["term_id"])
    canon = {
        tid: min(members)
        for members in comp_terms.values()
        for tid in members
    }

    surface_map = {}  # surface -> {term_id: is_exact}
    for t in terms:
        exact_set = {s.lower() for s in t["exact_synonyms"]} | {t["name"].lower()}
        for s in [t["name"], *t["all_synonyms"]]:
            if s:
                d = surface_map.setdefault(s.lower(), {})
                d[t["term_id"]] = d.get(t["term_id"], False) or (s.lower() in exact_set)

    vecs = {t["term_id"]: np.array(hash_embed_py(t["searchable_text"])) for t in terms}
    out = {}
    for url, _, _, text, _ in pages:
        passage = text or ""
        low = passage.lower()
        pv = np.array(hash_embed_py(passage))
        # per-term collapse
        per_term = {}
        for surf, tids in surface_map.items():
            if surf in low:
                for tid, is_exact in tids.items():
                    e = per_term.setdefault(tid, {"mentions": set(), "exact": False})
                    e["mentions"].add(surf)
                    e["exact"] = e["exact"] or is_exact
        if not per_term:
            continue
        cands = []
        for tid, e in per_term.items():
            cos = float(np.dot(pv, vecs[tid]))  # unit vectors
            certainty = (1.0 + cos) / 2.0
            mention = sorted(e["mentions"], key=lambda m: (-len(m), m))[0]
            cands.append((tid, certainty, e["exact"], mention))
        topk = sorted(cands, key=lambda c: (-c[1], c[0]))[:k]
        ranked = sorted(
            topk, key=lambda c: (-((1.0 if c[2] else 0.0) + c[1]), -c[1], c[0])
        )
        tid, certainty, exact, mention = ranked[0]
        # near-tie guard: ambiguous winners are implementation-defined
        scores = sorted(
            (((1.0 if c[2] else 0.0) + c[1]) for c in topk), reverse=True
        )
        ambiguous = len(scores) > 1 and abs(scores[0] - scores[1]) < 1e-9
        out[url] = {
            "obj": canon.get(tid, tid),
            "mention": mention,
            "alternatives": [c[0] for c in ranked[1:]],
            "ambiguous": ambiguous,
            "exact": exact,
            "reason": (
                f"exact surface match '{mention}' for {tid}"
                if exact
                else f"highest embedding certainty for {tid}"
            ),
            # the exactness bonus beat a candidate with higher certainty
            "overrode": exact and any(c[1] > certainty for c in topk),
        }
    return out


def test_pipeline_matches_sequential_model(spark):
    rng = random.Random(123)
    terms_py = _mk_ontology(rng, 30)
    pages_py = _mk_pages(rng, terms_py, 120)

    terms = spark.createDataFrame(terms_py, TERMS_DDL)
    pages = spark.createDataFrame(
        pages_py, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    got = {r.subj: r for r in build_triples(pages, terms).collect()}
    want = _model_triples(terms_py, pages_py)

    assert set(got) == set(want), (set(got) ^ set(want))
    checked = 0
    for url, w in want.items():
        if w["ambiguous"]:
            continue
        g = got[url]
        assert g.obj == w["obj"], (url, g.obj, w["obj"])
        assert g.mention == w["mention"], (url, g.mention, w["mention"])
        assert list(g.alternatives) == [
            # alternatives carry raw (pre-canonical) ids in both
            a for a in w["alternatives"]
        ], (url, g.alternatives, w["alternatives"])
        assert g.reason == w["reason"], (url, g.reason, w["reason"])
        # confidence = certainty + the 0.05 exactness boost, clipped to 1
        want_conf = min(1.0, g.certainty + (0.05 if w["exact"] else 0.0))
        assert abs(g.confidence - want_conf) < 1e-6, (url, g.confidence, want_conf)
        checked += 1
    assert checked >= 50  # the comparison actually exercised many pages
    # the rerank cases the comparison must have exercised: an exact
    # surface beating a higher-certainty candidate, and both single- and
    # multi-candidate pages
    decided = [w for w in want.values() if not w["ambiguous"]]
    assert any(w["overrode"] for w in decided)
    assert any(w["alternatives"] == [] for w in decided)
    assert any(w["alternatives"] for w in decided)


def test_pipeline_matches_model_multiple_seeds(spark):
    for seed in (7, 99):
        rng = random.Random(seed)
        terms_py = _mk_ontology(rng, 12)
        pages_py = _mk_pages(rng, terms_py, 40)
        terms = spark.createDataFrame(terms_py, TERMS_DDL)
        pages = spark.createDataFrame(
            pages_py,
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        got = {r.subj: (r.obj, r.mention) for r in build_triples(pages, terms).collect()}
        want = _model_triples(terms_py, pages_py)
        assert set(got) == set(want)
        for url, w in want.items():
            if not w["ambiguous"]:
                assert got[url] == (w["obj"], w["mention"]), (seed, url)

def test_curation_repetition_gate(spark):
    """A doc dominated by one token trips 'too_repetitive' before the
    language gate; normal prose passes (Gopher-style rule)."""
    from biocurator_mapper_spark.pipeline.curation import curate

    filler = (
        "the quick brown fox jumps over a lazy dog and then walks into the "
        "house where it sits by the fire for a while resting its paws"
    )
    spammy = ("buy " * 40) + filler  # 'buy' owns >50% of tokens
    docs = spark.createDataFrame(
        [(1, filler * 2, "en"), (2, spammy, "en")],
        "doc_id long, text string, lang string",
    )
    got = {r.doc_id: r.curation_stage for r in curate(docs).collect()}
    assert got[1] == "kept"
    assert got[2] == "too_repetitive"


def test_curation_lm_gate(spark):
    """min_lm_score adds the char-LM gate AFTER the stateless gates: under
    a prose-trained external model, line noise that passes every heuristic
    gate is rejected as low_lm_score; prose survives; default (None) is
    unchanged."""
    from biocurator_mapper_spark.operators.lm_quality import train_char_lm
    from biocurator_mapper_spark.pipeline.curation import curate

    prose = (
        "the quick brown fox jumps over a lazy dog and then walks into the "
        "house where it sits by the fire for a while resting its paws"
    )
    # gibberish long enough to pass min_chars/min_tokens, with a couple of
    # stopwords so the stopword-ratio gate passes too
    noise = "the " + " ".join(
        f"xq{i}zvkj qwz{i}jxv" for i in range(12)
    ) + " and some xkcd zq"
    docs = spark.createDataFrame(
        [(1, prose, "en"), (2, noise, "en")],
        "doc_id long, text string, lang string",
    )
    # enough training mass that smoothing (+37 per context) stops dominating
    # real contexts: prose then scores ~0.5, the noise ~0.02
    model = train_char_lm(
        spark.createDataFrame(
            [(i, prose) for i in range(50)], "doc_id long, text string"
        ),
        "text",
    )
    base = {r.doc_id: r.curation_stage for r in curate(docs).collect()}
    assert base[1] == "kept" and base[2] == "kept"  # heuristics miss it
    got = {
        r.doc_id: r.curation_stage
        for r in curate(docs, min_lm_score=0.2, lm_model=model).collect()
    }
    assert got[1] == "kept"
    assert got[2] == "low_lm_score"
