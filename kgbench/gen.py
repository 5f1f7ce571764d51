"""Seeded input generator for the KG-construction benchmark.

Everything here is plain Python (no Spark): the same ``(workload, seed)``
always yields byte-identical files. Three kinds of input:

- a GO/DOID-like OBO-graph JSON ontology with nested multi-word names
  ("regulation of X", "type 2 X disease"), typed synonyms, a shared
  synonym pool (one surface naming several terms) and xref alias groups
  (terms the pipeline canonicalizes to one CURIE), plus obsolete and
  short-definition terms that ``quality_filter`` drops;
- Common-Crawl-like pages: boilerplate-heavy HTML whose ``<main>`` text is
  known exactly (the ``text`` column is the expected extraction);
- curation docs over a Zipfian vocabulary with planted gate failures,
  exact duplicates and near-duplicate clusters at edit rates that straddle
  the Jaccard threshold.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import random

from biocurator_mapper_spark.testdata.fixtures import OBO, _node, _syn
from biocurator_mapper_spark.testdata.pages_gen import HUB_HOST

# Bump when generated bytes change: cached inputs under another version are
# regenerated.
GEN_VERSION = "kgbench-gen-v3"

# The embed stub's per-process token-vector cache (functions.embed).
TOKEN_CACHE_CAP = 1_000_000

_SYLLABLES = (
    "ba be bi bo bu da de di do du fa fe fi fo ga ge go ka ke ki ko ku la le "
    "li lo lu ma me mi mo mu na ne ni no nu pa pe pi po ra re ri ro ru sa se "
    "si so su ta te ti to tu va ve vi vo za ze zi zo xa xe qu"
).split()

_ENGLISH = (
    "the of and a to in is was it for on as with that this are be or an at by "
    "from has have not but were which we they its study data results patients "
    "cells analysis model effect level group response protein gene expression "
    "clinical treatment disease sample time method approach increase reduced "
    "observed associated significant high low risk factor outcome follow "
    "review report cohort measure value rate control test using based between "
    "during after before under within across among several many most other "
    "new first two three early late recent previous current further known "
    "role function pathway signal tissue blood brain liver kidney heart lung "
    "mouse human cancer tumor therapy dose drug trial evidence population "
    "analysis including however although therefore while because these those "
    "shown found reported described identified suggested indicated compared "
    "performed collected measured tested examined studied developed used"
).split()

_SPANISH = (
    "el la de que y en los del se las un por con una su para es al lo como "
    "estudio datos pacientes resultados celulas analisis modelo efecto nivel "
    "grupo respuesta tratamiento enfermedad muestra tiempo riesgo"
).split()

_NAV_WORDS = (
    "Home About Contact News Blog Shop Careers Support Login Register Search "
    "Privacy Terms Cookies Help Sitemap Events Press Partners Archive Topics"
).split()

_HOSTS = (
    "health.example.org",
    "med.example.net",
    "journal.example.edu",
    "wiki.example.io",
    "news.example.co",
    "lab.example.ac",
    "clinic.example.org",
)

_EPOCH = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)


def pseudo_words(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct syllable words (2-4 syllables, never English)."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen and w not in _ENGLISH and w not in _SPANISH:
            seen.add(w)
            out.append(w)
    return out


# --------------------------------------------------------------- ontology


def gen_ontology(seed: int, n_terms: int) -> dict:
    """OBO-graph JSON dict with ``n_terms`` nodes in GO- and DOID-style
    families. Stated rates: ~12% of terms share an xref with another term
    (alias groups), ~6% carry a broad synonym from a shared pool (surface
    collisions), 2% are obsolete, 2% have a too-short definition."""
    rng = random.Random(f"onto-{seed}")
    words = pseudo_words(rng, max(64, n_terms))
    shared_pool = [" ".join(rng.sample(words, 2)) for _ in range(max(8, n_terms // 200))]
    nodes: list[dict] = []
    alias_xrefs: list[str] = []
    wi = 0
    go_n = doid_n = 0
    while len(nodes) < n_terms:
        base = " ".join(words[(wi + j) % len(words)] for j in range(rng.randint(1, 2)))
        wi += 2
        if rng.random() < 0.55:
            ns = rng.choice(
                ["biological_process", "molecular_function", "cellular_component"]
            )
            names = [
                base,
                f"{base} activity",
                f"regulation of {base}",
                f"positive regulation of {base}",
                f"negative regulation of {base}",
            ][: rng.randint(1, 5)]
        else:
            ns = "disease_ontology"
            names = [
                f"{base} disease",
                f"type {rng.randint(1, 3)} {base} disease",
                f"{base} carcinoma",
                f"familial {base} syndrome",
            ][: rng.randint(1, 4)]
        for name in names:
            if len(nodes) >= n_terms:
                break
            if ns == "disease_ontology":
                doid_n += 1
                tail = f"DOID_{doid_n:07d}"
            else:
                go_n += 1
                tail = f"GO_{go_n:07d}"
            r = rng.random()
            deprecated = r < 0.02
            short_def = 0.02 <= r < 0.04
            label = f"obsolete {name}" if deprecated else name
            definition = (
                "tbd"
                if short_def
                else f"A {ns.replace('_', ' ')} term describing {name} in "
                f"{rng.choice(words)} {rng.choice(_ENGLISH)} contexts."
            )
            syns = []
            if rng.random() < 0.7:
                syns.append(_syn("hasExactSynonym", f"{rng.choice(words)} {name.split()[-1]}"))
            if rng.random() < 0.4:
                syns.append(_syn("hasNarrowSynonym", f"{name} {rng.choice(words)}"))
            if rng.random() < 0.3:
                syns.append(_syn("hasRelatedSynonym", rng.choice(words)))
            if rng.random() < 0.06:
                syns.append(_syn("hasBroadSynonym", rng.choice(shared_pool)))
            xrefs = [f"{rng.choice(['MESH', 'NCI', 'UMLS'])}:X{seed % 1000:03d}{len(nodes):07d}"]
            if alias_xrefs and rng.random() < 0.12:
                xrefs.append(rng.choice(alias_xrefs))
            elif rng.random() < 0.08:
                alias_xrefs.append(f"OMIM:{len(nodes):07d}")
                xrefs.append(alias_xrefs[-1])
            nodes.append(
                _node(
                    tail,
                    label,
                    definition=definition,
                    synonyms=syns,
                    xrefs=xrefs,
                    namespace=ns,
                    deprecated=deprecated,
                )
            )
    return {
        "graphs": [
            {
                "id": f"{OBO}/kgbench-{seed}.owl",
                "meta": {"version": f"{GEN_VERSION}-{seed}"},
                "nodes": nodes,
            }
        ]
    }


def ontology_surfaces(doc: dict) -> list[str]:
    """Surfaces (name and synonyms, original case) of the terms that pass
    the quality filter — the mentions pages are built from."""
    good: list[str] = []
    for n in doc["graphs"][0]["nodes"]:
        meta = n.get("meta", {})
        ok = meta.get("deprecated") != "true" and len(
            meta.get("definition", {}).get("val", "")
        ) >= 10
        if ok:
            good.extend([n["lbl"], *(s["val"] for s in meta.get("synonyms", []))])
    return sorted(set(good))


# ------------------------------------------------------------------ pages


def _grid(bounds: tuple[int, int], n: int) -> list[int]:
    """``n`` evenly spaced integers across ``bounds`` (a fixed multiset)."""
    lo, hi = bounds
    return [lo + (hi - lo) * k // max(n - 1, 1) for k in range(n)]


def _shuffled(rng: random.Random, xs: list) -> list:
    rng.shuffle(xs)
    return xs


def _sentence(rng: random.Random, vocab: list[str], n: int) -> str:
    return " ".join(rng.choices(vocab, k=n))


def _paragraph(rng, vocab, target_chars, mentions):
    """(html, text) of one paragraph. Inline tags sit between spaces so the
    extractor's tag→space + whitespace normalization yields ``text``."""
    # ~7 chars per filler word incl. the space
    words = rng.choices(vocab, k=max(6, target_chars // 7))
    parts_h: list[str] = []
    parts_t: list[str] = []
    i = 0
    while i < len(words):
        n = rng.randint(6, 16)
        s = " ".join(words[i : i + n])
        i += n
        if rng.random() < 0.1:
            parts_h.append(f"<em>{s}</em> &amp;")
            parts_t.append(f"{s} &")
        else:
            parts_h.append(s + ".")
            parts_t.append(s + ".")
    for m in mentions:
        at = rng.randint(0, len(parts_t))
        parts_h.insert(at, f'<a href="/t/{at}">{m}</a>' if rng.random() < 0.3 else m)
        parts_t.insert(at, m)
    return " ".join(parts_h), " ".join(parts_t)


class _Site:
    """A host's boilerplate: style rules, script statements and link items
    shared by all its pages (as on real sites); a page takes a prefix of
    each sized to its boilerplate budget."""

    def __init__(self, rng: random.Random, budget: int):
        self.rules = [
            f".c{i}{{margin:{rng.randint(0, 9)}px;color:#{rng.randint(0, 0xFFFFFF):06x}}}"
            for i in range(budget // 5 // 30 + 1)
        ]
        self.stmts = [
            f"var v{i}=window.cfg&&cfg.k{rng.randint(0, 999)}||'{rng.choice(_NAV_WORDS)}';"
            for i in range(budget // 3 // 40 + 1)
        ]
        self.links = [
            f'<li><a href="/{rng.choice(_NAV_WORDS).lower()}/{i}">'
            f"{rng.choice(_NAV_WORDS)} {rng.choice(_NAV_WORDS)}</a></li>"
            for i in range(budget // 3 // 60 + 1)
        ]

    def parts(self, b: int) -> tuple[str, str, str, str, str]:
        """(style, head script, nav links, aside links, footer links)."""
        style = "".join(self.rules[: max(1, b // 5 // 30)])
        script = "".join(self.stmts[: max(1, b // 4 // 40)])
        n_links = max(4, b // 3 // 60)
        nav = "".join(self.links[: n_links // 2])
        aside = "".join(self.links[n_links // 2 : n_links // 2 + max(2, n_links // 6)])
        footer = "".join(self.links[-max(3, n_links // 3) :])
        return style, script, nav, aside, footer


def gen_page(
    rng: random.Random,
    site: _Site,
    title: str,
    surfaces: list[str],
    text_chars: int,
    boiler_chars: int,
    n_mentions: int,
    lang: str,
) -> tuple[str, str]:
    """(html, expected text) for one page."""
    vocab = _SPANISH if lang != "en" else _ENGLISH
    mentions = [rng.choice(surfaces) for _ in range(n_mentions)] if surfaces else []
    blocks_h: list[str] = [f"<h1>{title}</h1>"]
    blocks_t: list[str] = [title]
    n_par = max(1, text_chars // 700)
    per = text_chars // n_par
    per_par: list[list[str]] = [[] for _ in range(n_par)]
    for m in mentions:
        per_par[rng.randrange(n_par)].append(m)
    for i in range(n_par):
        if i and rng.random() < 0.25:
            h = _sentence(rng, vocab, 3).capitalize()
            blocks_h.append(f"<h2>{h}</h2>")
            blocks_t.append(h)
        ph, pt = _paragraph(rng, vocab, per, per_par[i])
        blocks_h.append(f"<p>{ph}</p>")
        blocks_t.append(pt)
        if rng.random() < 0.15:
            items = [_sentence(rng, vocab, rng.randint(3, 8)) for _ in range(3)]
            blocks_h.append("<ul>" + "".join(f"<li>{x}</li>" for x in items) + "</ul>")
            blocks_t.extend(items)
        if rng.random() < 0.2:
            blocks_h.append(f"<!-- ad slot {i} <p>sponsored</p> -->")
    style, script, nav, aside, footer = site.parts(boiler_chars)
    html = (
        f'<!DOCTYPE html><html><head><meta charset="utf-8"><title>{title}</title>'
        f"<style>{style}</style><script>{script}</script></head><body>"
        '<div class="cookie">We use cookies to improve your experience.</div>'
        f'<nav class="top"><ul>{nav}</ul></nav>'
        f"<header><div>{title}</div></header>"
        f"<main><article>{''.join(blocks_h)}</article></main>"
        f"<aside><h3>Related</h3><ul>{aside}</ul></aside>"
        "<footer><p>© 2026 Example Publishing. All rights reserved.</p>"
        f"<ul>{footer}</ul></footer><script>{script[:400]}</script></body></html>"
    )
    return html, "\n".join(blocks_t)


def gen_pages(
    seed,
    surfaces: list[str],
    n_pages: int,
    text_chars: tuple[int, int],
    boiler_chars: tuple[int, int],
    url_prefix: str = "doc",
    hub_share: float = 0.3,
    non_en_share: float = 0.1,
    no_mention_share: float = 0.04,
) -> list[tuple]:
    """Page rows ``(url, warc_ts, html_bytes, text, lang)``. Page sizes,
    mention counts and the hub / non-``en`` / no-mention shares are fixed
    multisets shuffled by the seed, so every seed carries the same amount
    of work; the seed changes which page gets what, and all content."""
    rng = random.Random(f"pages-{seed}-{url_prefix}")
    sites = {h: _Site(rng, boiler_chars[1]) for h in (HUB_HOST, *_HOSTS)}
    texts = _shuffled(rng, _grid(text_chars, n_pages))
    boiler = _shuffled(rng, _grid(boiler_chars, n_pages))
    n_none = round(n_pages * no_mention_share)
    mentions = _shuffled(rng, [0] * n_none + [1 + k % 6 for k in range(n_pages - n_none)])
    n_hub = round(n_pages * hub_share)
    hosts = _shuffled(rng, [HUB_HOST] * n_hub + [_HOSTS[k % len(_HOSTS)] for k in range(n_pages - n_hub)])
    n_other = round(n_pages * non_en_share)
    langs = _shuffled(rng, [("es", "de", "zh")[k % 3] for k in range(n_other)] + ["en"] * (n_pages - n_other))
    rows = []
    for i in range(n_pages):
        url = f"https://{hosts[i]}/{url_prefix}/{i:06d}"
        html, text = gen_page(
            rng, sites[hosts[i]], f"Report {url_prefix} {i}", surfaces,
            texts[i], boiler[i], mentions[i], langs[i],
        )
        rows.append(
            (url, _EPOCH + _dt.timedelta(seconds=i * 61), html.encode("utf-8"), text, langs[i])
        )
    # edge rows: boilerplate-only (extracts to "") and a non-ASCII passage
    rows.append(
        (
            f"https://{HUB_HOST}/{url_prefix}/edge-boilerplate",
            _EPOCH,
            b"<!DOCTYPE html><html><head><title>B</title></head><body>"
            b"<nav><a href='/'>Home</a></nav><footer>(c)</footer></body></html>",
            "",
            "en",
        )
    )
    u = f"Estudio de ñáé αβγ 中文 con {surfaces[0] if surfaces else 'x'}."
    rows.append(
        (
            f"https://{HUB_HOST}/{url_prefix}/edge-unicode",
            _EPOCH,
            f"<html><body><main><p>{u}</p></main></body></html>".encode("utf-8"),
            u,
            "es",
        )
    )
    return rows


def write_pages(rows: list[tuple], path: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        part = rows[f * step : (f + 1) * step]
        if not part:
            continue
        cols = list(zip(*part))
        table = pa.table([list(c) for c in cols], schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


# ------------------------------------------------------------ curation docs

_STOP_EN = ["the", "of", "and", "a", "to", "in", "is", "was", "it", "for", "on", "with"]


def gen_docs(seed: int, n_docs: int) -> tuple[list[tuple], dict]:
    """Curation docs ``(doc_id, text, lang)`` plus the planted truth:
    ``stage`` per doc id (the gate it fails, 'duplicate', or 'kept') and
    the near-duplicate clusters with their edit rates. The share of each
    kind and the length multiset are fixed; the seed draws the content.

    Planted kinds, each 2% of docs unless noted: one per curation gate
    (too short, too few tokens, too much punctuation, no stopwords, too
    repetitive, wrong language), 4% exact duplicates (some upper-cased),
    20% near-duplicate clusters of a base doc and three variants whose
    word-substitution rates straddle Jaccard 0.5 on word 3-gram shingles.
    """
    rng = random.Random(f"docs-{seed}")
    vocab = pseudo_words(rng, 4000)
    # Zipf weights over the vocabulary; stopwords interleaved at ~35%
    weights = [1.0 / (r + 1) ** 1.05 for r in range(len(vocab))]

    def body(n_tok: int) -> str:
        toks = rng.choices(vocab, weights=weights, k=n_tok)
        for k in range(n_tok):
            if rng.random() < 0.35:
                toks[k] = rng.choice(_STOP_EN)
        return " ".join(" ".join(toks[i : i + 12]) + "." for i in range(0, n_tok, 12))

    texts: list[str] = []
    stage: list[str] = []
    langs: list[str] = []
    clusters: list[dict] = []

    def add(text: str, st: str, lang: str = "en") -> int:
        texts.append(text)
        stage.append(st)
        langs.append(lang)
        return len(texts) - 1

    q = max(1, n_docs // 50)
    gates = ["too_short", "too_few_tokens", "too_much_punct", "no_stopwords",
             "too_repetitive", "wrong_language"]
    n_clusters = max(2, n_docs // 20)
    n_dup = 2 * q
    n_plain = n_docs - len(gates) * q - 4 * n_clusters - n_dup
    kinds = _shuffled(rng, [g for g in gates for _ in range(q)]
                      + ["cluster"] * n_clusters + ["plain"] * n_plain)
    plain_len = _shuffled(rng, _grid((40, 300), n_plain))
    base_len = _shuffled(rng, _grid((80, 240), n_clusters))
    rates = (0.05, 0.12, 0.25)  # J ≈ 0.76, 0.52, 0.26 for 3-gram shingles
    for kind in kinds:
        if kind == "too_short":
            add(" ".join(rng.sample(vocab, 3)) + ".", kind)
        elif kind == "too_few_tokens":
            add(" ".join(w * 3 for w in rng.sample(vocab, 7)), kind)
        elif kind == "too_much_punct":
            add(" ".join(f"{w}!?;" for w in rng.sample(vocab, 30)), kind)
        elif kind == "no_stopwords":
            add(" ".join(rng.sample(vocab, 40)), kind)
        elif kind == "too_repetitive":
            w = rng.choice(vocab)
            add("the " + " ".join([w] * 40) + " " + " ".join(rng.sample(vocab, 10)), kind)
        elif kind == "wrong_language":
            add(body(rng.randint(40, 200)), kind, "de")
        elif kind == "cluster":
            base_toks = body(base_len.pop()).split(" ")
            members = [add(" ".join(base_toks), "kept")]
            for er in rates:
                toks = [rng.choice(vocab) if rng.random() < er else t for t in base_toks]
                members.append(add(" ".join(toks), "kept"))
            clusters.append({"ids": members, "edit_rates": [0.0, *rates]})
        else:
            add(body(plain_len.pop()), "kept")
    kept_now = [i for i in range(len(texts)) if stage[i] == "kept"]
    for _ in range(n_dup):
        j = rng.choice(kept_now)
        add(texts[j].upper() if rng.random() < 0.5 else texts[j], "duplicate")
    # ids are shuffled so representatives are not always the cluster base
    order = list(range(len(texts)))
    rng.shuffle(order)
    new_id = {old: 1000 + pos * 7 for pos, old in enumerate(order)}
    rows = sorted((new_id[i], texts[i], langs[i]) for i in range(len(texts)))
    # exact duplicates: the representative is the MIN id of the text group
    by_text: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        if stage[i] in ("kept", "duplicate"):
            key = " ".join("".join(c if c.isalnum() else " " for c in t.lower()).split())
            by_text.setdefault(key, []).append(new_id[i])
    truth_stage = {new_id[i]: stage[i] for i in range(len(texts))}
    for ids in by_text.values():
        keep = min(ids)
        for d in ids:
            truth_stage[d] = "kept" if d == keep else "duplicate"
    truth = {
        "stage": {str(k): v for k, v in sorted(truth_stage.items())},
        "clusters": [
            {"ids": [new_id[i] for i in c["ids"]], "edit_rates": c["edit_rates"]}
            for c in clusters
        ],
    }
    return rows, truth


def write_docs(rows: list[tuple], path: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string())])
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        part = rows[f * step : (f + 1) * step]
        if part:
            cols = list(zip(*part))
            pq.write_table(
                pa.table([list(c) for c in cols], schema=schema),
                os.path.join(path, f"part-{f:03d}.parquet"),
            )


def write_json(obj, path: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)
