"""Independent plain-Python references for the benchmark's output checks.

Nothing here builds a DataFrame or calls engine plan code. The triples
reference restates the flagship decision chain (in the style of
``testdata/kg_oracle.py``) from the raw OBO JSON and the generator's
expected page text: its own term parse and quality gate, its own substring
scanner (a k-gram index, not the engine's Aho-Corasick automaton), its own
union-find, and the same embedding model (``hash_embed_py``, the function
that *defines* the stub vectors). The curation reference re-derives the
MinHash-LSH and exact n-gram Jaccard tiers from their integer definitions.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np

from biocurator_mapper_spark.functions.embed import hash_embed_py

# ------------------------------------------------------------------- terms


def parse_terms_py(doc: dict) -> list[dict]:
    """OBO-graph dict → the quality-filtered term rows the pipeline uses
    (go_parser semantics restated: CURIE from the URI tail, typed synonyms,
    xrefs from definition + meta + dbxref properties, quality gate)."""
    out = []
    for n in doc["graphs"][0]["nodes"]:
        if n.get("id") is None or n.get("lbl") is None:
            continue
        meta = n.get("meta") or {}
        name = n["lbl"]
        definition = ((meta.get("definition") or {}).get("val")) or ""
        syns = [s for s in meta.get("synonyms") or [] if s.get("val")]
        exact = [s["val"] for s in syns if s.get("pred") == "hasExactSynonym"]
        all_syn = [s["val"] for s in syns]
        xrefs = list((meta.get("definition") or {}).get("xrefs") or [])
        for x in meta.get("xrefs") or []:
            v = x.get("val") if isinstance(x, dict) else x
            if v:
                xrefs.append(v)
        for p in meta.get("basicPropertyValues") or []:
            if p.get("val") and "hasDbXref" in (p.get("pred") or ""):
                xrefs.append(p["val"])
        obsolete = meta.get("deprecated") == "true"
        low_n, low_d = name.lower(), definition.lower()
        if (
            len(definition) < 10
            or any(w in low_n or w in low_d for w in ("deprecated", "obsolete"))
            or not definition.strip()
            or obsolete
        ):
            continue
        term_id = n["id"].rsplit("/", 1)[-1].replace("_", ":")
        out.append(
            {
                "term_id": term_id,
                "name": name,
                "exact": exact,
                "all_syn": all_syn,
                "xrefs": xrefs,
                "searchable": " ".join(
                    p for p in [name, definition, " ".join(all_syn)] if p
                ),
            }
        )
    return out


def _union_find_min(edges: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def root(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: root(x) for x in parent}


def _gram_ints(a: np.ndarray, k: int) -> np.ndarray:
    """Distinct k-byte grams of a byte array, as little-endian integers."""
    n = len(a) - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    g = np.zeros(n, dtype=np.uint64)
    for j in range(k):
        g |= a[j : j + n].astype(np.uint64) << np.uint64(8 * j)
    return np.unique(g)


class GramScanner:
    """Case-insensitive substring scan through k-gram indexes over UTF-8
    bytes: each surface is filed under its rarest 8-byte gram (4-byte for
    shorter surfaces); a surface whose gram occurs in the text is then
    tested whole. Surfaces under 4 bytes are tested directly."""

    KS = (4, 8)

    def __init__(self, surfaces):
        lo, hi = self.KS
        self.short = [s for s in surfaces if len(s.encode("utf-8")) < lo]
        grams: dict[int, dict[str, set[int]]] = {lo: {}, hi: {}}
        for s in surfaces:
            b = s.encode("utf-8")
            if len(b) >= lo:
                k = hi if len(b) >= hi else lo
                grams[k][s] = {int.from_bytes(b[i : i + k], "little") for i in range(len(b) - k + 1)}
        self.index: dict[int, dict[int, list[str]]] = {}
        for k, by_surface in grams.items():
            freq: dict[int, int] = {}
            for gs in by_surface.values():
                for g in gs:
                    freq[g] = freq.get(g, 0) + 1
            idx: dict[int, list[str]] = {}
            for s, gs in by_surface.items():
                idx.setdefault(min(gs, key=lambda g: (freq[g], g)), []).append(s)
            self.index[k] = idx
        self.keys = {k: np.array(sorted(idx), dtype=np.uint64) for k, idx in self.index.items()}

    def find(self, low: str) -> set[str]:
        a = np.frombuffer(low.encode("utf-8"), dtype=np.uint8)
        hits = {s for s in self.short if s in low}
        for k, idx in self.index.items():
            for g in np.intersect1d(self.keys[k], _gram_ints(a, k), assume_unique=True):
                hits.update(s for s in idx[int(g)] if s in low)
        return hits


class TriplesReference:
    """Expected ``(subj, pred, obj, mention, confidence)`` per page."""

    def __init__(self, doc: dict, k: int = 5):
        self.k = k
        terms = parse_terms_py(doc)
        self.searchable_texts = [t["searchable"] for t in terms]
        self.surface_terms: dict[str, set[str]] = {}
        self.exact: set[tuple[str, str]] = set()
        self.term_vec: dict[str, list[float]] = {}
        edges = []
        for t in terms:
            tid = t["term_id"]
            for s in [t["name"], *t["all_syn"]]:
                if s:
                    self.surface_terms.setdefault(s.lower(), set()).add(tid)
            for s in [t["name"], *t["exact"]]:
                self.exact.add((s.lower(), tid))
            self.term_vec[tid] = hash_embed_py(t["searchable"])
            edges.extend((tid, f"xref:{x}") for x in t["xrefs"] if x)
        comp = _union_find_min(edges)
        by_comp: dict[str, str] = {}
        for tid in self.term_vec:
            if tid in comp:
                c = comp[tid]
                by_comp[c] = min(by_comp.get(c, tid), tid)
        self.canonical = {
            t: by_comp[comp[t]] if t in comp else t for t in self.term_vec
        }
        self.scanner = GramScanner(list(self.surface_terms))

    @staticmethod
    def _cosine(a, b) -> float:
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        for x in a:
            na += float(x) * float(x)
        for y in b:
            nb += float(y) * float(y)
        na, nb = math.sqrt(na), math.sqrt(nb)
        return dot / (na * nb) if na > 0 and nb > 0 else 0.0

    def candidates(self, text: str) -> set[str]:
        return self.scanner.find(text.lower()) if text else set()

    def triple(self, url: str, text: str):
        found = self.candidates(text)
        if not found:
            return None
        cands: dict[str, list[str]] = {}
        for s in found:
            for t in self.surface_terms[s]:
                cands.setdefault(t, []).append(s)
        pv = hash_embed_py(text)
        per_term = []
        for t, ments in cands.items():
            cert = (1.0 + self._cosine(pv, self.term_vec[t])) / 2.0
            is_exact = any((m, t) in self.exact for m in ments)
            mention = sorted(ments, key=lambda m: (-len(m), m))[0]
            per_term.append((t, cert, is_exact, mention))
        topk = sorted(per_term, key=lambda c: (-c[1], c[0]))[: self.k]
        ranked = sorted(
            topk,
            key=lambda c: (-((1.0 if c[2] else 0.0) + c[1]), -c[1], c[0]),
        )
        t, cert, is_exact, mention = ranked[0]
        obj = self.canonical[t]
        conf = float(np.float32(min(1.0, cert + (0.05 if is_exact else 0.0))))
        return (url, f"{obj.split(':')[0]}:mapped_to", obj, mention, conf)


def triples_digest(rows) -> str:
    """Order-free digest of ``(subj, pred, obj, mention, confidence)`` rows."""
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(("\t".join(map(repr, r)) + "\n").encode("utf-8"))
    return h.hexdigest()


def text_digest(pairs) -> str:
    """Digest of ``(url, sha256(text))`` pairs, order-free."""
    h = hashlib.sha256()
    for url, th in sorted(pairs):
        h.update(f"{url}\t{th}\n".encode("utf-8"))
    return h.hexdigest()


def sha256_text(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


# ---------------------------------------------------------------- curation

MINHASH_MOD = 2147483647
_TOKEN = re.compile(r"[^a-z0-9]+")


def shingle_hashes(text: str, n: int = 3) -> list[int]:
    """Distinct word n-gram shingles → 60-bit md5 prefix integers."""
    toks = [t for t in _TOKEN.split(text.lower()) if t]
    if len(toks) >= n:
        sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    elif toks:
        sh = {" ".join(toks)}
    else:
        sh = set()
    return sorted(int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) for s in sh)


def _jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def lsh_reference(
    docs: dict[int, str], ab: list[tuple[int, int]], bands: int = 4, t: float = 0.5
):
    """(candidate pair count, verified pairs, representative per id) of
    MinHash-LSH dedup restated from its integer definition."""
    sets = {d: shingle_hashes(x) for d, x in docs.items()}
    a = np.array([p[0] for p in ab], dtype=np.int64)[:, None]
    b = np.array([p[1] for p in ab], dtype=np.int64)[:, None]
    rows = len(ab) // bands
    buckets: dict[tuple[int, str], list[int]] = {}
    for d, hs in sets.items():
        if not hs:
            continue
        hm = np.array(hs, dtype=np.int64) % MINHASH_MOD
        sig = ((a * hm[None, :] + b) % MINHASH_MOD).min(axis=1)
        for bn in range(bands):
            key = "|".join(str(int(v)) for v in sig[bn * rows : (bn + 1) * rows])
            buckets.setdefault((bn, key), []).append(d)
    cands = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cands.add((ids[i], ids[j]))
    pairs = sorted(
        p for p in cands if _jaccard(set(sets[p[0]]), set(sets[p[1]])) >= t
    )
    rep = {d: d for d in docs}
    comp = _union_find_min([(str(x).zfill(20), str(y).zfill(20)) for x, y in pairs])
    for node, root in comp.items():
        rep[int(node)] = int(root)
    return len(cands), pairs, rep


def ngram_jaccard_reference(
    docs: dict[int, str], t: float = 0.5, max_df: int = 256
) -> list[tuple[int, int, float]]:
    """All pairs with Jaccard ≥ t over shingle sets with hub shingles
    (document frequency > max_df) removed — exact, found by prefix
    filtering (AllPairs): a qualifying pair shares a token in the first
    |A| - ceil(t·|A|) + 1 tokens of each set, ordered by ascending DF."""
    sets = {d: shingle_hashes(x) for d, x in docs.items()}
    df: dict[int, int] = {}
    for hs in sets.values():
        for h in hs:
            df[h] = df.get(h, 0) + 1
    kept = {d: sorted((h for h in hs if df[h] <= max_df), key=lambda h: (df[h], h))
            for d, hs in sets.items()}
    index: dict[int, list[int]] = {}
    cands = set()
    for d in sorted(kept):
        toks = kept[d]
        if not toks:
            continue
        p = len(toks) - math.ceil(t * len(toks)) + 1
        for h in toks[:p]:
            for e in index.get(h, ()):
                cands.add((e, d))
            index.setdefault(h, []).append(d)
    out = []
    for x, y in cands:
        j = _jaccard(set(kept[x]), set(kept[y]))
        if j >= t:
            out.append((x, y, j))
    return sorted(out)
