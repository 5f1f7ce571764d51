"""Single-passage resolution — the reference's flagship endpoint, exactly.

``POST /resolve_biocurated_data`` (reference ``app/main.py:68-88``) resolves
ONE passage against the whole ontology: embed passage → vector top-k over
the full collection (no mention gate — recall comes from the vector space)
→ rerank → ``ResolveResponse``. The batch triple factory intentionally
gates on mentions for web-scale precision; this module preserves the
reference's interactive semantics for API/CLI parity:

- candidates: top-k by embedding certainty over ALL terms (J5/W1);
- rerank: deterministic stub with the prompt's decision inputs — an exact
  synonym/name occurring in the passage beats raw certainty (M5);
- response dict mirrors ResolveResponse (models.py:17-22): best_match
  {id, name, definition}, confidence, reason, alternatives, error.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..functions.embed import hash_embed_py
from ..operators.mentions import collect_driver_rows
from .model_client import embed_with_cache


_TERM_COLS = [
    "term_id", "name", "definition", "exact_synonyms", "all_synonyms",
    "searchable_text", "namespace",
]


class Resolver:
    """Holds the broadcast-shaped term state; resolve() is driver-side math
    (one passage ≡ one row — no cluster job per request, matching the
    reference's sub-second interactive latency). The terms arrive through
    the batch scan's guard, ``mentions.collect_driver_rows``: past
    ``DRIVER_TERMS_MAX`` the constructor raises ``ValueError``."""

    def __init__(
        self,
        terms: DataFrame,
        k: int = 5,
        chat_provider=None,
        explain: bool = False,
    ):
        """``chat_provider`` (name in CHAT_PROVIDERS or a callable) turns on
        the reference's LLM rerank for the interactive path — prompt,
        validation and fallback per app/llm_matcher.py:77-138; ``explain``
        additionally requests the M6 second-model explanation
        (llm_matcher.py:140-160). Both default OFF (deterministic stub)."""
        self.k = k
        self.chat_provider = chat_provider
        self.explain = explain
        rows = collect_driver_rows(terms.select(*_TERM_COLS), "ontology terms")
        self.n_terms = len(rows)
        self.terms = {r.term_id: r for r in rows}
        vec_rows = embed_with_cache([(r.term_id, r.searchable_text) for r in rows])
        self.ids = [t for t, _ in vec_rows]
        if vec_rows:
            mat = np.array([v for _, v in vec_rows], dtype=np.float32)
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            self.matrix = mat / norms
        else:
            self.matrix = np.zeros((0, 1), dtype=np.float32)

    def _candidates(self, passage_l: str, q: np.ndarray) -> list[tuple]:
        """Driver-side candidate generation: (term_row, sim) pairs, surface
        hits first, bounded by k."""
        sims = self.matrix @ q
        k = min(self.k, len(self.ids))
        top = np.argpartition(-sims, k - 1)[:k]
        # recall union: vector top-k ∪ surface-form hits (the batch
        # pipeline's J6 recall, bounded by k) — with the deterministic stub
        # embedding, surface evidence is the high-precision recall signal
        # the reference gets from its real embedding space
        surface_hits = [
            i
            for i, t in enumerate(self.ids)
            if any(
                s and s.lower() in passage_l
                for s in [self.terms[t].name or "", *(self.terms[t].all_synonyms or [])]
            )
        ]
        surface_hits = sorted(surface_hits, key=lambda i: (-sims[i], self.ids[i]))[:k]
        filled = surface_hits + [
            i
            for i in sorted(top, key=lambda i: (-sims[i], self.ids[i]))
            if i not in set(surface_hits)
        ]
        return [(self.terms[self.ids[i]], float(sims[i])) for i in filled[:self.k]]

    def resolve(self, passage: str) -> dict:
        if self.n_terms == 0:
            return {"error": "No candidates provided"}
        q = np.array(hash_embed_py(passage), dtype=np.float32)
        qn = np.linalg.norm(q)
        if qn > 0:
            q = q / qn
        passage_l = passage.lower()
        cands = self._candidates(passage_l, q)

        def stub_score(r, sim: float) -> tuple[float, float, str]:
            certainty = (1.0 + sim) / 2.0
            exact_surfaces = [r.name or "", *(r.exact_synonyms or [])]
            hit = next(
                (s for s in sorted(exact_surfaces, key=lambda s: -len(s))
                 if s and s.lower() in passage_l),
                None,
            )
            bonus = 1.0 if hit is not None else 0.0
            return bonus + certainty, certainty, hit

        ranked = sorted(
            ((stub_score(r, sim), r) for r, sim in cands),
            key=lambda t: (-t[0][0], -t[0][1], t[1].term_id),
        )
        (score, certainty, hit), best = ranked[0]
        # exactness bonus keys on the hit itself, not score >= 1.0 (a
        # non-exact candidate with certainty exactly 1.0 is not exact)
        confidence = min(1.0, certainty + (0.05 if hit is not None else 0.0))
        reason = (
            f"exact surface match '{hit}' for {best.term_id}"
            if hit is not None
            else f"highest embedding certainty for {best.term_id}"
        )
        llm_error = None
        if self.chat_provider is not None:
            llm = self._llm_rerank(passage, ranked)
            if llm is not None and llm.get("error") is None:
                ranked = [r for r in ranked if r[1].term_id == llm["id"]] + [
                    r for r in ranked if r[1].term_id != llm["id"]
                ]
                best = ranked[0][1]
                confidence = float(llm["confidence"])
                reason = llm["reason"]
                certainty = ranked[0][0][1]
            elif llm is not None:
                llm_error = llm["error"]  # deterministic stub stays in force
        out = {
            "best_match": {
                "id": best.term_id,
                "name": best.name,
                "definition": best.definition,
            },
            "confidence": round(confidence, 4),
            "reason": reason,
            "alternatives": [
                {"id": r.term_id, "name": r.name} for (_, r) in ranked[1:]
            ],
            "similarity_certainty": round(certainty, 4),
        }
        if llm_error is not None:
            out["llm_error"] = llm_error
        if self.explain and self.chat_provider is not None:
            out["explanation"] = self._llm_explain(passage, best)
        return out

    # -------------------------------------------------- optional LLM layer

    def _chat(self):
        from .providers import CHAT_PROVIDERS

        p = self.chat_provider
        return CHAT_PROVIDERS[p] if isinstance(p, str) else p

    def _llm_rerank(self, passage: str, ranked) -> dict | None:
        """Reference select_best_match semantics (llm_matcher.py:77-138):
        rich candidate prompt → chat call with retry/backoff → fence-strip +
        required-keys + id-in-candidates validation. Returns the validated
        result, {'error': ...} on an invalid reply, or None on transport
        failure (deterministic fallback either way)."""
        from .providers import build_match_prompt, parse_llm_reply, retry_call

        cands = []
        for (s, cert, _hit), r in ranked:
            cands.append(
                {
                    "id": r.term_id,
                    "name": r.name,
                    "definition": r.definition,
                    "exact_synonyms": list(r.exact_synonyms or []),
                    "namespace": r.namespace,
                    "similarity_certainty": cert,
                }
            )
        prompt = build_match_prompt(passage, cands)
        try:
            content = retry_call(lambda: self._chat()(prompt))
        except Exception as e:  # noqa: BLE001 — availability over strictness
            return {"error": str(e)}
        result, err = parse_llm_reply(content, [c["id"] for c in cands])
        return {"error": err} if err else result

    def _llm_explain(self, passage: str, best) -> str:
        """M6 second-model explanation with the reference's failure
        fallback string (llm_matcher.py:156-160)."""
        from .providers import build_explanation_prompt, retry_call

        term = {
            "name": best.name,
            "id": best.term_id,
            "definition": best.definition,
            "exact_synonyms": list(best.exact_synonyms or []),
        }
        try:
            return retry_call(
                lambda: self._chat()(build_explanation_prompt(passage, term))
            ).strip()
        except Exception as e:  # noqa: BLE001
            return (
                "Match selected based on semantic similarity "
                f"(explanation generation failed: {e})"
            )
