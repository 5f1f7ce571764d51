"""Deterministic embedding stub + vector math expressions.

The reference embeds text through the OpenAI API (``app/openai_client.py``,
``app/ontology_searcher.py:21-27``); no network exists in this sandbox, so the
engine ships a deterministic drop-in: a **hashed bag-of-words unit vector**.
Each lowercase token maps to a pseudo-random unit direction derived from
sha256(token); a text's vector is the L2-normalized token sum. Properties:

- pure function of the text (stable across executors/runs/engines);
- texts sharing words are cosine-similar → a passage containing a term's
  surface form ranks that term first, which is what the correctness fixtures
  pin (FIXTURES.md §4);
- identical strings get identical vectors.

Term vectors come from ``pipeline.model_client.embed_with_cache`` on the
driver (provider registry, batching, retry/backoff and the cross-run
cache — openai_client.py:224-301); passages are embedded by
``embed_series`` inside the fused page pass.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

EMBED_DIM = 64
EMBED_MODEL_STUB = "stub-hash-v1"

_TOKEN_RE = re.compile(r"[a-z0-9]+")

# Per-process token-vector cache (the cross-run cache is the
# `_embedding_cache` log, see pipeline.model_client.embed_with_cache).
_token_cache: dict[str, np.ndarray] = {}


def _token_vec(tok: str, dim: int) -> np.ndarray:
    v = _token_cache.get(tok)
    if v is None:
        # sha256 → 8 independent 32-byte seeds is overkill; one seed feeding
        # a Generator gives a stable direction per token.
        seed = int.from_bytes(hashlib.sha256(tok.encode("utf-8")).digest()[:8], "big")
        rng = np.random.Generator(np.random.PCG64(seed))
        v = rng.standard_normal(dim).astype(np.float32)
        v /= np.linalg.norm(v)
        if len(_token_cache) < 1_000_000:
            _token_cache[tok] = v
    return v


def hash_embed_py(text: str | None, dim: int = EMBED_DIM) -> list[float]:
    """Pure-Python reference implementation (drives goldens + term matrix)."""
    if not text:
        return [0.0] * dim
    toks = _TOKEN_RE.findall(text.lower())
    if not toks:
        return [0.0] * dim
    acc = np.zeros(dim, dtype=np.float32)
    for t in toks:
        acc += _token_vec(t, dim)
    n = np.linalg.norm(acc)
    if n > 0:
        acc /= n
    return [float(x) for x in acc]


def embed_series(texts: pd.Series, dim: int = EMBED_DIM) -> pd.Series:
    """The passage embedding of the fused page pass: one ``hash_embed_py``
    call per row (per-token numpy adds inside). The Arrow transfer is
    batched; the hashing itself is row-at-a-time Python."""
    return texts.map(lambda t: hash_embed_py(t, dim))


def _sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


_NORM_SQL = (
    "sqrt(aggregate({v}, 0.0D, (acc, x) -> "
    "acc + cast(x as double) * cast(x as double)))"
)


def _cosine_sql(qa: str, qb: str, na: str, nb: str) -> str:
    """dot(qa, qb) / (na * nb), 0.0 when either norm is 0 — the one
    cosine fold every form below parses."""
    dot = (
        f"aggregate(zip_with({qa}, {qb}, (x, y) -> "
        "cast(x as double) * cast(y as double)), 0.0D, (acc, x) -> acc + x)"
    )
    return f"CASE WHEN {na} > 0 AND {nb} > 0 THEN {dot} / ({na} * {nb}) ELSE 0.0D END"


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity of two array<float> columns, given by NAME, with
    built-in higher-order functions — JVM-side, no Python.

    Each element is cast to double BEFORE multiplying: float32 inputs are
    exact in double, and the left-to-right double fold makes the result
    bit-identical to any other engine evaluating the same fold (oracle
    comparability). Zero-norm sides give 0.0. Built from ONE SQL string in
    a single ``F.expr`` parse (~1 ms, where the lambda-HOF Column
    construction cost ~100 ms of py4j round trips per build)."""
    qa, qb = _sql_ident(a), _sql_ident(b)
    return F.expr(
        _cosine_sql(qa, qb, _NORM_SQL.format(v=qa), _NORM_SQL.format(v=qb))
    )


def norm_expr(vec_col: str) -> Column:
    """L2 norm of an array<float> column — the exact fold `cosine_expr`
    uses for its denominators (same expression tree → same double)."""
    return F.expr(_NORM_SQL.format(v=_sql_ident(vec_col)))


def cosine_from_norms_expr(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine built from PREcomputed per-row norms (`norm_expr` columns).

    Exactly the `cosine_expr` arithmetic with the two norm folds factored
    out so each side's norm evaluates ONCE PER ROW instead of once per
    joined pair (the CASE references each norm twice, and each pair pays
    the other side's fold too — 5 array aggregates per pair collapse to 1).
    Bit-identical doubles: the norm column carries the same fold, and
    the dot / division tree is unchanged."""
    return F.expr(
        _cosine_sql(_sql_ident(a), _sql_ident(b), _sql_ident(na), _sql_ident(nb))
    )


def certainty_expr(cos: Column) -> Column:
    """Weaviate-style certainty = (1 + cosine) / 2 (the reference surfaces
    `similarity_certainty` from Weaviate metadata, ontology_searcher.py:70-86)."""
    return (F.lit(1.0) + cos) / F.lit(2.0)
