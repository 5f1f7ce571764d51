"""Batched model-call layer: retry, backoff, rate limiting, caching (M1–M7).

Reimplements the operational semantics of the reference's OpenAI client
(``app/openai_client.py``). Term embedding runs on the driver, like the
reference's one-process loop: the ontology side is driver-held by design
(``operators.mentions.DRIVER_TERMS_MAX``), so its texts never cross into a
Python worker to be embedded:

- batching: ``embed_with_cache`` calls the provider with ``EMBED_BATCH``
  texts at a time (the reference's batch_size 100,
  embeddings_config.yaml:11);
- retry/backoff: per-call retry with ``min(delay * 2**n, 60)`` exponential
  backoff (openai_client.py:183-187) and the reference's retryable-error
  classifier (rate limit / timeout / 5xx retry; auth / 4xx fail fast,
  openai_client.py:120-160);
- rate limiting: a token bucket (delay between calls,
  embeddings_config.yaml:60);
- caching: an ``_embedding_cache`` log keyed by (sha256(text), model)
  makes reruns free (the reference's version-hash memoization,
  generalized per text).

The default provider is the deterministic hash embedder; a real HTTP
provider plugs in via ``EMBED_PROVIDERS``. Passages are embedded inside
the fused page pass by ``functions.embed.embed_series``.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Callable

from pyspark.sql import functions as F

from ..functions.dims import local_dim_df
from ..functions.embed import EMBED_MODEL_STUB, hash_embed_py
from ..sources.catalog import ParquetCatalog, utc_now

EMBED_BATCH = 100  # texts per provider call
_CACHE_TABLE = "_embedding_cache"
_CACHE_SCHEMA = (
    "text_hash string, embedding array<float>, token_count int, "
    "model string, cached_ts timestamp"
)

RETRYABLE_MARKERS = (
    "rate limit", "429", "timeout", "timed out", "connection", "temporarily",
    "500", "502", "503", "504", "server error",
)
NON_RETRYABLE_MARKERS = ("invalid api key", "authentication", "401", "403", "400")


def is_retryable_error(message: str) -> bool:
    """Substring heuristics matching the reference's classifier
    (openai_client.py:120-160): auth/4xx fail fast, transient retries."""
    m = message.lower()
    if any(s in m for s in NON_RETRYABLE_MARKERS):
        return False
    return any(s in m for s in RETRYABLE_MARKERS)


def _stub_provider(texts: list[str]) -> list[list[float]]:
    return [hash_embed_py(t) for t in texts]


EMBED_PROVIDERS: dict[str, Callable[[list[str]], list[list[float]]]] = {
    EMBED_MODEL_STUB: _stub_provider,
}


class RetryingEmbedder:
    """Provider call with retry/backoff/rate limiting."""

    def __init__(
        self,
        provider: str = EMBED_MODEL_STUB,
        max_retries: int = 3,
        base_delay: float = 0.1,
        max_delay: float = 60.0,
        rate_limit_delay: float = 0.0,
    ):
        self.provider = provider
        self.max_retries = max_retries
        self.base_delay = base_delay
        self.max_delay = max_delay
        self.rate_limit_delay = rate_limit_delay
        self._last_call = 0.0
        self.retry_count = 0

    def __call__(self, texts: list[str]) -> list[list[float]]:
        fn = EMBED_PROVIDERS[self.provider]
        if self.rate_limit_delay > 0:
            wait = self._last_call + self.rate_limit_delay - time.monotonic()
            if wait > 0:
                time.sleep(wait)
        attempt = 0
        while True:
            try:
                self._last_call = time.monotonic()
                return fn(texts)
            except Exception as e:  # noqa: BLE001 — classified below
                if attempt >= self.max_retries or not is_retryable_error(str(e)):
                    raise
                delay = min(self.base_delay * (2**attempt), self.max_delay)
                time.sleep(delay)
                attempt += 1
                self.retry_count += 1


def preflight_check(provider: str = EMBED_MODEL_STUB) -> bool:
    """M7 health check: a 1-text probe on the driver before submitting
    stages (reference openai_client.py:97-118) — catches bad credentials /
    dead endpoints without burning cluster time."""
    try:
        out = EMBED_PROVIDERS[provider](["health check"])
        return bool(out) and len(out[0]) > 0
    except Exception:
        return False


def embed_with_cache(
    rows: list,
    catalog: ParquetCatalog | None = None,
    provider: str = EMBED_MODEL_STUB,
) -> list[tuple]:
    """``(key, text)`` rows → ``(key, vector)`` rows in input order.

    The rows are already on the driver (every caller collects its term
    rows through ``mentions.collect_driver_rows``), so this runs no Spark
    job to embed. The cache key is (sha256 hex of the text, model): a NULL
    text hashes like ``''``, and the hex equals Spark's ``sha2(text, 256)``,
    so logs written by a Spark job still hit. Vectors embedded by another
    provider are never served for the same text.

    With a ``catalog``, hits come from one bounded read of the log (a
    semi-join against the wanted hashes); distinct misses go to the
    provider in batches of ``EMBED_BATCH`` and are appended with
    ``append_rows``. token_count is the whole-batch apportionment the
    reference performs (openai_client.py:276-284): the batch's whitespace
    tokens // its size.
    """
    hashes = [hashlib.sha256((t or "").encode("utf-8")).hexdigest() for _, t in rows]
    vec_of: dict[str, list[float]] = {}
    log = catalog.read_log(_CACHE_TABLE) if catalog is not None and rows else None
    if log is not None:
        wanted = local_dim_df(
            catalog.spark, [(h,) for h in dict.fromkeys(hashes)], "text_hash string"
        )
        vec_of = {
            r.text_hash: r.embedding
            for r in log.where(F.col("model") == provider)
            .join(wanted, "text_hash", "left_semi")
            .select("text_hash", "embedding")
            .collect()
        }
    misses = list(
        {h: t or "" for (_, t), h in zip(rows, hashes) if h not in vec_of}.items()
    )
    embedder = RetryingEmbedder(provider=provider)
    now = utc_now()
    fresh = []
    for i in range(0, len(misses), EMBED_BATCH):
        batch = misses[i : i + EMBED_BATCH]
        texts = [t for _, t in batch]
        per_text = sum(len(t.split()) for t in texts) // len(texts)
        for (h, _), v in zip(batch, embedder(texts)):
            vec_of[h] = v
            fresh.append((h, v, per_text, provider, now))
    if catalog is not None and fresh:
        catalog.append_rows(_CACHE_TABLE, fresh, _CACHE_SCHEMA)
    return [(k, vec_of[h]) for (k, _), h in zip(rows, hashes)]
