"""OpenAI-compatible model providers (config-gated; off by default).

The reference's decision engine is an OpenAI embed + gpt-4 rerank
(``app/openai_client.py:224-301``, ``app/llm_matcher.py:18-138``). This
module wires the same HTTP surface behind the engine's provider registries:

- ``register_openai_embedding_provider`` puts an ``/v1/embeddings`` adapter
  into ``EMBED_PROVIDERS`` — from there ``embed_with_cache`` /
  ``RetryingEmbedder`` give it the reference's batching, retry/backoff,
  rate-limit and cache semantics on the driver, where the registry lives;
- ``register_openai_chat_provider`` puts a ``/v1/chat/completions`` adapter
  into ``CHAT_PROVIDERS`` for the M5 rerank / M6 explanation calls;
- ``build_match_prompt`` / ``build_explanation_prompt`` reproduce the
  reference prompts (llm_matcher.py:18-75 and :140-160) so a live model
  sees the same decision inputs; replies flow through
  ``operators.rerank.parse_llm_json`` for the reference's fence-strip +
  required-keys + id-in-candidates validation;
- ``with_llm_raw_response`` / ``with_llm_explanations`` are the Arrow-batch
  UDF stages that call a chat provider per row (M5/M6). They are the ONLY
  places a request leaves the cluster, and they retry with the same
  ``min(base*2**n, max)`` backoff + retryable-error classifier as embedding.

No network exists in this sandbox, so nothing registers by default; the
transport is injectable and the unit tests drive the full stack against a
fake transport (same JSON shapes as the OpenAI API).
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.embed import EMBED_DIM
from .model_client import EMBED_PROVIDERS, is_retryable_error

Transport = Callable[[str, dict, dict, float], dict]
"""(url, json_body, headers, timeout) -> decoded JSON response."""


def _urllib_transport(url: str, body: dict, headers: dict, timeout: float) -> dict:
    req = urllib.request.Request(
        url, data=json.dumps(body).encode("utf-8"), headers=headers
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310
        return json.load(resp)


def make_openai_embedding_provider(
    base_url: str,
    api_key: str,
    model: str = "text-embedding-3-small",
    dim: int | None = EMBED_DIM,
    timeout: float = 30.0,
    transport: Transport | None = None,
) -> Callable[[list[str]], list[list[float]]]:
    """POST /embeddings adapter (reference openai_client.py:224-262).

    Returns vectors in input order (the API may reorder; ``index`` keys
    restore order). ``dim`` forwards the API's ``dimensions`` parameter
    when set. Raise-through on HTTP errors: urllib's messages contain the
    status code, which is exactly what ``is_retryable_error`` classifies.
    """
    send = transport or _urllib_transport
    url = base_url.rstrip("/") + "/embeddings"
    headers = {
        "Authorization": f"Bearer {api_key}",
        "Content-Type": "application/json",
    }

    def _provider(texts: list[str]) -> list[list[float]]:
        body: dict = {"model": model, "input": texts}
        if dim is not None:
            body["dimensions"] = dim
        payload = send(url, body, headers, timeout)
        data = sorted(payload["data"], key=lambda d: d["index"])
        if len(data) != len(texts):
            raise ValueError(
                f"embeddings response has {len(data)} rows for {len(texts)} inputs"
            )
        return [d["embedding"] for d in data]

    return _provider


def register_openai_embedding_provider(
    name: str, base_url: str, api_key: str, **kwargs
) -> str:
    EMBED_PROVIDERS[name] = make_openai_embedding_provider(
        base_url, api_key, model=kwargs.pop("model", name), **kwargs
    )
    return name


# ------------------------------------------------------------------ chat

CHAT_PROVIDERS: dict[str, Callable[[str], str]] = {}


def make_openai_chat_provider(
    base_url: str,
    api_key: str,
    model: str = "gpt-4",
    temperature: float = 0.1,
    max_tokens: int = 500,
    timeout: float = 60.0,
    transport: Transport | None = None,
) -> Callable[[str], str]:
    """POST /chat/completions adapter with the reference's rerank call
    parameters (llm_matcher.py:88-95: temperature 0.1, max_tokens 500)."""
    send = transport or _urllib_transport
    url = base_url.rstrip("/") + "/chat/completions"
    headers = {
        "Authorization": f"Bearer {api_key}",
        "Content-Type": "application/json",
    }

    def _chat(prompt: str) -> str:
        payload = send(
            url,
            {
                "model": model,
                "messages": [{"role": "user", "content": prompt}],
                "temperature": temperature,
                "max_tokens": max_tokens,
            },
            headers,
            timeout,
        )
        return payload["choices"][0]["message"]["content"].strip()

    return _chat


def register_openai_chat_provider(
    name: str, base_url: str, api_key: str, **kwargs
) -> str:
    CHAT_PROVIDERS[name] = make_openai_chat_provider(
        base_url, api_key, model=kwargs.pop("model", name), **kwargs
    )
    return name


def retry_call(
    fn: Callable[[], str],
    max_retries: int = 3,
    base_delay: float = 0.1,
    max_delay: float = 60.0,
) -> str:
    """min(base*2**n, max) backoff on retryable errors — the chat-side twin
    of RetryingEmbedder (reference openai_client.py:183-187)."""
    attempt = 0
    while True:
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — classified below
            if attempt >= max_retries or not is_retryable_error(str(e)):
                raise
            time.sleep(min(base_delay * (2**attempt), max_delay))
            attempt += 1


# ----------------------------------------------------------------- prompts


def build_match_prompt(passage: str, candidates: list[dict]) -> str:
    """The reference's enhanced rerank prompt (llm_matcher.py:18-75):
    numbered candidates with namespace/definition/synonyms/similarity,
    instructions to weigh synonym relevance, and the exact JSON contract
    that ``parse_llm_json`` validates."""
    lines = []
    for idx, c in enumerate(candidates, 1):
        parts = [f"{idx}. {c['name']} ({c['id']})"]
        if c.get("namespace"):
            parts.append(f"[{c['namespace']}]")
        if c.get("definition"):
            parts.append(f"Definition: {c['definition']}")
        if c.get("exact_synonyms"):
            parts.append(f"Exact synonyms: {', '.join(c['exact_synonyms'][:3])}")
        if c.get("similarity_certainty") is not None:
            parts.append(f"Similarity: {c['similarity_certainty']:.3f}")
        lines.append(" | ".join(parts))
    return (
        "You are an expert biomedical curator. Given a scientific passage and "
        "candidate ontology terms (with their synonyms and metadata), choose "
        "the single best matching term.\n\n"
        "Consider semantic similarity to the definition, relevance of "
        "synonyms, the ontology namespace, and vector similarity scores as "
        "a guide.\n\n"
        "Respond ONLY in valid JSON with these exact keys:\n"
        '{"id": "...", "name": "...", "confidence": 0.95, "reason": "..."}\n'
        "The id must be one of the provided candidate IDs.\n\n"
        f"Scientific passage:\n{passage}\n\n"
        f"Candidate terms:\n" + "\n".join(lines) + "\n"
    )


def build_explanation_prompt(passage: str, term: dict) -> str:
    """M6 second-model explanation prompt (llm_matcher.py:140-160)."""
    return (
        f"Explain in 2-3 sentences why the ontology term "
        f"'{term['name']}' ({term['id']}) is the best match for the "
        f"scientific passage: '{passage}'\n\n"
        f"Term definition: {term.get('definition', '')}\n"
        f"Term synonyms: {', '.join(term.get('exact_synonyms') or [])}"
    )


def parse_llm_reply(
    content: str, candidate_ids: list[str]
) -> tuple[dict | None, str | None]:
    """Driver-side twin of operators/rerank.py::parse_llm_json — the
    reference's validation exactly (llm_matcher.py:96-114): strip markdown
    fences, parse JSON, require {id, name, confidence, reason}, and the
    chosen id must be a candidate. Returns (result, error)."""
    text = content.strip()
    if text.startswith("```json"):
        text = text[7:]
    if text.endswith("```"):
        text = text[:-3]
    text = text.strip()
    try:
        result = json.loads(text)
    except json.JSONDecodeError as e:
        return None, f"JSON decode error: {e}"
    required = {"id", "name", "confidence", "reason"}
    if not isinstance(result, dict) or not required <= set(result):
        missing = required - set(result) if isinstance(result, dict) else required
        return None, f"LLM response missing required keys: {sorted(missing)}"
    if result["id"] not in set(candidate_ids):
        return None, f"LLM chose invalid ID {result['id']} not in candidates"
    # key-complete but non-numeric confidence (e.g. "high") is an invalid
    # reply, not a crash: callers fall back to the deterministic stub with
    # llm_error set, same as any other validation failure
    try:
        if isinstance(result["confidence"], bool):
            raise TypeError("boolean confidence")
        result["confidence"] = float(result["confidence"])
    except (TypeError, ValueError):
        return None, (
            f"LLM confidence not numeric: {result['confidence']!r}"
        )
    return result, None


# ------------------------------------------------------------- UDF stages


def with_llm_raw_response(
    df: DataFrame,
    prompt_col: str,
    provider: str | Callable[[str], str],
    out_col: str = "llm_raw",
    max_retries: int = 3,
) -> DataFrame:
    """+ raw chat-completion text per row (Arrow-batched; one provider call
    per row with retry/backoff — validation stays in ``parse_llm_json``).
    ``provider`` names are resolved DRIVER-side (executor workers don't see
    driver-registered registries); the callable travels in the closure."""
    chat = CHAT_PROVIDERS[provider] if isinstance(provider, str) else provider
    # replace (not duplicate) a pre-existing out_col, and never mutate the
    # incoming Arrow batch in place
    fields = [f for f in df.schema.fields if f.name != out_col] + [
        StructField(out_col, StringType())
    ]
    out_schema = StructType(fields)
    in_cols = [f.name for f in fields if f.name != out_col]

    def _call(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[in_cols].copy()
            out[out_col] = [
                retry_call(lambda p=p: chat(p), max_retries=max_retries)
                for p in pdf[prompt_col]
            ]
            yield out

    return df.mapInPandas(_call, out_schema)


def with_llm_explanations(
    df: DataFrame,
    provider: str | Callable[[str], str],
    passage_col: str = "passage",
    name_col: str = "name",
    id_col: str = "term_id",
    definition_col: str | None = "definition",
    out_col: str = "reason",
) -> DataFrame:
    """M6: replace the deterministic ``reason`` with a model-written one.
    Config-gated — callers keep the deterministic default unless a chat
    provider is registered and explicitly requested."""
    chat = CHAT_PROVIDERS[provider] if isinstance(provider, str) else provider
    fields = [f for f in df.schema.fields if f.name != out_col] + [
        StructField(out_col, StringType())
    ]
    out_schema = StructType(fields)
    cols = [f.name for f in fields if f.name != out_col]

    def _explain(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            reasons = []
            for _, row in pdf.iterrows():
                term = {
                    "name": row[name_col],
                    "id": row[id_col],
                    "definition": row.get(definition_col, "") if definition_col else "",
                }
                prompt = build_explanation_prompt(row[passage_col], term)
                reasons.append(retry_call(lambda p=prompt: chat(p)))
            out = pdf[cols].copy()
            out[out_col] = reasons
            yield out

    return df.mapInPandas(_explain, out_schema)
