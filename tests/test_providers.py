"""OpenAI-compatible provider adapters against a fake transport: the full
embed path (registry → retry/backoff → cache), the chat rerank path
(prompt → fence-strip → JSON validation), and cache isolation by model."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biocurator_mapper_spark.pipeline.model_client import (
    EMBED_PROVIDERS,
    RetryingEmbedder,
    embed_with_cache,
)
from biocurator_mapper_spark.pipeline.providers import (
    build_match_prompt,
    make_openai_chat_provider,
    make_openai_embedding_provider,
    retry_call,
    with_llm_raw_response,
)

DIM = 4


def _fake_vec(text: str) -> list[float]:
    return [float(len(text)), 1.0, 2.0, 3.0]


def fake_embed_transport(url, body, headers, timeout):
    assert url.endswith("/embeddings")
    assert headers["Authorization"] == "Bearer test-key"
    assert body["dimensions"] == DIM
    # reversed order on purpose: the adapter must restore input order
    data = [
        {"index": i, "embedding": _fake_vec(t)}
        for i, t in enumerate(body["input"])
    ][::-1]
    return {"data": data}


def test_embedding_provider_orders_and_shapes():
    p = make_openai_embedding_provider(
        "http://fake/v1", "test-key", model="m", dim=DIM,
        transport=fake_embed_transport,
    )
    out = p(["abc", "defgh"])
    assert out == [_fake_vec("abc"), _fake_vec("defgh")]


class FlakyTransport:
    """Raises a retryable error for the first n calls, then succeeds."""

    def __init__(self, fail_times: int, message: str = "429 rate limit exceeded"):
        self.remaining = fail_times
        self.message = message
        self.calls = 0

    def __call__(self, url, body, headers, timeout):
        self.calls += 1
        if self.remaining > 0:
            self.remaining -= 1
            raise RuntimeError(self.message)
        return fake_embed_transport(url, body, headers, timeout)


def test_retrying_embedder_recovers_from_rate_limit():
    t = FlakyTransport(2)
    EMBED_PROVIDERS["fake"] = make_openai_embedding_provider(
        "http://fake/v1", "test-key", dim=DIM, transport=t
    )
    try:
        emb = RetryingEmbedder(provider="fake", base_delay=0.001)
        out = emb(["x"])
    finally:
        del EMBED_PROVIDERS["fake"]
    assert out == [_fake_vec("x")]
    assert t.calls == 3
    assert emb.retry_count == 2


def test_retrying_embedder_fails_fast_on_auth():
    t = FlakyTransport(10, message="401 authentication failed: invalid api key")
    EMBED_PROVIDERS["fake"] = make_openai_embedding_provider(
        "http://fake/v1", "test-key", dim=DIM, transport=t
    )
    try:
        emb = RetryingEmbedder(provider="fake", base_delay=0.001)
        with pytest.raises(RuntimeError):
            emb(["x"])
    finally:
        del EMBED_PROVIDERS["fake"]
    assert t.calls == 1  # no retries burned on a non-retryable error


def test_embed_with_cache_through_registered_provider(spark, tmp_path):
    from biocurator_mapper_spark.functions.embed import hash_embed_py
    from biocurator_mapper_spark.sources.catalog import ParquetCatalog

    name = "fake-remote-embed"
    EMBED_PROVIDERS[name] = make_openai_embedding_provider(
        "http://fake/v1", "test-key", dim=DIM, transport=fake_embed_transport
    )
    try:
        catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
        rows = [("t1", "abc"), ("t2", "defgh")]
        got = embed_with_cache(rows, catalog, provider=name)
        assert got == [("t1", _fake_vec("abc")), ("t2", _fake_vec("defgh"))]
        # a DIFFERENT provider must not be served this provider's vectors
        got_stub = embed_with_cache(rows, catalog)
        assert got_stub == [("t1", hash_embed_py("abc")), ("t2", hash_embed_py("defgh"))]
        # and each provider is served its own vectors from the cache
        assert embed_with_cache(rows, catalog, provider=name) == got
    finally:
        EMBED_PROVIDERS.pop(name, None)


def test_chat_rerank_roundtrip_with_validation(spark):
    from biocurator_mapper_spark.operators.rerank import parse_llm_json

    # self-contained (ships to workers by value): fenced-JSON echo picking
    # the first candidate id seen in the prompt
    def transport(url, body, headers, timeout):
        prompt = body["messages"][0]["content"]
        cid = "GO:0001" if "GO:0001" in prompt else "GO:9999"
        return {
            "choices": [
                {
                    "message": {
                        "content": "```json\n"
                        f'{{"id": "{cid}", "name": "n", "confidence": 0.9, "reason": "r"}}'
                        "\n```"
                    }
                }
            ]
        }

    chat = make_openai_chat_provider(
        "http://fake/v1", "test-key", transport=transport
    )
    cands = [
        {"id": "GO:0001", "name": "apoptosis", "definition": "d",
         "exact_synonyms": ["programmed cell death"], "namespace": "bp",
         "similarity_certainty": 0.91},
        {"id": "GO:0002", "name": "other", "definition": "", "exact_synonyms": []},
    ]
    prompt = build_match_prompt("cells undergoing apoptosis", cands)
    assert "1. apoptosis (GO:0001)" in prompt
    assert "Exact synonyms: programmed cell death" in prompt
    assert "Similarity: 0.910" in prompt

    df = spark.createDataFrame(
        [("u1", prompt, ["GO:0001", "GO:0002"])],
        "url string, prompt string, candidate_ids array<string>",
    )
    raw = with_llm_raw_response(df, "prompt", chat)
    parsed = parse_llm_json(raw, "llm_raw", "candidate_ids").collect()[0]
    assert parsed.llm_error is None
    assert parsed.llm_result.id == "GO:0001"
    assert parsed.llm_result.confidence == 0.9

    # invalid-id replies are rejected, not silently accepted
    df_bad = spark.createDataFrame(
        [("u2", "no candidate marker here", ["GO:0001"])],
        "url string, prompt string, candidate_ids array<string>",
    )
    parsed_bad = parse_llm_json(
        with_llm_raw_response(df_bad, "prompt", chat), "llm_raw", "candidate_ids"
    ).collect()[0]
    assert parsed_bad.llm_error is not None
    assert "invalid ID" in parsed_bad.llm_error


def test_retry_call_backoff_then_success():
    state = {"n": 0}

    def flaky():
        state["n"] += 1
        if state["n"] < 3:
            raise RuntimeError("503 server error, temporarily unavailable")
        return "ok"

    assert retry_call(flaky, base_delay=0.001) == "ok"
    assert state["n"] == 3


def test_resolver_llm_rerank_and_explanation(spark, terms):
    """The interactive path with a chat provider: a valid reply overrides
    the stub winner; an invalid id falls back deterministically with the
    error surfaced; explain adds the second-model explanation (M5/M6,
    reference llm_matcher.py:77-160)."""
    from biocurator_mapper_spark.pipeline.resolve import Resolver

    calls = {"n": 0}

    def chat_pick_other(prompt):
        calls["n"] += 1
        if prompt.startswith("Explain in 2-3 sentences"):
            return "Because it is the canonical apoptosis term."
        # pick the SECOND candidate listed in the prompt to prove override
        import re

        ids = re.findall(r"\((\w+:\d+)\)", prompt)
        target = ids[1] if len(ids) > 1 else ids[0]
        return (
            "```json\n"
            f'{{"id": "{target}", "name": "x", "confidence": 0.77, "reason": "llm says so"}}'
            "\n```"
        )

    base = Resolver(terms, k=3).resolve("apoptosis of T cells in culture")
    r = Resolver(terms, k=3, chat_provider=chat_pick_other, explain=True)
    out = r.resolve("apoptosis of T cells in culture")
    assert calls["n"] == 2  # rerank + explanation
    assert out["reason"] == "llm says so"
    assert out["confidence"] == 0.77
    assert out["best_match"]["id"] != base["best_match"]["id"]
    assert out["best_match"]["id"] in {a["id"] for a in base["alternatives"]}
    assert out["explanation"].startswith("Because")
    assert "llm_error" not in out

    def chat_bad(prompt):
        return '{"id": "NOPE:1", "name": "x", "confidence": 0.5, "reason": "r"}'

    bad = Resolver(terms, k=3, chat_provider=chat_bad).resolve(
        "apoptosis of T cells in culture"
    )
    assert bad["best_match"]["id"] == base["best_match"]["id"]  # stub fallback
    assert "invalid ID" in bad["llm_error"]


def test_with_llm_explanations_batch(spark):
    """M6 batch stage: replaces the deterministic reason with the model's
    sentence per row (mapInPandas; provider callable ships by value)."""
    from biocurator_mapper_spark.pipeline.providers import with_llm_explanations

    def chat(prompt):
        assert prompt.startswith("Explain in 2-3 sentences")
        # echo the term id back so each row's reply is distinguishable
        import re

        m = re.search(r"\((\w+:\d+)\)", prompt)
        return f"explained {m.group(1)}"

    df = spark.createDataFrame(
        [
            ("u1", "passage one", "apoptosis", "GO:0001", "d1", "old reason"),
            ("u2", "passage two", "other", "GO:0002", "d2", "old reason"),
        ],
        "url string, passage string, name string, term_id string, definition string, reason string",
    )
    out = {r.url: r.reason for r in with_llm_explanations(df, chat).collect()}
    assert out == {"u1": "explained GO:0001", "u2": "explained GO:0002"}


def test_parse_llm_reply_non_numeric_confidence_is_llm_error():
    """A key-complete reply with confidence='high' must come back as an
    error tuple (callers fall back to the deterministic stub), not raise
    ValueError out of resolve()."""
    from biocurator_mapper_spark.pipeline.providers import parse_llm_reply

    ok, err = parse_llm_reply(
        '{"id": "GO:1", "name": "x", "confidence": "high", "reason": "r"}',
        ["GO:1"],
    )
    assert ok is None and "confidence" in err

    ok, err = parse_llm_reply(
        '{"id": "GO:1", "name": "x", "confidence": true, "reason": "r"}',
        ["GO:1"],
    )
    assert ok is None and "confidence" in err

    # numeric strings coerce (providers often quote numbers)
    ok, err = parse_llm_reply(
        '{"id": "GO:1", "name": "x", "confidence": "0.75", "reason": "r"}',
        ["GO:1"],
    )
    assert err is None and ok["confidence"] == 0.75


_DROP = object()  # a key _reply leaves out


def _reply(**fields) -> str:
    import json

    body = {"id": "GO:1", "name": "x", "confidence": 0.9, "reason": "r"}
    body.update(fields)
    return json.dumps({k: v for k, v in body.items() if v is not _DROP})


@pytest.mark.parametrize(
    "raw, valid",
    [
        (_reply(), True),
        ("```json\n" + _reply() + "\n```", True),
        (_reply(confidence="0.9"), True),
        (_reply(name=None), True),
        (_reply(confidence="high"), False),
        (_reply(confidence=True), False),
        (_reply(confidence=None), False),
        (_reply(id="GO:9"), False),
        (_reply(id=None), False),
        (_reply(reason=_DROP), False),
        ('["GO:1"]', False),
        ("not json at all", False),
    ],
    ids=[
        "valid", "fenced", "numeric_string", "null_name", "high", "boolean",
        "null_confidence", "bad_id", "null_id", "missing_key", "array",
        "non_json",
    ],
)
def test_llm_reply_validators_agree(spark, raw, valid):
    """The Column validator (operators/rerank.py::parse_llm_json) and the
    driver one (pipeline/providers.py::parse_llm_reply) give the same
    verdict on every reply, and the same result when they accept: the
    required keys must be present (null values pass), the id must be a
    candidate, the confidence a number or a numeric string."""
    from biocurator_mapper_spark.operators.rerank import parse_llm_json
    from biocurator_mapper_spark.pipeline.providers import parse_llm_reply

    cands = ["GO:1", "GO:2"]
    drv, drv_err = parse_llm_reply(raw, cands)
    row = parse_llm_json(
        spark.createDataFrame([(raw, cands)], "llm_raw string, candidate_ids array<string>")
    ).collect()[0]
    assert (drv_err is None) is valid, drv_err
    assert (row.llm_error is None) is valid, row.llm_error
    if valid:
        assert row.llm_result.asDict() == {k: drv[k] for k in row.llm_result.asDict()}
    else:
        assert row.llm_result is None


def test_with_llm_raw_response_replaces_existing_out_col(spark):
    """Calling with a pre-existing out_col must replace it, not produce a
    duplicate schema field (analysis error)."""
    from biocurator_mapper_spark.pipeline.providers import with_llm_raw_response

    df = spark.createDataFrame(
        [("u1", "p1", "stale")], "url string, prompt string, llm_raw string"
    )
    out = with_llm_raw_response(df, "prompt", lambda p: "fresh:" + p)
    assert out.columns.count("llm_raw") == 1
    assert out.collect()[0].llm_raw == "fresh:p1"
