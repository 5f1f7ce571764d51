"""LLM reply validation for the best-match stage (SURVEY §2 M5/P11).

The reference sends the passage + top-k candidates to gpt-4 and validates the
JSON reply (``app/llm_matcher.py:77-138``). The engine's default decision is
a **deterministic scoring stub** inside the flagship plan
(``pipeline/triples.py::_rerank_exprs``: exact-synonym/name hits beat vector
certainty, as the prompt tells the model to weigh synonym relevance over raw
similarity); an LLM adapter (``pipeline/providers.py``) can replace it, and
its replies are validated here.

Validation semantics preserved from the reference (llm_matcher.py:94-124),
the same verdicts as the driver-side ``pipeline/providers.py::
parse_llm_reply``:
- markdown ```json fences stripped before parsing;
- required keys {id, name, confidence, reason} present (null values too);
- chosen id must be one of the candidates;
- confidence a number or a numeric string (not a boolean).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

_REQUIRED_KEYS = ("id", "name", "confidence", "reason")

# every field read as its JSON text, so presence, id and confidence are
# judged here rather than by a failed typed parse
_REPLY_SCHEMA = StructType([StructField(k, StringType()) for k in _REQUIRED_KEYS])


def parse_llm_json(
    df: DataFrame,
    raw_col: str = "llm_raw",
    candidates_col: str = "candidate_ids",
) -> DataFrame:
    """LLM reply text → validated struct (reference llm_matcher.py:94-114).

    Adds ``llm_result`` (struct id, name, confidence double, reason; null
    when invalid) and ``llm_error`` (string, null when valid): fence-strip
    → required-keys check → id-in-candidates check → numeric confidence.
    """
    stripped = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.trim(F.col(raw_col)), r"^```json", ""),
            r"```$",
            "",
        )
    )
    # null for non-JSON and for JSON that is not an object
    keys = F.json_object_keys(stripped)
    missing_keys = keys.isNull() | (
        F.size(F.array_except(F.array(*map(F.lit, _REQUIRED_KEYS)), keys)) > 0
    )
    parsed = F.from_json(stripped, _REPLY_SCHEMA)
    bad_id = ~F.coalesce(
        F.array_contains(F.col(candidates_col), parsed["id"]), F.lit(False)
    )
    # JSON true/false read as the text "true"/"false", which is no number
    confidence = parsed["confidence"].try_cast("double")
    # format_string, not concat: a null id or confidence still yields an error
    error = (
        F.when(missing_keys, F.lit("LLM response missing required keys"))
        .when(
            bad_id,
            F.format_string("LLM chose invalid ID %s not in candidates", parsed["id"]),
        )
        .when(
            confidence.isNull(),
            F.format_string("LLM confidence not numeric: %s", parsed["confidence"]),
        )
    )
    result = parsed.withField("confidence", confidence)
    return df.withColumn("llm_result", F.when(error.isNull(), result)).withColumn(
        "llm_error", error
    )
