"""LLM reply validation for the best-match stage (SURVEY §2 M5/P11).

The reference sends the passage + top-k candidates to gpt-4 and validates the
JSON reply (``app/llm_matcher.py:77-138``). The engine's default decision is
a **deterministic scoring stub** inside the flagship plan
(``pipeline/triples.py::_rerank_exprs``: exact-synonym/name hits beat vector
certainty, as the prompt tells the model to weigh synonym relevance over raw
similarity); an LLM adapter (``pipeline/providers.py``) can replace it, and
its replies are validated here.

Validation semantics preserved from the reference (llm_matcher.py:94-124):
- markdown ```json fences stripped before parsing;
- required keys {id, name, confidence, reason};
- chosen id must be one of the candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

LLM_RESULT_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("name", StringType()),
        StructField("confidence", DoubleType()),
        StructField("reason", StringType()),
    ]
)


def parse_llm_json(
    df: DataFrame,
    raw_col: str = "llm_raw",
    candidates_col: str = "candidate_ids",
) -> DataFrame:
    """LLM reply text → validated struct (reference llm_matcher.py:94-114).

    Adds ``llm_result`` (struct) and ``llm_error`` (string, null when valid):
    fence-strip → from_json → required-keys check → id-in-candidates check.
    """
    stripped = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.trim(F.col(raw_col)), r"^```json", ""),
            r"```$",
            "",
        )
    )
    parsed = F.from_json(stripped, LLM_RESULT_SCHEMA)
    missing_keys = (
        parsed.isNull()
        | parsed["id"].isNull()
        | parsed["name"].isNull()
        | parsed["confidence"].isNull()
        | parsed["reason"].isNull()
    )
    bad_id = ~F.array_contains(F.col(candidates_col), parsed["id"])
    return df.withColumn("llm_result", parsed).withColumn(
        "llm_error",
        F.when(missing_keys, F.lit("LLM response missing required keys"))
        .when(bad_id, F.concat(F.lit("LLM chose invalid ID "), parsed["id"], F.lit(" not in candidates")))
        .otherwise(F.lit(None).cast("string")),
    )
