"""Training-data curation: the standard quality → language → dedup funnel.

Composes the engine's text-analysis and dedup operators into the one
pipeline every large-scale pretraining corpus goes through:

1. quality gate — min length, token count, punctuation ratio, stopword
   ratio bounds (functions.text.quality_struct);
2. language filter — keep target languages (declared lang column or the
   stopword-vote lang_id fallback);
3. exact dedup — one representative (min id) per normalized fingerprint;
4. emit the kept corpus + a per-stage funnel report (rows in/out per gate,
   the reference's filter-rejection tally A4 writ large).

Everything is built-in expressions: one scan and one gate evaluation per
``curate`` evaluation, one shuffle for the fingerprint dedup window (plus
one for the funnel counts), no Python in the hot path, all stages
oracle-checkable in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import (
    curation_signals_struct,
    doc_fingerprint,
)


def curation_gates(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str | None = "lang",
    keep_langs: tuple[str, ...] = ("en",),
    min_chars: int = 80,
    min_tokens: int = 10,
    max_punct_ratio: float = 0.2,
    min_stopword_ratio: float = 0.01,
    max_word_freq_ratio: float = 0.5,
) -> DataFrame:
    """The STATELESS per-doc half of the funnel: all input columns +
    ``fingerprint`` + ``curation_gate`` (null for survivors, else the first
    failed gate). Shared verbatim by batch ``curate`` and the streaming
    twin (``streaming/curation.py``) so the two paths can never drift.

    ONE fused signal struct is materialized in its own projection, THEN
    fanned out: quality counters, repetition run-length and (when no
    declared lang column exists) the language vote all come from a single
    tokenize per row — the field values are expression-identical to the
    standalone quality_struct / repetition_struct / lang_id_expr."""
    declared_lang = lang_col and lang_col in docs.columns
    staged = docs.withColumn(
        "_s",
        curation_signals_struct(F.col(text_col), with_lang=not declared_lang),
    )
    # declared lang may be NULL (crawl metadata gaps): coalesce to 'und'
    # so ~isin(keep_langs) fires instead of NULL-passing
    lang = (
        F.coalesce(F.col(lang_col), F.lit("und"))
        if declared_lang
        else F.col("_s.q.lang")
    )
    # NULL text must FAIL a gate, not null-pass every predicate: a NULL
    # curation_gate reads as "kept" downstream, and in the streaming twin
    # the NULL fingerprint rows would then collapse to a single survivor
    # (dropDuplicatesWithinWatermark treats NULL keys as equal) — so
    # html-only/not-yet-extracted pages would silently vanish from the
    # stream while batch kept them. Rejecting NULL as too_short (n_chars
    # coalesced to 0) keeps batch and stream agreeing by construction.
    first_gate = (
        F.when(
            F.coalesce(F.col("_s.q.n_chars"), F.lit(0)) < min_chars,
            F.lit("too_short"),
        )
        .when(F.col("_s.q.n_tokens") < min_tokens, F.lit("too_few_tokens"))
        .when(F.col("_s.q.punct_ratio") > max_punct_ratio, F.lit("too_much_punct"))
        .when(
            F.col("_s.q.stopword_ratio") < min_stopword_ratio, F.lit("no_stopwords")
        )
        # Gopher-style repetition rule: one token owning more than
        # max_word_freq_ratio of the doc marks boilerplate/spam
        .when(
            F.col("_s.rep.max_word_freq_ratio") > max_word_freq_ratio,
            F.lit("too_repetitive"),
        )
        .when(~lang.isin(list(keep_langs)), F.lit("wrong_language"))
    )
    return staged.select(
        *docs.columns,
        doc_fingerprint(F.col(text_col)).alias("fingerprint"),
        first_gate.alias("curation_gate"),
    )


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = "lang",
    keep_langs: tuple[str, ...] = ("en",),
    min_chars: int = 80,
    min_tokens: int = 10,
    max_punct_ratio: float = 0.2,
    min_stopword_ratio: float = 0.01,
    max_word_freq_ratio: float = 0.5,
    min_lm_score: float | None = None,
    lm_model: DataFrame | None = None,
) -> DataFrame:
    """docs → kept docs with a ``curation_stage`` column marking survivors
    ('kept') and the first gate each rejected doc failed — one relation
    carries both the output corpus and the funnel report.

    ``min_lm_score`` adds the char-LM quality gate (stage
    ``low_lm_score``) AFTER the stateless gates: docs below the threshold
    under ``lm_model`` (or a model trained on ``docs`` itself when None —
    note that adds a corpus-level aggregate pass) are rejected before
    dedup."""
    gated = curation_gates(
        docs,
        text_col=text_col,
        lang_col=lang_col,
        keep_langs=keep_langs,
        min_chars=min_chars,
        min_tokens=min_tokens,
        max_punct_ratio=max_punct_ratio,
        min_stopword_ratio=min_stopword_ratio,
        max_word_freq_ratio=max_word_freq_ratio,
    ).select(id_col, "fingerprint", F.col("curation_gate").alias("_gate"))
    if min_lm_score is not None:
        from ..operators.lm_quality import lm_quality_score

        lm = lm_quality_score(docs, id_col, text_col, model=lm_model).select(
            id_col, "lm_score"
        )
        gated = gated.join(lm, id_col, "left").select(
            id_col,
            "fingerprint",
            F.coalesce(
                F.col("_gate"),
                F.when(
                    F.coalesce(F.col("lm_score"), F.lit(0.0)) < min_lm_score,
                    F.lit("low_lm_score"),
                ),
            ).alias("_gate"),
        )
    # dedup among gate survivors only: representative = min surviving id
    # per fingerprint, read off ONE window over the narrow gated rows — a
    # self-join would scan the docs and run the gate HOFs on both sides.
    # A NULL fingerprint reads as kept, as a NULL equi-join key would.
    rep = F.min(F.when(F.col("_gate").isNull(), F.col(id_col))).over(
        Window.partitionBy("fingerprint")
    )
    return gated.select(
        id_col,
        "fingerprint",
        F.coalesce(
            F.col("_gate"),
            F.when(
                F.col("fingerprint").isNotNull() & (F.col(id_col) != rep),
                F.lit("duplicate"),
            ),
            F.lit("kept"),
        ).alias("curation_stage"),
    )


def curation_funnel(curated: DataFrame) -> DataFrame:
    """Stage → count report over :func:`curate` output (A4 at corpus scale)."""
    return curated.groupBy("curation_stage").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
