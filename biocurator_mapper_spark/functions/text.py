"""Scalar text/URL functions — all built-in expressions (JVM-side codegen).

Covers the reference's scalar surface (SURVEY §2 string table) plus the
training-data-pipeline text analysis ops: token counting, quality scoring,
language-ID heuristic, document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .exprs import int_array_lit, let_expr, str_array_lit

# ---------------------------------------------------------------- reference ops


def curie_normalize(col: Column, replacements: dict[str, str] | None = None) -> Column:
    """URI tail → CURIE (reference go_parser.py:97-100): last "/" segment,
    then configured replacements (default ``_`` → ``:``)."""
    if replacements is None:
        replacements = {"_": ":"}
    out = F.try_element_at(F.split(col, "/"), F.lit(-1))
    for old, new in replacements.items():
        out = F.replace(out, F.lit(old), F.lit(new))
    return out


def truncate_with_ellipsis(col: Column, max_length: int = 8000) -> Column:
    """Truncate to max_length with trailing "..." (do_embeddings.py:141-144)."""
    return F.when(
        F.length(col) > max_length,
        F.concat(F.substring(col, 1, max_length - 3), F.lit("...")),
    ).otherwise(col)


def content_hash(*cols: Column) -> Column:
    """First 16 hex chars of sha256 over a canonical JSON of the fields
    (ontology_version_manager.py:67-84)."""
    return F.substring(F.sha2(F.to_json(F.struct(*cols)), 256), 1, 16)


def with_url_host(col: Column) -> Column:
    """Hostname of a URL — the skew/salting key for head domains.

    ``try_parse_url``: under Spark 4 ANSI mode plain ``parse_url`` THROWS
    on a malformed URL, and crawl data routinely carries unencoded
    spaces/brackets — one bad row must become a NULL host, not a dead
    stream/job."""
    return F.try_parse_url(col, F.lit("HOST"))


# ------------------------------------------------------- training-data ops

_EMPTY_STR_ARRAY = "array<string>"


def _null_safe(arr: Column) -> Column:
    """NULL array → empty array. ``aggregate`` over a NULL array returns
    NULL without running the finish lambda, which would silently turn a
    NULL ``text`` into NULL signals instead of the documented zero/'und'
    values (and a NULL gate in curate() reads as 'passed')."""
    return F.coalesce(arr, F.array().cast(_EMPTY_STR_ARRAY))



def token_count(col: Column) -> Column:
    """Whitespace+punctuation tokenization count (BPE-ish regex split)."""
    toks = F.split(F.lower(col), r"[^a-z0-9']+")
    return F.size(F.filter(toks, lambda t: t != ""))


# GPT-2-style pre-tokenizer, RE2-compatible (no lookahead so the same
# pattern runs in DuckDB/RE2 and Java regex with identical leftmost-first
# alternation): contractions, space-prefixed letter runs, digit runs,
# punctuation runs. Whitespace-only tokens are not counted.
BPE_TOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_token_count(col: Column) -> Column:
    """BPE-ish token count — the pre-tokenization granularity LLM training
    budgets are planned in (GPT-2's pattern minus the lookahead), vs the
    whitespace-ish ``token_count``. One codegen regexp_count; no Python."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE))


def doc_fingerprint(col: Column) -> Column:
    """Normalized-content fingerprint: md5 over lowercase alnum-collapsed
    text. Rolling-hash equivalent for exact near-canonical duplicate keys."""
    normalized = F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " ")
    return F.md5(F.trim(normalized))


_STOPWORDS = (
    "the of and a to in is was it for on as with that this are be or an at "
    "by from has have not but were which you we they he she his her its"
).split()

_STOP_ES = "el la de que y en los del se las un por con una su para es al lo como".split()
_STOP_DE = "der die und in den von zu das mit sich des auf ist im dem nicht ein".split()
_STOP_FR = "le de la et les des en un du une que est pour qui dans par sur au".split()
_STOP_IT = "il la di che e in un per con non una su le si da come più anche sono".split()
_STOP_PT = "o a de que e do da em um para com não uma os no se na por mais as".split()
_STOP_NL = "de het een en van ik te dat die in je niet zijn is was op aan met als voor".split()

# canonical language → stopword lists, PRIORITY ORDER (ties break toward
# the earlier entry). The oracle SQL in __spark_entry__ imports this list,
# so the Spark expression and DuckDB re-derivation can never drift.
LANG_STOPWORDS: list[tuple[str, list[str]]] = [
    ("en", _STOPWORDS),
    ("es", _STOP_ES),
    ("de", _STOP_DE),
    ("fr", _STOP_FR),
    ("it", _STOP_IT),
    ("pt", _STOP_PT),
    ("nl", _STOP_NL),
]


# ------------------------------------------------ curation signal pieces
#
# Each signal family is written ONCE as init / merge / finish pieces over
# the shared token array; quality_struct, repetition_struct, lang_id_expr
# and the fused curation_signals_struct are all assembled from them, so
# the standalone and fused expression trees cannot drift.


def _tokens(text: Column) -> Column:
    """Lowercased letter/digit/apostrophe tokens, empties dropped; NULL
    text → []."""
    return _null_safe(
        F.filter(F.split(F.lower(text), r"[^\p{L}0-9']+"), lambda t: t != "")
    )


def _quality_init() -> list[Column]:
    return [F.lit(0).alias("n"), F.lit(0).alias("stop"), F.lit(0).alias("len_sum")]


def _quality_merge(acc: Column, t: Column) -> list[Column]:
    """Token count, stopword hits and summed token length."""
    return [
        (acc["n"] + 1).alias("n"),
        (
            acc["stop"] + F.array_contains(str_array_lit(_STOPWORDS), t).cast("int")
        ).alias("stop"),
        (acc["len_sum"] + F.length(t)).alias("len_sum"),
    ]


def _quality_finish(text: Column, acc: Column) -> list[Column]:
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[\p{Punct}]", ""))
    n_tokens = acc["n"]
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1)).cast("double")
    stop_ratio = acc["stop"] / safe_tokens.cast("double")
    mean_word_len = acc["len_sum"] / safe_tokens.cast("double")
    # crude composite: long enough, some stopwords, sane punctuation & words
    score = (
        F.least(n_tokens / F.lit(20.0), F.lit(1.0)) * 0.3
        + F.least(stop_ratio * F.lit(3.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(4.0), F.lit(1.0))) * 0.2
        + F.when(
            (mean_word_len >= 3) & (mean_word_len <= 10), F.lit(1.0)
        ).otherwise(F.lit(0.0))
        * 0.1
    )
    return [
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_word_len.alias("mean_word_len"),
        score.alias("quality_score"),
    ]


def _lang_init() -> Column:
    return int_array_lit([0] * len(LANG_STOPWORDS))


def _lang_merge(hits: Column, t: Column) -> Column:
    """Add the token's stopword hit to each language's counter."""
    word_arrays = [str_array_lit(words) for _, words in LANG_STOPWORDS]
    return F.zip_with(
        hits,
        F.array(*[F.array_contains(wa, t).cast("int") for wa in word_arrays]),
        lambda a, b: a + b,
    )


def _lang_finish(hits: Column) -> Column:
    """Stable argmax over the counters (ties → earlier LANG_STOPWORDS
    entry), 'und' when nothing hit."""
    n = len(LANG_STOPWORDS)
    lang_codes = str_array_lit([code for code, _ in LANG_STOPWORDS])
    scores = F.transform(
        hits,
        lambda h, i: F.struct(
            h.alias("hits"),
            (F.lit(n - 1) - i).alias("prio"),
            # 1-based element_at; i is the 0-based transform index
            F.try_element_at(lang_codes, i + F.lit(1)).alias("lang"),
        ),
    )
    best = F.try_element_at(F.reverse(F.array_sort(scores)), F.lit(1))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def _rep_init() -> Column:
    return F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit(0).alias("n"),
    )


def _rep_merge(acc: Column, t: Column) -> Column:
    """Longest equal-run over the SORTED token array."""
    run = F.when(t == acc["prev"], acc["run"]).otherwise(F.lit(0)) + 1
    return F.struct(
        t.alias("prev"),
        run.alias("run"),
        F.greatest(acc["best"], run).alias("best"),
        (acc["n"] + 1).alias("n"),
    )


def _rep_finish(acc: Column) -> list[Column]:
    return [
        acc["best"].cast("bigint").alias("max_word_freq"),
        F.when(acc["n"] > 0, acc["best"] / acc["n"].cast("double"))
        .otherwise(F.lit(0.0))
        .alias("max_word_freq_ratio"),
    ]


def _dup_line_frac(text: Column) -> Column:
    """Share of non-blank trimmed lines that repeat an earlier line. The
    line array binds once: the fraction references it 4× and each
    reference would otherwise re-split + re-trim the whole text."""

    def _frac(lines: Column) -> Column:
        n_lines = F.size(lines)
        return F.when(
            n_lines > 0,
            (n_lines - F.size(F.array_distinct(lines))) / n_lines.cast("double"),
        ).otherwise(F.lit(0.0))

    return let_expr(
        _null_safe(
            F.filter(
                F.transform(F.split(text, r"\n"), lambda l: F.trim(l)),
                lambda l: l != "",
            )
        ),
        _frac,
    )


def quality_struct(text: Column) -> Column:
    """Document quality signals as ONE struct column: length, punctuation
    ratio, stopword ratio, mean word length, and a combined [0,1] score.

    All token-based counters (token count, stopword hits, summed token
    length) accumulate in a single ``aggregate`` pass over one tokenized
    array; the finish lambda emits the whole struct. Materialize the struct
    in its own projection and fan fields out in a second select — the same
    no-CSE-across-columns rule as :func:`repetition_struct`."""
    return F.aggregate(
        _tokens(text),
        F.struct(*_quality_init()),
        lambda acc, t: F.struct(*_quality_merge(acc, t)),
        lambda acc: F.struct(*_quality_finish(text, acc)),
    )


# PII patterns, RE2-compatible (run identically in DuckDB oracles): the
# standard web-corpus scrub set. Order matters — emails first so their
# host parts aren't half-eaten by later patterns.
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\+\d[\d().-]{7,}\d"),
]


def redact_pii(text: Column) -> Column:
    """Replace each PII class with a typed placeholder (``[EMAIL]`` …) —
    the pre-training scrub pass. Pure regexp_replace chain (codegen)."""
    out = text
    for name, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"[{name.upper()}]")
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-class PII match counts (audit/reporting side of the scrub)."""
    return {name: F.regexp_count(text, F.lit(pat)) for name, pat in PII_PATTERNS}


def repetition_struct(text: Column) -> Column:
    """Repetition signals (Gopher-style quality rules) as ONE struct column:
    most-frequent-token count + share, duplicate-line fraction. All integer/
    exact-ratio expressions so an oracle reproduces them bit-for-bit.

    Most-frequent-token count runs in O(n log n): sort the token array,
    then the longest equal-run in ONE aggregate pass whose finish lambda
    emits the whole output struct (count, ratio, dup-line fraction) — so
    the plan holds exactly one split / one sort / one pass per row.

    Returned as a single struct on purpose: materialize it in its own
    projection (``.withColumn("_rep", repetition_struct(...))``) and derive
    the outputs in a SECOND select — higher-order expressions get no CSE
    across columns within one projection, so fanning this into N columns
    directly would evaluate the whole chain N times per row."""
    return F.aggregate(
        F.array_sort(_tokens(text)),
        _rep_init(),
        _rep_merge,
        lambda acc: F.struct(
            *_rep_finish(acc), _dup_line_frac(text).alias("dup_line_frac")
        ),
    )


def curation_signals_struct(text: Column, with_lang: bool = False) -> Column:
    """Every curate() text signal from ONE tokenize: ``q`` (the
    :func:`quality_struct` fields, plus the :func:`lang_id_expr` vote as
    ``lang`` when ``with_lang`` — its counters ride the quality aggregate,
    zero extra passes), ``rep`` (the repetition run-length fields) and
    ``dup_line_frac``. Built from the same pieces as the standalone
    functions; the fusion only removes the redundant re-tokenizations
    (3 splits per row → 1 on the default curation path)."""

    def _merge(acc: Column, t: Column) -> Column:
        fields = _quality_merge(acc, t)
        if with_lang:
            fields.append(_lang_merge(acc["hits"], t).alias("hits"))
        return F.struct(*fields)

    def _finish(acc: Column) -> Column:
        fields = _quality_finish(text, acc)
        if with_lang:
            fields.append(_lang_finish(acc["hits"]).alias("lang"))
        return F.struct(*fields)

    def _build(toks: Column) -> Column:
        init = _quality_init()
        if with_lang:
            init.append(_lang_init().alias("hits"))
        q = F.aggregate(toks, F.struct(*init), _merge, _finish)
        rep = F.aggregate(
            F.array_sort(toks),
            _rep_init(),
            _rep_merge,
            lambda acc: F.struct(*_rep_finish(acc)),
        )
        return F.struct(
            q.alias("q"), rep.alias("rep"), _dup_line_frac(text).alias("dup_line_frac")
        )

    return let_expr(_tokens(text), _build)


def dup_ngram_chars_struct(text: Column, n: int = 2) -> Column:
    """Gopher's duplicate-n-gram rule as ONE struct column: characters
    inside n-grams occurring more than once in the document, as a count and
    as a fraction of all n-gram characters. Integer-exact until the final
    division, so a SQL oracle reproduces it bit-for-bit.

    One tokenize (bound once via ``let_expr``), one sort, one aggregate
    pass over the sorted n-gram array — same linear shape as
    :func:`repetition_struct`."""

    def _merge(acc: Column, g: Column) -> Column:
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        # a run's 2nd occurrence retroactively counts the 1st too
        add = F.when(
            run >= 2,
            F.length(g)
            + F.when(run == 2, F.length(g)).otherwise(F.lit(0)),
        ).otherwise(F.lit(0))
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            (acc["dup"] + add).alias("dup"),
            (acc["total"] + F.length(g)).alias("total"),
        )

    def _finish(acc: Column) -> Column:
        return F.struct(
            acc["dup"].cast("bigint").alias("dup_ngram_chars"),
            F.when(
                acc["total"] > 0, acc["dup"] / acc["total"].cast("double")
            )
            .otherwise(F.lit(0.0))
            .alias("dup_ngram_frac"),
        )

    def _build(toks: Column) -> Column:
        from .exprs import zip_ngrams_expr

        return F.aggregate(
            F.array_sort(zip_ngrams_expr(toks, n)),
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("dup"),
                F.lit(0).alias("total"),
            ),
            _merge,
            _finish,
        )

    toks = _null_safe(
        F.filter(F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: t != "")
    )
    return let_expr(toks, _build)


def lang_id_expr(text: Column) -> Column:
    """Stopword-vote language ID heuristic over ``LANG_STOPWORDS``
    (en/es/de/fr/it/pt/nl, else 'und').

    Scores each language by stopword hit count; ties break by declaration
    order via a stable greatest-score argmax built from a sorted struct array.

    Tokenizes ONCE: a single ``split`` feeds one ``aggregate`` pass that
    accumulates all 7 per-language hit counters, and the argmax runs in the
    aggregate's finish lambda so the counter array is never fanned into
    multiple referencing expressions."""
    return F.aggregate(_tokens(text), _lang_init(), _lang_merge, _lang_finish)
