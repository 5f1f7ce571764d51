"""Expression combinators.

``let_expr`` is the workhorse: Catalyst performs no common-subexpression
elimination across the branches of one expression tree (and a lambda body
re-evaluates every captured outer subtree per element), so an expensive
subexpression referenced N times costs N evaluations per row. Binding it
as a HOF lambda variable makes every reference an O(1) variable read:

    let_expr(tokens, lambda t: F.size(t) - F.size(F.array_distinct(t)))

evaluates ``tokens`` exactly once per row. This is the expression-level
analog of materializing a struct column in its own projection — use this
form when the value is consumed inside ONE column, the projection form
when several output columns share it.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let_expr(value: Column, body: Callable[[Column], Column]) -> Column:
    """Evaluate ``value`` once; ``body`` receives it as a lambda variable
    (free to reference any number of times). Implemented as
    ``transform(array(value), v -> body(v))[0]`` — the single-element
    array evaluates its child exactly once."""
    return F.try_element_at(F.transform(F.array(value), body), F.lit(1))


def _sql_str(v: str) -> str:
    """SQL text for the string ``v`` that parses to ``v`` under BOTH
    ``spark.sql.parser.escapedStringLiterals`` settings. The settings read
    only ``'`` and ``\\`` differently (with it on, ``'it''s'`` stays
    ``it''s``), so those two characters are emitted as ``chr(39)`` /
    ``chr(92)`` inside ``concat(...)``, which constant-folds to the same
    literal; every other value is one plain quoted literal."""
    if "'" not in v and "\\" not in v:
        return f"'{v}'"
    parts = re.split(r"(['\\])", v)
    return "concat(" + ", ".join(
        f"chr({ord(p)})" if p in ("'", "\\") else f"'{p}'" for p in parts if p
    ) + ")"


def str_array_lit(values) -> Column:
    """``array('a', 'b', ...)`` via ONE ``F.expr`` parse. The Column form
    (``F.array(*[F.lit(v) ...])``) pays a py4j round trip per element —
    ~0.2 s of plan-build for the ~190 stopword literals the text-quality
    expressions embed. Identical literal array."""
    body = ", ".join(_sql_str(v) for v in values)
    return F.expr(f"array({body})" if body else "cast(array() as array<string>)")


def int_array_lit(values) -> Column:
    """Integer-literal twin of :func:`str_array_lit`."""
    body = ", ".join(str(int(v)) for v in values)
    return F.expr(f"array({body})" if body else "cast(array() as array<int>)")


def zip_ngrams_expr(toks: Column, n: int) -> Column:
    """Word n-grams (space-joined, NON-distinct, in document order) from a
    token array, built as ONE transform over an index sequence with n
    array reads + one concat per gram. The previous n-way zip of shifted
    slices allocated n-1 slice copies plus an intermediate array per zip
    level; the index formulation measures ~35% faster on the interpreted
    HOF path (identical output — same grams, same order). Documents with
    fewer than n tokens yield an empty array. Shared by the dedup shingle
    path and the duplicate-n-gram signal so the two producers can never
    diverge."""

    def gram(i: Column) -> Column:
        parts: list[Column] = []
        for off in range(n):
            if off:
                parts.append(F.lit(" "))
            parts.append(toks[i + F.lit(off)])
        return F.concat(*parts)

    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(0), F.size(toks) - F.lit(n)), gram),
    ).otherwise(F.array().cast("array<string>"))
