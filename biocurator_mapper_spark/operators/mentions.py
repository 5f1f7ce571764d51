"""Mention detection: broadcast Aho-Corasick dictionary scan (SURVEY §2 J6).

The reference's recall stage embeds the whole passage and asks a vector store
for neighbors (``app/ontology_searcher.py:29-93``). At 10^12 documents recall
must come from a dictionary scan instead: every ontology surface form (name +
all synonyms, ``app/go_parser.py:7-40``) is compiled once on the driver into
an Aho-Corasick automaton, broadcast to executors, and streamed over each
document's text in O(len(text)) per doc — one narrow stage, no shuffle, no
per-pattern rescans.

Matching semantics: case-insensitive substring (all occurrences, reported as
the distinct set of surfaces per document). This is deliberately the same
relation as ``contains(lower(text), lower(surface))`` so the DuckDB oracle can
verify it in pure SQL.
"""

from __future__ import annotations

from collections import deque

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..functions.exprs import let_expr, str_array_lit


class AhoCorasick:
    """Minimal, picklable Aho-Corasick automaton (pure Python, no C deps).

    Built once on the driver (~O(total pattern chars)), shipped to executors
    via ``sparkContext.broadcast``. ``find_distinct`` returns the set of
    patterns occurring anywhere in the text (substring semantics).
    """

    def __init__(self, patterns: list[str]):
        # goto: list of dict(char -> state); fail: list[int]; out: list of
        # frozen pattern-index tuples flushed per state.
        self.patterns = sorted({p.lower() for p in patterns if p})
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[int]] = [[]]
        for idx, pat in enumerate(self.patterns):
            state = 0
            for ch in pat:
                nxt = self.goto[state].get(ch)
                if nxt is None:
                    nxt = len(self.goto)
                    self.goto[state][ch] = nxt
                    self.goto.append({})
                    self.out.append([])
                state = nxt
            self.out[state].append(idx)
        # BFS failure links
        self.fail = [0] * len(self.goto)
        q: deque[int] = deque()
        for s in self.goto[0].values():
            q.append(s)
        while q:
            r = q.popleft()
            for ch, s in self.goto[r].items():
                q.append(s)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[s] = self.goto[f].get(ch, 0) if self.goto[f].get(ch, 0) != s else 0
                self.out[s].extend(self.out[self.fail[s]])

    def find_distinct(self, text: str | None) -> list[str]:
        if not text:
            return []
        t = text.lower()
        state = 0
        hits: set[int] = set()
        goto, fail, out = self.goto, self.fail, self.out
        for ch in t:
            while state and ch not in goto[state]:
                state = fail[state]
            state = goto[state].get(ch, 0)
            if out[state]:
                hits.update(out[state])
        return sorted(self.patterns[i] for i in hits)


# Ontology-side relations up to this many rows are prepared on the driver
# with ONE bounded collect: every surface goes into one driver-built
# automaton (or codegen filter), so the surfaces have to reach the driver
# anyway. Full GO+DOID is ~60k terms (3x headroom); the cap also bounds
# what the collect hauls through py4j. Past it the collect raises.
DRIVER_TERMS_MAX = 200_000


def check_driver_rows(rows: list, what: str) -> list:
    """``rows`` unchanged, or ``ValueError`` past ``DRIVER_TERMS_MAX``."""
    if len(rows) > DRIVER_TERMS_MAX:
        raise ValueError(
            f"{what} exceeds DRIVER_TERMS_MAX={DRIVER_TERMS_MAX} rows: the "
            "ontology side is prepared on the driver"
        )
    return rows


def collect_driver_rows(df: DataFrame, what: str) -> list:
    """One bounded collect of a dimension-sized relation:
    ``limit(DRIVER_TERMS_MAX + 1)`` both sizes and fetches it."""
    return check_driver_rows(df.limit(DRIVER_TERMS_MAX + 1).collect(), what)


def surface_map_rows(term_rows: list) -> list[tuple[str, str, bool]]:
    """term rows → sorted distinct (surface, term_id, is_exact) rows.

    Rows need attribute access to ``term_id``, ``name``,
    ``exact_synonyms`` and ``all_synonyms``. Surfaces are the term name
    plus every entry of ``all_synonyms``, lowercased for the
    case-insensitive scan; null/empty surfaces are skipped. ``is_exact``
    marks surfaces that are the term's name or an exact synonym —
    precomputing it here lets the rerank stage score exactness without
    joining the terms table back in.
    """
    exact_of: dict[tuple[str, str], bool] = {}
    for r in term_rows:
        exact = {s.lower() for s in (r.exact_synonyms or []) if s}
        exact.add((r.name or "").lower())
        for s in [r.name, *(r.all_synonyms or [])]:
            if s:
                key = (s.lower(), r.term_id)
                exact_of[key] = exact_of.get(key, False) or key[0] in exact
    return [(s, t, e) for (s, t), e in sorted(exact_of.items())]


def broadcast_scanner(spark, surfaces: list[str]):
    """Broadcast-backed scanner factory shared by the standalone mention
    stage and the pipeline's fused page scan: returns a zero-arg callable
    (safe to call once per task) yielding ``find(text) -> sorted distinct
    surfaces`` from the broadcast pure-Python automaton."""
    bc = spark.sparkContext.broadcast(AhoCorasick(surfaces))
    return lambda: bc.value.find_distinct


# Dictionary size up to which the mention scan stays a pure JVM expression
# (N codegen `contains` probes per page) instead of the broadcast automaton
# (one Python boundary crossing + O(len) automaton walk). The expression
# path removes the ArrowEvalPython node outright; past ~this size the
# N-probe cost overtakes the automaton on long pages.
MENTION_EXPR_MAX_SURFACES = 64


def with_mentions(
    pages: DataFrame,
    surfaces: list[str],
    text_col: str = "extracted_text",
    out_col: str = "mentions",
) -> DataFrame:
    """+ mentions: array<string> of distinct dictionary surfaces in the text.

    Small dictionaries (≤ ``MENTION_EXPR_MAX_SURFACES``) scan with pure
    codegen: ``filter(sorted_surfaces, s -> contains(lower(text), s))`` —
    identical substring-match semantics and identical sorted-distinct
    output, zero Python boundary (the text lowercases ONCE via a let
    binding; a bare lambda capture would re-lower per surface).

    Larger dictionaries broadcast an automaton; the scan is an
    Arrow-batched pandas UDF (narrow — scales with input splits, zero
    shuffle) with identical match semantics.
    """
    patterns = sorted({p.lower() for p in surfaces if p})
    if not patterns:
        # empty dictionary: [] per row, typed like the automaton output
        return pages.withColumn(out_col, F.array().cast("array<string>"))
    if len(patterns) <= MENTION_EXPR_MAX_SURFACES:
        # the surface array is ONE F.expr parse (a Column literal per
        # surface pays a py4j round trip each — ~0.3 s of plan build at 64
        # surfaces); the text lowercases once via the let binding.
        # null text: contains(null, s) is null → filter drops every
        # element → [], matching the automaton's [] for None
        surface_arr = str_array_lit(patterns)
        expr = let_expr(
            F.lower(F.col(text_col)),
            lambda t: F.filter(surface_arr, lambda s: t.contains(s)),
        )
        return pages.withColumn(out_col, expr)

    spark = pages.sparkSession
    get_scanner = broadcast_scanner(spark, surfaces)

    @F.pandas_udf(ArrayType(StringType()))
    def _scan(texts: pd.Series) -> pd.Series:
        find = get_scanner()
        return texts.map(find)

    return pages.withColumn(out_col, _scan(F.col(text_col)))


def mention_candidates(
    pages: DataFrame,
    surface_map: DataFrame,
    text_col: str = "extracted_text",
) -> DataFrame:
    """pages → pages-columns + (mention, term_id, …) candidate rows.

    Explodes the per-doc mention array and resolves surfaces to candidate
    term ids with a **broadcast** equi-join against the dictionary relation
    (ontology-sized → always broadcastable; the corpus never shuffles).
    The automaton emits lowercased surfaces, so the dictionary side is
    lowercased here too — a hand-built surface_map with uppercase entries
    would otherwise silently lose every match.
    """
    surface_map = surface_map.withColumn("surface", F.lower(F.col("surface")))
    # dedupe DRIVER-side: .distinct() would add a shuffle job (32 tasks at
    # default shuffle partitions) to every plan build; the dictionary is
    # dimension-sized by contract, so one bounded collect + a set is the
    # same list for ~0.2 s less per build
    rows = collect_driver_rows(surface_map.select("surface"), "surface map")
    surfaces = sorted({r.surface for r in rows})
    # under-partitioned input → the Python scan stage would serialize on
    # one task; a round-robin shuffle restores parallelism (no-op for
    # properly split inputs — the 100 TB case)
    from ..functions.partitions import spread_partitions

    if n := spread_partitions(pages):
        pages = pages.repartition(n)
    # explode_OUTER: plain explode triggers InferFiltersFromGenerate, whose
    # size(mentions)>0 filter makes Catalyst extract the scan UDF TWICE
    # (the Aho-Corasick pass would run 2x per page). Zero-mention pages
    # become a null mention row here and are dropped by the INNER join
    # below — identical output, one scan.
    mentions = (
        with_mentions(pages, surfaces, text_col=text_col)
        .withColumn("mention", F.explode_outer("mentions"))
        .drop("mentions")
    )
    return mentions.join(
        F.broadcast(surface_map.withColumnRenamed("surface", "mention")),
        on="mention",
        how="inner",
    )
