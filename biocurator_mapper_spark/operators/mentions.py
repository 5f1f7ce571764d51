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


def build_surface_map(terms: DataFrame, include_name: bool = True) -> DataFrame:
    """ontology terms → (surface, term_id, is_exact) dictionary relation.

    Surfaces are the term name plus every entry of ``all_synonyms``
    (duplicate-preserving source arrays collapse to distinct pairs here —
    a mention either links a term or it doesn't). Lowercased for the
    case-insensitive scan. ``is_exact`` marks surfaces that are the term's
    name or an exact synonym — precomputing it here lets the rerank stage
    score exactness without joining the terms table back in.
    """
    syn = terms.select(
        F.explode(F.col("all_synonyms")).alias("surface"),
        F.col("term_id"),
        F.col("name"),
        F.coalesce(F.col("exact_synonyms"), F.array().cast("array<string>")).alias(
            "_ex"
        ),
    )
    if include_name:
        syn = terms.select(
            F.col("name").alias("surface"),
            "term_id",
            F.col("name"),
            F.coalesce(F.col("exact_synonyms"), F.array().cast("array<string>")).alias(
                "_ex"
            ),
        ).unionByName(syn)
    return (
        syn.where(F.col("surface").isNotNull() & (F.col("surface") != ""))
        .select(
            F.lower(F.col("surface")).alias("surface"),
            "term_id",
            (
                (F.lower(F.col("surface")) == F.lower(F.col("name")))
                | F.array_contains(
                    F.transform(F.col("_ex"), lambda s: F.lower(s)),
                    F.lower(F.col("surface")),
                )
            ).alias("is_exact"),
        )
        .groupBy("surface", "term_id")
        .agg(F.max("is_exact").alias("is_exact"))
    )


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
    # dimension-sized by contract, so one single-stage collect + a set is
    # the same list for ~0.2 s less per build
    surfaces = sorted({r.surface for r in surface_map.select("surface").collect()})
    # under-partitioned input → the Python scan stage would serialize on
    # one task; a round-robin shuffle restores parallelism (no-op for
    # properly split inputs — the 100 TB case)
    from ..functions.partitions import estimated_source_partitions

    default_p = pages.sparkSession.sparkContext.defaultParallelism
    if estimated_source_partitions(pages) < max(default_p // 2, 1):
        pages = pages.repartition(default_p)
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
