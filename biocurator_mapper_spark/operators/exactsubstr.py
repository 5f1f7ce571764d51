"""Exact-substring dedup (the suffix-array-equivalent tier).

Lee et al. (2022, "Deduplicating Training Data Makes Language Models
Better") ExactSubstr: remove every substring of length >= L that occurs
more than once in the corpus, keeping one copy. Their single-node tool
builds a suffix array; the Spark-idiomatic equivalent built here is an
exact duplicated-L-gram POSITION index: every character position
contributes the 124-bit double-pair polynomial hash of its normalized
L-gram (one narrow Arrow stage, ~30 B/row — the same bytes-per-char order
as a suffix array), duplicated grams fall out of ONE hash aggregation
with map-side partials, and marked positions merge into maximal per-doc
spans with a per-doc window. A position is "covered" iff its L-gram
occurs at >= 2 distinct (doc, pos) sites; the globally-first occurrence
per gram (min (doc_id, pos)) is the kept copy — the corpus-wide
first-wins rule the other dedup tiers use.

Equivalence to the suffix-array formulation: a maximal repeated run of
length r >= L covers exactly the positions whose L-grams lie inside it,
and every such L-gram occurs >= 2 times — so merging covered positions
reconstructs the run precisely ([start, start + r)). Runs shorter than L
are invisible to both machineries by definition. Unlike the winnowing
candidate tier (``dedup.substring_dup_candidates``, complete only for
runs >= w + k - 1 and requiring a per-pair verify), this tier is exact AT
the threshold L and needs no verification: equal substrings always hash
equal, and unequal grams collide with probability ~n²/2¹²⁴ (the same
by-design argument as the paragraph tier's full-md5 keys).

Scale notes (100 TB): the position relation is the tier's inherent cost —
one row per normalized character, shuffled ONCE on the gram hash (Lee et
al.'s suffix array is likewise ~8 bytes/char of index). The duplicated-
gram aggregation uses groupBy (map-side combine collapses hot boilerplate
grams BEFORE the exchange) rather than a row_number window (whose hot-key
partitions cannot be split by AQE); the rows exchange is reused by the
marked-position join, so positions cross the wire once. Span merging
shuffles bare (id, pos) pairs for marked positions only.

Reference parity note: the reference app has no dedup at all (it maps one
passage at a time — /root/reference/app/models.py:7); this tier is part
of the training-data extension surface alongside the winnowing tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _norm_codes_np, _winnow_kgram_hashes_np

# Second, independent (base, modulus) pair — combined with the winnow
# tier's pair this keys every L-gram by ~124 bits. All moduli prime, all
# intermediates < 2⁵³ (numpy int64-exact; the oracle never re-derives the
# hashes — it groups by the gram STRINGS, an independent differential).
EXSUB_B3, EXSUB_M3 = 139, 2_147_483_587
EXSUB_B4, EXSUB_M4 = 149, 2_147_483_563
_COMBINE = 2_147_483_648  # 2³¹

# Unicode word-class normalization: any run of non-letter/non-digit
# codepoints collapses to one space, so CJK/Cyrillic/Greek corpora dedup
# for real instead of normalizing to near-empty strings (the r6 Latin-only
# class silently skipped them). Three equivalent spellings, one per
# engine: Java/RE2 `[^\p{L}\p{N}]+` (Spark regexp_replace + the DuckDB
# oracle), Python `[\W_]+` (\w = letters+digits+underscore; subtracting
# `_` leaves exactly letters+digits — combining marks and punctuation are
# separators in all three). L is measured in CODEPOINTS (numpy kernel,
# Spark substring, DuckDB substr all agree).
_NORM_SQL = r"[^\p{L}\p{N}]+"
_NORM_PY = r"[\W_]+"


def _norm_col(text: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(F.coalesce(text, F.lit(""))), _NORM_SQL, " "))


def dup_gram_positions(
    df: DataFrame, id_col: str, text_col: str, length: int = 50
) -> DataFrame:
    """(<id_col>, p, h1, h2) — one row per character position of the
    normalized text (1-based, positions 1..len-L+1), keyed by the two
    combined 62-bit polynomial hashes of the L-gram starting there. One
    Arrow-batched stage, vectorized per doc (2 × L shifted multiply-adds
    over the codepoint array — no per-position Python work)."""
    from ..functions.partitions import spread_partitions

    src = df.select(id_col, text_col)
    # under-split sources serialize the kernel on one task — widen the
    # RAW docs (narrow rows) before the per-char fan-out, per the
    # pre-explode rule (CLAUDE.md / BENCH.md round-4 note)
    if n := spread_partitions(df):
        src = src.repartition(n)

    id_field = src.schema[id_col]

    def _rows(it):
        import re

        import numpy as np
        import pandas as pd

        collapse = re.compile(_NORM_PY)
        for pdf in it:
            ids, ps, h1s, h2s = [], [], [], []
            for id_, t in zip(pdf[id_col], pdf[text_col]):
                s = collapse.sub(" ", (t or "").lower()).strip()
                m = len(s) - (length - 1)
                if m < 1:
                    continue
                codes = _norm_codes_np(s)
                h1 = _winnow_kgram_hashes_np(codes, length)
                h2 = _winnow_kgram_hashes_np(
                    codes, length, EXSUB_B3, EXSUB_M3, EXSUB_B4, EXSUB_M4
                )
                ids.append(np.full(m, id_, dtype=object))
                ps.append(np.arange(1, m + 1, dtype=np.int64))
                h1s.append(h1)
                h2s.append(h2)
            if not ids:
                continue
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(ids),
                    "p": np.concatenate(ps),
                    "h1": np.concatenate(h1s),
                    "h2": np.concatenate(h2s),
                }
            )

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField(id_col, id_field.dataType),
            StructField("p", LongType()),
            StructField("h1", LongType()),
            StructField("h2", LongType()),
        ]
    )
    return src.mapInPandas(_rows, schema)


def exact_substring_spans(
    df: DataFrame, id_col: str, text_col: str, length: int = 50
) -> DataFrame:
    """(<id_col>, span_start, span_end) — maximal normalized-text spans
    (1-based, end-exclusive) covered by duplicated L-grams, EXCLUDING each
    gram's globally-first occurrence (min (id, p)): the text ExactSubstr
    cuts, exactly, for every repeated run of length >= ``length``. Docs
    with no covered position emit no row.

    Plan: positions shuffle once on the gram hash (groupBy with map-side
    partials finds duplicated grams + their first occurrence; the join
    back rides the SAME exchange — ReusedExchange); marked positions then
    shuffle as bare (id, p) pairs for the per-doc interval merge (the
    gaps-and-islands window; the final groupBy reuses the id
    clustering)."""
    # one explicit exchange on the gram key: both consumers (the
    # duplicated-gram agg and the marked-position join) read THIS shuffle,
    # so the Arrow kernel's map side materializes once (ReusedExchange /
    # RDD-level stage skip) instead of hashing the corpus twice
    rows = dup_gram_positions(df, id_col, text_col, length).repartition(
        "h1", "h2"
    )

    winner = F.min(F.struct(F.col(id_col).alias("i"), F.col("p").alias("q")))
    grams = rows.groupBy("h1", "h2").agg(
        winner.alias("_w"), F.count(F.lit(1)).alias("_c")
    )
    marked = (
        rows.join(grams.where(F.col("_c") >= 2), ["h1", "h2"])
        .where((F.col(id_col) != F.col("_w.i")) | (F.col("p") != F.col("_w.q")))
        .select(id_col, "p")
    )

    w = Window.partitionBy(id_col).orderBy("p")
    lagp = F.lag("p").over(w)
    brk = F.when(lagp.isNull() | (F.col("p") - lagp > F.lit(length)), 1).otherwise(0)
    grp = F.sum(brk).over(w)  # running sum: island id per covered run
    return (
        marked.withColumn("_g", grp)
        .groupBy(id_col, "_g")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + F.lit(length)).alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def gram_state(
    df: DataFrame,
    id_col: str,
    text_col: str,
    length: int = 50,
    with_first: bool = False,
) -> DataFrame:
    """(h1, h2[, first_i]) — the DISTINCT L-gram keys of a corpus: the
    exact tier's durable state. One row per distinct gram (boilerplate
    collapses), so the store is a hash-agg reduction of the position
    relation; persist it bucketed on the keys
    (``sources.catalog.merge_upsert`` with ``key_cols=["h1", "h2"]``) and
    each increment MERGEs only its new grams.

    ``with_first=True`` adds the min contributor id per gram — the
    replay-safety column for the streaming sink: a stored gram does not
    mark positions of ITS OWN first contributor, so re-processing a batch
    against state that already contains its grams reproduces the original
    marks exactly (state inserts must then be first-writer-wins: anti-join
    the store before merging)."""
    rows = dup_gram_positions(df, id_col, text_col, length)
    if not with_first:
        return rows.select("h1", "h2").distinct()
    return rows.groupBy("h1", "h2").agg(F.min(id_col).alias("first_i"))


def incremental_substring_spans(
    new_docs: DataFrame,
    state: DataFrame,
    id_col: str,
    text_col: str,
    length: int = 50,
) -> DataFrame:
    """(<id_col>, span_start, span_end) for the INCREMENT only: spans of
    ``new_docs`` covered by L-grams that either exist in ``state`` (the
    stored corpus always wins — its copy is already kept) or repeat within
    the increment (first in-batch occurrence kept, exactly the batch
    min-(id,p) rule).

    Under monotone ingestion — every new id sorts after every stored id,
    the natural shape for crawl snapshots — this equals
    ``exact_substring_spans`` over (stored ∪ new) RESTRICTED to the new
    docs, exactly (differential-tested): a gram in both corpora has its
    global first occurrence in the store, and a gram only in the
    increment resolves first-occurrence within the batch. With
    interleaved ids the batch rule could instead keep a NEW doc's copy
    and cut a stored doc — this tier never rewrites stored docs, so the
    equivalence (not correctness) depends on the precondition, same
    contract as ``dedup.incremental_dedup``.

    Plan: only the increment is hashed (one Arrow stage over new docs);
    its position exchange is shared by the in-batch gram agg and the mark
    join; the state join is a bare-key hash join on (h1, h2) — at rest
    the store is bucketed on the same keys, so the exchange is one-sided.
    Nothing stored-corpus-sized is ever re-hashed."""
    rows = dup_gram_positions(new_docs, id_col, text_col, length).repartition(
        "h1", "h2"
    )
    winner = F.min(F.struct(F.col(id_col).alias("i"), F.col("p").alias("q")))
    grams = rows.groupBy("h1", "h2").agg(
        winner.alias("_w"), F.count(F.lit(1)).alias("_c")
    )
    # a state carrying first_i (gram_state(with_first=True)) never marks
    # its own first contributor — the streaming sink's replay-safety rule;
    # bare-key state marks every holder (the batch-ingest contract)
    if "first_i" in state.columns:
        stored = state.select(
            "h1", "h2", F.col("first_i").alias("_sf")
        ).withColumn("_s", F.lit(1))
        stored_hit = F.col("_s").isNotNull() & (
            F.col("_sf").isNull() | (F.col("_sf") != F.col(id_col))
        )
    else:
        stored = state.select("h1", "h2").withColumn("_s", F.lit(1))
        stored_hit = F.col("_s").isNotNull()
    not_first = (F.col(id_col) != F.col("_w.i")) | (F.col("p") != F.col("_w.q"))
    marked = (
        rows.join(grams, ["h1", "h2"])
        .join(stored, ["h1", "h2"], "left")
        .where(stored_hit | ((F.col("_c") >= 2) & not_first))
        .select(id_col, "p")
    )

    w = Window.partitionBy(id_col).orderBy("p")
    lagp = F.lag("p").over(w)
    brk = F.when(lagp.isNull() | (F.col("p") - lagp > F.lit(length)), 1).otherwise(0)
    grp = F.sum(brk).over(w)
    return (
        marked.withColumn("_g", grp)
        .groupBy(id_col, "_g")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + F.lit(length)).alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def cut_spans_by_range(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(<id_col>, text_cut, n_cut_chars) — the CUT step of the exact tier:
    every span's [start, end) range is removed from the NORMALIZED text,
    kept segments re-join on a single space with whitespace collapsed.
    Docs with no span pass through as their normalized text with
    n_cut_chars = 0. Spans are already non-overlapping (maximal-island
    output), so n_cut_chars = Σ (end − start). Plan: spans aggregate to
    one sorted array per doc, broadcast-joined onto the docs, and one
    Arrow stage applies the cuts."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    per_doc = spans.groupBy(F.col(id_col).alias("_cid")).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e")))
        ).alias("_spans")
    )

    def _cut_fn(texts, spans_s):
        import re

        import pandas as pd

        ws = re.compile(r" +")
        out_t, out_n = [], []
        for t, sps in zip(texts, spans_s):
            s = t or ""
            if sps is None or len(sps) == 0:
                out_t.append(s)
                out_n.append(0)
                continue
            pieces, prev, ncut = [], 1, 0
            for sp in list(sps):
                st, en = int(sp["s"]), int(sp["e"])
                pieces.append(s[prev - 1 : st - 1])
                ncut += en - st
                prev = en
            pieces.append(s[prev - 1 :])
            out_t.append(ws.sub(" ", " ".join(pieces)).strip())
            out_n.append(ncut)
        return pd.DataFrame({"text_cut": out_t, "n_cut_chars": out_n})

    _cut = pandas_udf(
        _cut_fn,
        StructType(
            [
                StructField("text_cut", StringType()),
                StructField("n_cut_chars", LongType()),
            ]
        ),
    )
    base = docs.select(F.col(id_col), _norm_col(F.col(text_col)).alias("_s"))
    per_doc = F.broadcast(per_doc)
    joined = base.join(per_doc, base[id_col] == per_doc["_cid"], "left")
    return joined.withColumn("_r", _cut(F.col("_s"), F.col("_spans"))).select(
        F.col(id_col),
        F.col("_r.text_cut").alias("text_cut"),
        F.col("_r.n_cut_chars").alias("n_cut_chars"),
    )
