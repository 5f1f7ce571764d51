"""Real byte-pair-encoding token counting (GPT-2-style merges).

``functions/text.py::bpe_token_count`` counts GPT-2 *pre-tokenizer* pieces —
useful, but a training-data pipeline budgets in merged BPE tokens against a
vocab. This module supplies the missing half:

- :func:`train_merges` — a deterministic reference trainer (most-frequent
  adjacent pair per step; ties break to the lexicographically smallest pair).
  ``tools/train_bpe.py`` runs it once over the sf0.001 ``documents`` corpus
  and checks the resulting table into :mod:`.bpe_merges`.
- :func:`piece_token_count` — the production encoder: repeatedly merge every
  non-overlapping occurrence (left-to-right) of the lowest-ranked pair
  present, until no ranked pair remains. Token count = surviving symbols.
- :func:`reference_piece_count` — an independently-structured encoder (scan
  merges in rank order, restart after any application) used by the DuckDB
  oracle in ``__spark_entry__`` and pinned equivalent in tests. Same spec,
  different algorithm shape.
- :func:`bpe_count_expr` — the Spark column: pre-tokenize JVM-side with the
  proven ``BPE_TOKEN_RE`` (one codegen ``regexp_extract_all``), then ONE
  Arrow-batched ``pandas_udf`` applies the merge table. The merges travel in
  the UDF closure (a few KB — the broadcast-variable path adds nothing at
  this size and the closure survives executor re-imports, which module-level
  registries do not). Pieces are Zipfian, so a per-batch piece→count cache
  makes the merge loop amortized O(1) per occurrence.

Scale note (100 TB): the only Python stage is the Arrow-batched counter —
embarrassingly parallel, zero shuffles, linear in corpus bytes. A real
50k-merge GPT-2 table is ~0.5 MB; at that size swap the closure for
``spark.sparkContext.broadcast`` and the code is otherwise unchanged.

Reference parity: the reference repo has no tokenizer (its LLM calls are
remote, app/llm_matcher.py); this is part of the training-data-pipeline
extension surface (SURVEY.md §2, text analysis).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import BPE_TOKEN_RE

Pair = tuple[str, str]


# ------------------------------------------------------------------ trainer


def _merge_word(word: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    """Merge every non-overlapping (a, b) occurrence, left to right."""
    merged = a + b
    out: list[str] = []
    i, n = 0, len(word)
    while i < n:
        if i + 1 < n and word[i] == a and word[i + 1] == b:
            out.append(merged)
            i += 2
        else:
            out.append(word[i])
            i += 1
    return tuple(out)


def train_merges(
    piece_counts: dict[str, int] | Counter, n_merges: int = 256
) -> list[Pair]:
    """Deterministic BPE trainer over pre-token piece frequencies.

    Each step picks the most frequent adjacent symbol pair across the
    (weighted) corpus; ties break to the lexicographically smallest pair, so
    the table is reproducible across runs and machines. Stops early when no
    pair repeats.
    """
    words: dict[tuple[str, ...], int] = {}
    for piece, c in piece_counts.items():
        if len(piece) < 2:
            continue
        key = tuple(piece)
        words[key] = words.get(key, 0) + c

    merges: list[Pair] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for word, c in words.items():
            for i in range(len(word) - 1):
                pairs[(word[i], word[i + 1])] += c
        if not pairs:
            break
        best, best_n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best_n < 2:
            break
        merges.append(best)
        a, b = best
        new_words: dict[tuple[str, ...], int] = {}
        for word, c in words.items():
            w = _merge_word(word, a, b) if a in word else word
            if len(w) >= 2:
                new_words[w] = new_words.get(w, 0) + c
        words = new_words
    return merges


def train_merges_distributed(
    docs,
    text_col: str = "text",
    n_merges: int = 48,
    top_pieces: int | None = 1_000_000,
) -> list[Pair]:
    """Engine-native BPE training: piece counting is ONE Spark aggregate
    (codegen ``regexp_extract_all`` → explode → hash-agg with map-side
    partials — the only corpus-scale pass), and the deterministic merge
    loop runs driver-side over the DISTINCT-piece table, which is
    vocabulary-sized (Zipf: distinct pre-tokenizer pieces grow roughly
    with the square root of corpus size). ``top_pieces`` bounds the
    driver table the standard way BPE trainers do — keep the most frequent
    pieces (ties break on the piece string, so the cut is deterministic);
    rare singleton pieces contribute no merges anyway. Same output as
    :func:`train_merges` over exact counts when nothing is cut (pinned in
    tests against the checked-in table)."""
    from pyspark.sql import functions as F

    counts = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.coalesce(F.col(text_col), F.lit("")), F.lit(BPE_TOKEN_RE), 0
            )
        ).alias("piece")
    ).groupBy("piece").agg(F.count(F.lit(1)).alias("c"))
    if top_pieces is not None:
        counts = counts.orderBy(F.desc("c"), F.asc("piece")).limit(top_pieces)
    rows = counts.collect()
    return train_merges(Counter({r["piece"]: r["c"] for r in rows}), n_merges)


# ----------------------------------------------------------------- encoders


def merge_ranks(merges: Sequence[Pair]) -> dict[Pair, int]:
    return {tuple(p): i for i, p in enumerate(merges)}


def piece_token_count(piece: str, ranks: dict[Pair, int]) -> int:
    """Production encoder: repeatedly merge all occurrences of the
    lowest-ranked pair present (GPT-2 ``bpe()`` semantics); the count is the
    number of surviving symbols."""
    word: tuple[str, ...] = tuple(piece)
    while len(word) > 1:
        best_rank: int | None = None
        best: Pair | None = None
        prev = word[0]
        for sym in word[1:]:
            r = ranks.get((prev, sym))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best = r, (prev, sym)
            prev = sym
        if best is None:
            break
        word = _merge_word(word, best[0], best[1])
    return len(word)


def reference_piece_count(piece: str, merges: Sequence[Pair]) -> int:
    """Oracle twin of :func:`piece_token_count`, deliberately different in
    shape: scan the merge table in rank order, apply the first pair that
    occurs (all occurrences, left to right), restart the scan; stop when a
    full scan applies nothing. Selecting the first rank-ordered pair present
    IS selecting the lowest-ranked pair present, so the two encoders are
    spec-equivalent (property-pinned in tests/test_bpe.py)."""
    word: tuple[str, ...] = tuple(piece)
    applied = True
    while applied and len(word) > 1:
        applied = False
        for a, b in merges:
            w = _merge_word(word, a, b)
            if len(w) != len(word):
                word = w
                applied = True
                break
    return len(word)


# ------------------------------------------------------------------- vocab

#: id 0 is the OOV symbol: any surviving symbol outside the vocab (a rare
#: codepoint the trainer never saw) maps here, so every id stream is total.
UNK_ID = 0


def vocab_from_merges(merges: Sequence[Pair]) -> dict[str, int]:
    """Deterministic symbol→id table: id 0 = ``<unk>``, ids 1..95 the
    printable-ASCII base alphabet (chr(32)..chr(126) in codepoint order —
    fixed, engine- and data-independent), then one id per merge in rank
    order for the merged symbol. A merged string reachable through two
    merge paths keeps its FIRST id (ids depend only on the surviving
    symbol string, so encoders agree regardless of path)."""
    vocab: dict[str, int] = {}
    nxt = UNK_ID + 1
    for cp in range(32, 127):
        vocab[chr(cp)] = nxt
        nxt += 1
    for a, b in merges:
        s = a + b
        if s not in vocab:
            vocab[s] = nxt
        nxt += 1
    return vocab


def piece_token_ids(
    piece: str, ranks: dict[Pair, int], vocab: dict[str, int]
) -> list[int]:
    """Production id encoder: the same lowest-ranked-pair-first merge loop
    as :func:`piece_token_count`, then each surviving symbol looks up its
    vocab id (OOV → :data:`UNK_ID`). ``len(result)`` always equals
    :func:`piece_token_count`."""
    word: tuple[str, ...] = tuple(piece)
    while len(word) > 1:
        best_rank: int | None = None
        best: Pair | None = None
        prev = word[0]
        for sym in word[1:]:
            r = ranks.get((prev, sym))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best = r, (prev, sym)
            prev = sym
        if best is None:
            break
        word = _merge_word(word, best[0], best[1])
    return [vocab.get(s, UNK_ID) for s in word]


def reference_piece_ids(
    piece: str, merges: Sequence[Pair], vocab: dict[str, int]
) -> list[int]:
    """Oracle twin of :func:`piece_token_ids` built on the independently
    shaped :func:`reference_piece_count` loop (rank-order scan-and-restart);
    pinned equivalent in tests exactly like the count pair."""
    word: tuple[str, ...] = tuple(piece)
    applied = True
    while applied and len(word) > 1:
        applied = False
        for a, b in merges:
            w = _merge_word(word, a, b)
            if len(w) != len(word):
                word = w
                applied = True
                break
    return [vocab.get(s, UNK_ID) for s in word]


# -------------------------------------------------------------- Spark layer


def bpe_count_expr(text: Column, merges: Sequence[Pair]) -> Column:
    """Real-BPE token count column: JVM ``regexp_extract_all`` pre-tokenize
    (identical matches to the proven ``bpe_token_count`` pattern) feeding one
    Arrow-batched ``pandas_udf``. NULL text counts 0 (coalesced BEFORE the
    regex so both engines agree)."""
    from pyspark.sql.functions import pandas_udf

    ranks = merge_ranks(merges)

    @pandas_udf("long")
    def _count(pieces_s: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}
        out = []
        for pieces in pieces_s:
            if pieces is None:
                out.append(0)
                continue
            n = 0
            for p in pieces:
                c = cache.get(p)
                if c is None:
                    c = cache[p] = piece_token_count(p, ranks)
                n += c
            out.append(n)
        return pd.Series(out, dtype="int64")

    pieces = F.regexp_extract_all(
        F.coalesce(text, F.lit("")), F.lit(BPE_TOKEN_RE), 0
    )
    return _count(pieces)


def bpe_encode_expr(text: Column, merges: Sequence[Pair]) -> Column:
    """Real-BPE token-ID column (``array<int>``): the same JVM pre-tokenize
    as :func:`bpe_count_expr`, then one Arrow-batched ``pandas_udf`` encodes
    each piece to vocab ids (:func:`vocab_from_merges` fixes the id space)
    and concatenates per document. NULL text → empty array. The Zipfian
    piece→ids cache amortizes the merge loop exactly like the counter; the
    vocab+ranks travel in the closure (executor-reimport-safe).

    Scale note: embarrassingly parallel, zero shuffles, linear in corpus
    bytes — the one Python stage a 100 TB tokenization pass genuinely
    needs (a real tokenizer is per-piece Python/Rust work either way)."""
    from pyspark.sql.functions import pandas_udf

    ranks = merge_ranks(merges)
    vocab = vocab_from_merges(merges)

    @pandas_udf("array<int>")
    def _encode(pieces_s: pd.Series) -> pd.Series:
        cache: dict[str, list[int]] = {}
        out = []
        for pieces in pieces_s:
            if pieces is None:
                out.append([])
                continue
            ids: list[int] = []
            for p in pieces:
                got = cache.get(p)
                if got is None:
                    got = cache[p] = piece_token_ids(p, ranks, vocab)
                ids.extend(got)
            out.append(ids)
        return pd.Series(out)

    pieces = F.regexp_extract_all(
        F.coalesce(text, F.lit("")), F.lit(BPE_TOKEN_RE), 0
    )
    return _encode(pieces)


def bpe_decode_expr(ids: Column, merges: Sequence[Pair]) -> Column:
    """Inverse of :func:`bpe_encode_expr` up to pre-tokenization: vocab ids
    back to text via one symbol-table lookup per id — PURE codegen, no
    Python at all, in contrast to the encoder whose merge loop is
    inherently per-piece work. The table is a LITERAL array, so
    ConstantFolding collapses it to one constant (no let_expr binding —
    wrapping ``ids`` in an outer lambda would also break when ``ids`` is
    the encoder column expression itself: Spark forbids Python UDFs
    inside higher-order-function lambdas).

    Round-trips exactly on any text the GPT-2-style pre-tokenizer
    preserves (single-space word boundaries — pieces carry their leading
    space); multi-space runs and characters outside the printable-ASCII
    alphabet decode to what the encoder actually saw (<unk> → U+FFFD).
    decode(encode(x)) == concat(pretokenize(x)) ALWAYS — the contract the
    oracle checks corpus-wide."""
    vocab = vocab_from_merges(merges)
    syms = [""] * (max(vocab.values()) + 1)
    syms[UNK_ID] = "�"
    for s, i in vocab.items():
        syms[i] = s
    table = F.array(*[F.lit(s) for s in syms])
    # out-of-table ids coalesce to U+FFFD explicitly — array_join would
    # otherwise SKIP the NULL lookup and silently hide corrupt ids
    return F.array_join(
        F.transform(
            ids,
            lambda i: F.coalesce(F.try_element_at(table, i + 1), F.lit("�")),
        ),
        "",
    )
