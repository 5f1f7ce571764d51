"""Bloom-filter decontamination: memory-bounded exact n-gram membership.

``dedup.exact_ngram_collisions`` broadcasts the benchmark's DISTINCT
n-gram hash set — dimension-sized for normal eval suites, but a
mega-benchmark (or a blocklist of leaked documents) can outgrow a
comfortable broadcast. This tier replaces the broadcast SET with a
broadcast BLOOM FILTER of fixed size (default 2²⁰ bits = 128 KiB,
independent of benchmark size): corpus grams probe k bit positions in a
bitset of 64-bit words with pure codegen expressions, and only the docs
with a passing gram — the contamination candidates, a tiny fraction of
the corpus — reach the exact verification join.

Result-IDENTICAL to the exact tier by construction: a Bloom filter has no
false negatives (every true collision passes the probe), and the false
positives are removed by running ``exact_ngram_collisions`` on the
candidate subset. That identity is the contract oracle.

All hashing is the repo's engine-agnostic integer arithmetic: the 60-bit
md5 gram hash feeds k universal-hash probes ``(a·(h % M) + b) % M % m``
(the MinHash constants — a·h < 2⁶², exact in signed 64-bit on any
engine), so the same filter can be built and probed from SQL if needed.

Scale notes (100 TB): the filter build is one explode + distinct over the
BENCHMARK (small side) collected as ≤ m bit positions; the corpus-side
probe is a narrow per-row expression — k O(1) bitset-word lookups per
gram against a one-row broadcast ``array<long>`` column (never a plan
literal: >64 KiB string constants break Janino codegen, and substring
over a big hex string re-scans it per probe) — no join state, no
shuffle — followed by the existing candidate-bounded exact semi-join.
Size ``m_bits`` for the benchmark's distinct-gram count (k=3,
m ≈ 14·n_grams gives ~1% false positives; false positives cost verify
work, never correctness).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.dims import local_dim_df

from .dedup import _MINHASH_AB, MINHASH_MOD, _hashed_shingle_rows

BLOOM_M_BITS = 1 << 20
BLOOM_K = 3


def _probe_positions_expr(h: Column, m_bits: int, k: int) -> list[Column]:
    return [
        F.pmod(
            F.pmod(F.lit(a) * F.pmod(h, F.lit(MINHASH_MOD)) + F.lit(b), F.lit(MINHASH_MOD)),
            F.lit(m_bits),
        )
        for a, b in _MINHASH_AB[:k]
    ]


def bloom_positions(
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> list[int]:
    """Set bit positions of the benchmark's n-gram Bloom filter. One
    explode + distinct over the benchmark; positions collect driver-side
    (≤ m_bits ints)."""
    bh = _hashed_shingle_rows(benchmark, id_col, text_col, n).select("h").distinct()
    pos_rows = (
        bh.select(
            F.explode(F.array(*_probe_positions_expr(F.col("h"), m_bits, k))).alias("p")
        )
        .distinct()
        .collect()
    )
    return [int(r.p) for r in pos_rows]


def bloom_words(
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> list[int]:
    """The filter as m_bits/64 signed 64-bit bitset words (word i holds
    bits [64i, 64i+64); bit j of a word = position 64i+j) — the probe-side
    representation: an ``array<long>`` column probes in O(1) per lookup,
    where substring over a quarter-megabyte hex string is O(m) per probe
    AND a >64 KiB plan literal breaks whole-stage codegen (measured 10×
    end-to-end on the contract fixture)."""
    words = [0] * (m_bits // 64)
    for p in bloom_positions(benchmark, id_col, text_col, n, m_bits, k):
        words[p >> 6] |= 1 << (p & 63)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


# 64 single-bit masks as signed longs (bit 63 = Long.MIN_VALUE): shiftleft
# needs a literal shift amount, so probes index this array instead
_MASK64 = [
    (1 << j) if j < 63 else ((1 << 63) - (1 << 64)) for j in range(64)
]


def bloom_member_words_expr(
    h: Column, words: Column, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> Column:
    """True iff every probe bit of gram-hash ``h`` is set in the bitset
    ``words`` (an ``array<long>`` column, m_bits/64 elements): per probe,
    one O(1) element_at + one AND — whole-stage-codegen throughout."""
    mask64 = F.array(*[F.lit(m).cast("long") for m in _MASK64])
    cond = F.lit(True)
    for pos in _probe_positions_expr(h, m_bits, k):
        word = F.try_element_at(words, F.shiftright(pos, 6).cast("int") + 1)
        bit = F.try_element_at(mask64, pos.bitwiseAND(F.lit(63)).cast("int") + 1)
        cond = cond & (word.bitwiseAND(bit) != 0)
    return cond


def bloom_contamination_candidates(
    corpus: DataFrame,
    words: list[int],
    id_col: str,
    text_col: str,
    n: int = 13,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Corpus ids with ≥1 gram passing the Bloom probe — a SUPERSET of the
    truly contaminated ids (no false negatives), typically a tiny slice of
    the corpus. Narrow: explode → probe filter → distinct ids.

    ``words`` is the :func:`bloom_words` bitset. It travels as a ONE-ROW
    broadcast join, never as a plan literal: a 2²⁰-bit filter as a hex
    string literal is 256 KiB, past Java's 64 KiB string-constant limit,
    so Janino cannot compile the stage and the ENTIRE gram+md5+probe path
    silently drops out of whole-stage codegen; and it probes as
    ``array<long>`` words (O(1) element_at per probe — substring over a
    quarter-megabyte string re-scans it per probe, measured ~20× on the
    contract fixture)."""
    spark = corpus.sparkSession
    words_df = local_dim_df(spark, [(words,)], "_bloom_words array<long>")
    ch = _hashed_shingle_rows(corpus, id_col, text_col, n)
    return (
        ch.join(F.broadcast(words_df))
        .where(bloom_member_words_expr(F.col("h"), F.col("_bloom_words"), m_bits, k))
        .select(F.col("_id").alias(id_col))
        .distinct()
    )


def decontaminate_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Corpus rows with NO exact word n-gram collision against the
    benchmark — ``dedup.decontaminate_exact`` semantics, memory-bounded:
    the broadcast is a fixed-size bitmap, the exact verification join runs
    only over the Bloom candidates, and false positives are verified away
    (result-identical to the exact tier, pinned by test and oracle)."""
    from .dedup import exact_ngram_collisions

    words = bloom_words(benchmark, id_col, text_col, n, m_bits, k)
    cands = bloom_contamination_candidates(
        corpus, words, id_col, text_col, n, m_bits, k
    )
    # the verify join deliberately does NOT broadcast the benchmark gram
    # set (that's the memory bound this tier exists for): candidates are a
    # tiny corpus slice, so the hash-key shuffle join is small on both
    # sides. AQE broadcasts the candidate id set on its own when it fits.
    suspect = corpus.join(cands, id_col, "left_semi")
    contaminated = exact_ngram_collisions(
        suspect, benchmark, id_col, text_col, n, broadcast_benchmark=False
    )
    return corpus.join(contaminated, id_col, "left_anti")
