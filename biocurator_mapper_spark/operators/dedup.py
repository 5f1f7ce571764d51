"""Deduplication operators for training-data pipelines.

Five families, each designed scale-first:

- exact: hash-groupBy on content (one shuffle, partial agg);
- fingerprint: exact after normalization (md5 of collapsed text);
- n-gram Jaccard: shingle explode + self-join on shingle, with a document-
  frequency cap on shingles (stop-shingle removal) so hub shingles never
  explode the join;
- MinHash + LSH: universal-hash permutations over ONE 60-bit md5-derived
  integer hash per shingle (integer arithmetic — engine-agnostic,
  SQL-oracle-checkable), banded into buckets, candidate pairs only within
  buckets (the 100 TB path: no all-pairs anywhere);
- SimHash: 48-bit sign-sum sketch, built entirely with higher-order
  functions (JVM codegen, no Python).

All functions are pure plan builders (no actions), except dedup_clusters
(connected components is iterative and must run jobs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------- tokenizing


def tokens_expr(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: t != "")


def shingles_expr(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined) of the named text
    column; docs shorter than n tokens yield their whole token string as
    the one shingle (so they can still pair with identical short docs),
    token-less docs yield [].

    ONE SQL string parsed in one ``F.expr`` call (~1 ms, where the
    equivalent Column construction paid ~30 py4j round trips, ~0.5 s of
    every fresh minhash plan build): the token array binds once via the
    single-element-array let (every reference would otherwise re-run the
    regex split + filter per row), one index-transform per gram, distinct.
    """
    q = "`" + text_col.replace("`", "``") + "`"
    grams = ", ' ', ".join(f"t[i + {off}]" for off in range(n))
    return F.expr(
        "try_element_at(transform(array("
        f"filter(split(lower({q}), '[^a-z0-9]+'), t -> t != '')"
        "), t -> array_distinct("
        f"CASE WHEN size(t) >= {n} THEN "
        f"transform(sequence(0, size(t) - {n}), i -> concat({grams})) "
        "WHEN size(t) > 0 THEN array(array_join(t, ' ')) "
        "ELSE cast(array() as array<string>) END)), 1)"
    )


# ------------------------------------------------------------- shingle hash

# 60-bit integer shingle hash: conv(first 15 hex chars of md5, 16, 10).
# Engine-agnostic — DuckDB computes the identical value with
# ('0x' || substr(md5(s), 1, 15))::BIGINT — and turns every downstream
# shuffle/join/intersect key from a ~30-byte string into one long.
MINHASH_MOD = 2147483647  # 2^31 - 1 (Mersenne prime)

# Fixed (a, b) universal-hash constants for the MinHash permutations
# h_i = (a_i * (h % MOD) + b_i) % MOD: ONE md5 per shingle feeds all 16
# signatures (the previous per-seed md5 scheme paid 16 md5s per shingle).
# a_i * h stays under 2^62, so 64-bit signed arithmetic is exact in both
# Spark and DuckDB. Generated once with random.Random(20260817).
_MINHASH_AB: list[tuple[int, int]] = [
    (2054730081, 1668083862),
    (1381560984, 71539990),
    (729512858, 133347923),
    (1473050824, 100270761),
    (1099550647, 283212492),
    (1181694378, 419802908),
    (1494373298, 318663385),
    (1945259633, 1367314271),
    (1382880978, 1593008560),
    (293948171, 2141913301),
    (1866669699, 352195579),
    (315686227, 1118610135),
    (1934400445, 1216675730),
    (963302574, 1005947103),
    (166792497, 2019800082),
    (1378874568, 613864793),
]


def shingle_hash_expr(shingle: Column) -> Column:
    """60-bit integer hash of a shingle string (see MINHASH_MOD note)."""
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long")


def _hashed_shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(_id, h) rows — one 60-bit hash per distinct shingle per doc.

    explode_OUTER + isNotNull on the GENERATED attribute: plain explode
    triggers InferFiltersFromGenerate, whose size() > 0 filter re-evaluates
    the whole shingle HOF chain per row (alias substitution pushes it below
    the projection). Shingle-less docs become one null row, dropped here.

    Under-partitioned sources (one small parquet split) get TWO round-robin
    exchanges: the raw docs spread first so tokenize/shingle/md5 run on
    every core, and the hashed rows (one long per row) re-spread after so
    every consumer subtree reads one materialized evaluation via stage
    skipping. Well-partitioned 100 TB inputs skip both — consumers then
    re-evaluate the chain in parallel rather than shuffle corpus-scale
    shingle rows.
    """
    from ..functions.partitions import estimated_source_partitions

    spark = df.sparkSession
    default_p = spark.sparkContext.defaultParallelism
    under = estimated_source_partitions(df) < max(default_p // 2, 1)
    if under:
        # FIRST spread the raw docs (tiny rows): tokenize + shingle + md5
        # then run on every core instead of serializing on the map side of
        # a post-explode exchange (measured 2× on the hashing stage)
        df = df.select(id_col, text_col).repartition(default_p)
    rows = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode_outer(shingles_expr(text_col, n)).alias("shingle"),
        )
        .where(F.col("shingle").isNotNull())
        .select("_id", shingle_hash_expr(F.col("shingle")).alias("h"))
    )
    if under:
        # second (narrow-width: one long per row) exchange = the reuse
        # point — every consumer subtree (join sides, sizes, hot list,
        # sigs, sets) reads the materialized hashed rows instead of
        # re-evaluating the shingle HOF chain. HASH-partitioned by _id,
        # not round-robin: the per-doc aggregates above (signature mins,
        # shingle sets, sizes) then need NO further exchange, where
        # round-robin left them a near-useless partial agg (measured:
        # 2.6M rows partially reduced only to 1.2M — every task holds
        # almost every doc — then a 39 MB minima exchange plus a 124 MB
        # partial-collect_list object exchange; hash partitioning removed
        # both and cut dedup_minhash_lsh 3.9 → 2.1 s at sf1.0).
        # Well-partitioned 100 TB inputs skip both exchanges: consumers
        # re-evaluate in parallel rather than shuffle corpus-scale
        # shingle rows.
        rows = rows.repartition(default_p, F.col("_id"))
    return rows


# ------------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, id_col: str, content_cols: list[str]) -> DataFrame:
    """One representative (min id) per exact content group + dup count."""
    return df.groupBy(*content_cols).agg(
        F.min(id_col).alias("representative_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def fingerprint_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on the normalized-content fingerprint."""
    from ..functions.text import doc_fingerprint

    return (
        df.withColumn("fingerprint", doc_fingerprint(F.col(text_col)))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# --------------------------------------------------------------- n-gram Jaccard


DEFAULT_MAX_SHINGLE_DF = 256


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    size_prefilter: bool = True,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard ≥ threshold.

    Plan: explode distinct shingles → drop shingles whose doc frequency
    exceeds ``max_shingle_df`` (hub shingles contribute O(df²) candidate
    pairs and little signal; on a web corpus one boilerplate shingle can be
    millions-deep, so the cap is ON by default — pass None to disable) →
    self-join on shingle → count intersections → join per-doc sizes →
    Jaccard filter. Intersection counting is a hash aggregate with
    map-side partial combine. Prefer ``minhash_lsh_pairs`` when the corpus
    is large enough that even capped exact intersection counting is wide.

    ``size_prefilter``: Jaccard ≥ t needs inter/union ≥ t, and since
    inter ≤ min(|A|,|B|) and union ≥ max(|A|,|B|), min/max ≥ t is a
    NECESSARY condition — so per-doc sizes broadcast onto both sides of the
    shingle self-join let mismatched-size pairs die BEFORE the intersection
    aggregate (the plan's one wide shuffle). The pruning is conservative
    (t is a representable double and x ≥ t ⟹ fl(x) ≥ t, so no qualifying
    pair is dropped); results are identical with it on or off (pinned in
    tests). The broadcast side is one (id, size) long-pair per doc — fine
    into the tens of millions of docs; past that pass False (the plan
    reverts to post-aggregate filtering) or use ``minhash_lsh_pairs``,
    which is the intended tier at that scale anyway.
    """
    # Hashed shingle rows (_id, h): the 60-bit integer hash replaces the
    # shingle string in every downstream shuffle/join — the self-join key,
    # the hot-shingle aggregate and the intersection count all run over
    # longs. This plan consumes `sh` from four subtrees (a/b/sizes/hot) —
    # the round-robin exchange inside _hashed_shingle_rows materializes
    # once and the scheduler SKIPS its map side for every later consumer
    # (verified: the map stage completes once, then numCompletedTasks=0),
    # so the shingle HOF expressions run ONCE instead of per consumer.
    sh = _hashed_shingle_rows(df, id_col, text_col, n)
    if max_shingle_df is not None:
        hot = sh.groupBy("h").agg(F.count(F.lit(1)).alias("_df")).where(
            F.col("_df") > max_shingle_df
        )
        sh = sh.join(F.broadcast(hot.select("h")), "h", "left_anti")
    # sizes AFTER the cap: Jaccard is then exact over the retained shingle
    # sets (pre-cap sizes would deflate scores and let identical docs with
    # many hub shingles escape the threshold)
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    sizes_a = sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_sz", "_sza")
    sizes_b = sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_sz", "_szb")
    a = sh.withColumnRenamed("_id", "id_a")
    b = sh.withColumnRenamed("_id", "id_b")
    if size_prefilter:
        # sizes ride along on the self-join inputs (broadcast hash probes,
        # no extra shuffle) so the ratio test prunes pre-aggregate rows
        a = a.join(F.broadcast(sizes_a), "id_a")
        b = b.join(F.broadcast(sizes_b), "id_b")
        pair_cond = (F.col("id_a") < F.col("id_b")) & (
            F.least("_sza", "_szb").cast("double")
            / F.greatest("_sza", "_szb").cast("double")
            >= F.lit(float(threshold))
        )
    else:
        pair_cond = F.col("id_a") < F.col("id_b")
    inter = (
        a.join(b, "h")
        .where(pair_cond)
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("_inter"),
            *(
                [F.first("_sza").alias("_sza"), F.first("_szb").alias("_szb")]
                if size_prefilter
                else []
            ),
        )
    )
    if not size_prefilter:
        inter = inter.join(sizes_a, "id_a").join(sizes_b, "id_b")
    out = (
        inter.withColumn(
            "jaccard",
            F.col("_inter")
            / (F.col("_sza") + F.col("_szb") - F.col("_inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ------------------------------------------------------------------ MinHash


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate pairs sharing ≥1 LSH band, verified with exact Jaccard.

    Scale path — the classic explode → hash-aggregate formulation:

    1. explode distinct shingles to (id, h) rows — ONE md5 per shingle,
       reduced to a 60-bit integer; all 16 signature minima are integer
       universal-hash permutations of it inside one hash aggregate with
       map-side partial mins (array-expression formulations re-evaluate the
       whole shingle tree per signature column; at 5k docs that was already
       20× slower, and it only gets worse with size);
    2. band the 16 mins into ``bands`` concat keys, explode to (id, band) rows;
    3. bucket self-join on (band_no, band_val) — only full-band agreement
       pairs up, no all-pairs product;
    4. exact Jaccard verification joins the candidate ids back to their
       shingle sets (computed once per side).
    """
    # signatures/bands/sets come from the shared helper (see
    # _banded_signatures): the 16 md5s/shingle run once in the partial-agg
    # stage after an adaptive round-robin split fix, and the exact-verify
    # shingle SETS are rebuilt from the already-shuffled exploded rows
    # (the scheduler skips the materialized shuffle map stage on reuse)
    # instead of re-evaluating the HOF chain per side.
    banded, sets = _banded_signatures(df, id_col, text_col, n, num_hashes, bands)
    cands = (
        banded.alias("a")
        .join(banded.alias("b"), ["band_no", "band_val"])
        .where(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    sa = sets.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"))
    sb = sets.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    union = F.size("_sha") + F.size("_shb") - inter
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.when(union > 0, inter / union.cast("double")).otherwise(F.lit(0.0)),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def cross_minhash_pairs_flagged(
    df: DataFrame,
    id_col: str,
    text_col: str,
    flag_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """``cross_minhash_pairs`` when corpus and benchmark live in ONE
    relation (``flag_col`` boolean marks benchmark rows — the usual shape
    when both sit in the same catalog table tagged by source): signatures
    are built ONCE over the union, halving the explode+md5+agg work vs
    splitting first, and the flag rejoins as a bare (id, bool) relation —
    one narrow exchange instead of a second corpus-wide signature build.
    Result-identical to splitting first (signatures are per-doc).
    ``id_col`` must be unique per row (the family's standing contract)."""
    flags = df.select(
        F.col(id_col).alias("_id"), F.col(flag_col).cast("boolean").alias("_bm")
    )
    banded, sets = _banded_signatures(df, id_col, text_col, n, num_hashes, bands)
    banded = banded.join(flags, "_id")
    sets = sets.join(flags, "_id")
    bm = F.col("_bm")
    cands = (
        banded.where(~bm)
        .select("_id", "band_no", "band_val")
        .join(
            banded.where(bm).select(
                F.col("_id").alias("_bid"), "band_no", "band_val"
            ),
            ["band_no", "band_val"],
        )
        .select(F.col("_id").alias("corpus_id"), F.col("_bid").alias("benchmark_id"))
        .distinct()
    )
    sa = sets.where(~bm).select(F.col("_id").alias("corpus_id"), F.col("_sh").alias("_sha"))
    sb = sets.where(bm).select(F.col("_id").alias("benchmark_id"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    union = F.size("_sha") + F.size("_shb") - inter
    return (
        cands.join(sa, "corpus_id")
        .join(sb, "benchmark_id")
        .withColumn(
            "jaccard",
            F.when(union > 0, inter / union.cast("double")).otherwise(F.lit(0.0)),
        )
        .where(F.col("jaccard") >= threshold)
        .select("corpus_id", "benchmark_id", "jaccard")
    )


def _minhash_sig_aggs(num_hashes: int) -> list[Column]:
    """The 16 universal-hash permutation minima as aggregate columns over
    the ``hm`` column — THE single definition of the signature scheme,
    shared by the in-flight LSH family and the stored signature_state so
    catalog-persisted signatures can never drift from fresh ones."""
    # one-parse F.expr per aggregate: the Column form costs ~8 py4j round
    # trips each (~0.15 s of plan build over 16 permutations); the SQL
    # parses to the same ((a * hm) + b) % MOD tree
    return [
        F.expr(f"min((({a} * hm) + {b}) % {MINHASH_MOD})").alias(f"mh_{i}")
        for i, (a, b) in enumerate(_MINHASH_AB[:num_hashes])
    ]


def _band_key_cols(num_hashes: int, bands: int) -> list[Column]:
    """Band keys (base-10 '|'-concat of each band's minima) over the mh_i
    columns — the shared band-layout definition (see _minhash_sig_aggs)."""
    rows_per_band = num_hashes // bands
    return [
        F.expr(
            "concat_ws('|', "
            + ", ".join(
                f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
            )
            + ")"
        ).alias(f"band_{b}")
        for b in range(bands)
    ]


def _banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
) -> tuple[DataFrame, DataFrame]:
    """(banded(_id, band_no, band_val), sets(_id, _sh)) for one corpus —
    the shared explode→hash-agg signature path of the LSH family."""
    # (_id, h) hashed shingle rows — ONE md5 per shingle; the 16 signature
    # minima and the exact-verify sets are both integer aggregates over
    # these rows (the previous per-seed-md5 scheme paid 16 md5s/shingle
    # and shuffled shingle STRINGS; this shuffles one long per row). The
    # two groupBy(_id) aggregates hash-partition the same child subtree, so
    # the second is a ReusedExchange / skipped map stage.
    exploded = _hashed_shingle_rows(df, id_col, text_col, n)
    hm = (F.col("h") % MINHASH_MOD).alias("hm")
    sigs = exploded.select("_id", hm).groupBy("_id").agg(
        *_minhash_sig_aggs(num_hashes)
    )
    # band key: plain base-10 concat of the band's minima (both engines
    # render integers identically; no md5 compression needed)
    banded = sigs.select("_id", *_band_key_cols(num_hashes, bands)).select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_no"), F.col(f"band_{b}").alias("band_val"))
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("_id", F.col("band.band_no"), F.col("band.band_val"))
    # exact-verify sets carry the full 60-bit hashes (31-bit minima would
    # start colliding at web-scale set sizes)
    sets = exploded.groupBy("_id").agg(F.collect_list("h").alias("_sh"))
    return banded, sets


def cross_minhash_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """(corpus_id, benchmark_id, jaccard) pairs ACROSS two corpora with
    Jaccard ≥ threshold — the train/eval decontamination primitive. Same
    banded-LSH shape as ``minhash_lsh_pairs`` (identical seeds, so signatures
    agree across the two sides), but the candidate join pairs corpus bands
    against benchmark bands only: cost scales with band collisions, never
    |corpus| × |benchmark|."""
    ba, sa = _banded_signatures(corpus, id_col, text_col, n, num_hashes, bands)
    bb, sb = _banded_signatures(benchmark, id_col, text_col, n, num_hashes, bands)
    cands = (
        ba.join(bb.withColumnRenamed("_id", "_bid"), ["band_no", "band_val"])
        .select(F.col("_id").alias("corpus_id"), F.col("_bid").alias("benchmark_id"))
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    union = F.size("_sha") + F.size("_shb") - inter
    return (
        cands.join(sa.select(F.col("_id").alias("corpus_id"), F.col("_sh").alias("_sha")), "corpus_id")
        .join(sb.select(F.col("_id").alias("benchmark_id"), F.col("_sh").alias("_shb")), "benchmark_id")
        .withColumn(
            "jaccard",
            F.when(union > 0, inter / union.cast("double")).otherwise(F.lit(0.0)),
        )
        .where(F.col("jaccard") >= threshold)
        .select("corpus_id", "benchmark_id", "jaccard")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Corpus rows that are NOT near-duplicates of any benchmark document
    (train/test contamination removal): cross-LSH pairs → anti-join."""
    contaminated = cross_minhash_pairs(
        corpus, benchmark, id_col, text_col, n=n, num_hashes=num_hashes,
        bands=bands, threshold=threshold,
    ).select(F.col("corpus_id").alias(id_col)).distinct()
    return corpus.join(contaminated, id_col, "left_anti")


def exact_ngram_collisions(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Corpus ids sharing ≥1 exact word n-gram with any benchmark doc —
    the GPT-3/PaLM-style exact-collision contamination rule (a training doc
    is contaminated on ANY 13-gram collision with an eval doc; docs shorter
    than n words contribute their whole token string, so short exact
    copies still collide).

    Plan: both sides explode to (id, h) 60-bit n-gram-hash rows; the
    benchmark side is distinct-ed and BROADCAST by default (eval suites
    are dimension-sized next to a training corpus), so the corpus side
    stays narrow — a broadcast semi-join then one distinct on bare ids.
    Nothing corpus-sized ever shuffles except contaminated ids. Pass
    ``broadcast_benchmark=False`` for an oversized benchmark: the semi-
    join becomes a hash-key shuffle (longs only, still never text)."""
    ch = _hashed_shingle_rows(corpus, id_col, text_col, n)
    bh = _hashed_shingle_rows(benchmark, id_col, text_col, n).select("h").distinct()
    if broadcast_benchmark:
        bh = F.broadcast(bh)
    return (
        ch.join(bh, "h", "left_semi")
        .select(F.col("_id").alias(id_col))
        .distinct()
    )


def decontaminate_exact(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Corpus rows with NO exact word n-gram collision against the
    benchmark corpus (the decontamination variant most eval pipelines
    specify, vs the MinHash near-dup rule in ``decontaminate``)."""
    contaminated = exact_ngram_collisions(corpus, benchmark, id_col, text_col, n)
    return corpus.join(contaminated, id_col, "left_anti")


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Duplicate-cluster assignment: near-dup pairs (MinHash-LSH candidates
    verified at exact Jaccard ≥ threshold) → connected components → every
    doc mapped to its cluster representative (min id). The standard
    dedup-keep-one step of a training-data pipeline: filter
    ``is_duplicate`` to drop non-representatives.

    Pair generation is the LSH path (banded buckets, no all-pairs-on-shared-
    shingle join) — the 100 TB-safe default; raise ``bands`` to trade
    compute for recall near the threshold.

    NOT a pure plan builder: connected components is iterative, so calling
    this runs jobs. Integer ids must be non-negative (representatives are
    chosen by order-preserving zero-padding; negative values would compare
    wrongly).
    """
    from .canonicalize import clusters_from_pairs

    pairs = minhash_lsh_pairs(
        df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands,
        threshold=threshold,
    )
    return clusters_from_pairs(df, pairs, id_col)


def ngram_frequencies(
    df: DataFrame, text_col: str, n: int = 2, top: int = 100
) -> DataFrame:
    """Corpus-level top-N n-gram document frequencies (distinct per doc) —
    the vocabulary/stop-shingle profiling step of a data pipeline. One
    explode + one hash aggregate + a bounded ordered limit."""
    sh = df.select(
        F.explode_outer(shingles_expr(text_col, n)).alias("ngram")
    ).where(F.col("ngram").isNotNull())
    return (
        sh.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("ngram"))
        .limit(top)
    )


# ------------------------------------------------------------------ SimHash

SIMHASH_BITS = 48


def simhash_expr(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """Sign-sum SimHash over token md5s, as one aggregate over the token
    array (whole-stage codegen; no UDF). Returns a bigint sketch."""
    toks = F.array_distinct(tokens_expr(text))
    # token hash: first 12 hex chars of md5 → 48-bit bigint, computed ONCE
    # per token (HOF expressions get no CSE — instantiating the md5 inside
    # the 48-element bit comprehension would hash every token 48x)
    th = lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long")  # noqa: E731
    hashed = F.transform(toks, th)
    zero = F.array(*[F.lit(0) for _ in range(bits)])
    # bit positions are static → unrolled with Python ints (shiftright
    # requires a literal shift amount)
    sums = F.aggregate(
        hashed,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                    ).otherwise(F.lit(-1))
                    for b in range(bits)
                ]
            ),
            lambda x, y: x + y,
        ),
    )
    weights = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    return F.aggregate(
        F.zip_with(
            sums, weights, lambda s, w: F.when(s > 0, w).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def hamming64_expr(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash ≤ max_hamming, using the block-permutation
    trick: split the sketch into ``blocks`` chunks — any pair within distance
    max_hamming < blocks must agree on ≥1 chunk, so the self-join keys on
    (chunk_no, chunk_value) instead of all pairs."""
    if max_hamming >= blocks:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < blocks ({blocks}); the "
            "pigeonhole recall guarantee needs one agreeing chunk"
        )
    width = bits // blocks
    mask = (1 << width) - 1
    s = df.select(F.col(id_col).alias("_id"), simhash_expr(F.col(text_col), bits).alias("sim"))
    chunks = s.select(
        "_id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_no"),
                        F.shiftright(F.col("sim"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk_val"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("c"),
    ).select("_id", "sim", F.col("c.chunk_no"), F.col("c.chunk_val"))
    a = chunks.select("chunk_no", "chunk_val", F.col("_id").alias("id_a"), F.col("sim").alias("_sa"))
    b = chunks.select("chunk_no", "chunk_val", F.col("_id").alias("id_b"), F.col("sim").alias("_sb"))
    return (
        a.join(b, ["chunk_no", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64_expr(F.col("_sa"), F.col("_sb")).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------------- paragraph dedup


def paragraph_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style corpus-wide paragraph dedup: split each document into
    paragraphs, keep only the FIRST occurrence (ordered by (id, position))
    of each normalized paragraph fingerprint anywhere in the corpus, and
    reassemble the surviving paragraphs in original order.

    Returns (id, text_dedup, n_paragraphs, n_kept) for EVERY input doc —
    blank-paragraph-only and null-text docs come back with empty text and
    zero counts; intra-doc repeats keep only their first instance (CCNet's
    behavior for boilerplate lines).

    Plan shape: posexplode → fingerprint → one hash aggregate keyed on the
    fingerprint (min (id, idx) winner — map-side partial min) → join back
    on the fingerprint (the exploded relation is one exchange, reused by
    the winner aggregate, the rejoin, and the per-doc totals) → one per-doc
    aggregate to reassemble. Keys are md5 hex strings, not truncated longs:
    a 60-bit key would spuriously collide (and silently DROP paragraphs)
    at web-scale paragraph counts — correctness over key width here, unlike
    the candidate-generation tiers where collisions only cost verify work.
    """
    paras = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.posexplode(
                # re.escape: F.split takes a REGEX, but sep is a literal
                # (reassembly uses array_join's literal semantics) — an
                # unescaped '.' or '|' separator would explode per char
                F.split(
                    F.coalesce(F.col(text_col), F.lit("")),
                    __import__("re").escape(sep),
                )
            ).alias("_idx", "_para"),
        )
        .where(F.trim(F.col("_para")) != "")
        .withColumn(
            "_fp",
            F.md5(
                F.trim(
                    F.regexp_replace(F.lower(F.col("_para")), r"[^a-z0-9]+", " ")
                )
            ),
        )
    )
    # under-partitioned-source valve (same rule as _hashed_shingle_rows):
    # spread exploded paragraph rows so the three consumer subtrees read one
    # parallel materialization; well-split inputs skip it
    from ..functions.partitions import estimated_source_partitions

    spark = docs.sparkSession
    default_p = spark.sparkContext.defaultParallelism
    if estimated_source_partitions(docs) < max(default_p // 2, 1):
        paras = paras.repartition(default_p)
    first = paras.groupBy("_fp").agg(
        F.min(F.struct(F.col("_id"), F.col("_idx"))).alias("_first")
    )
    kept = paras.join(first, "_fp").where(
        (F.col("_first._id") == F.col("_id"))
        & (F.col("_first._idx") == F.col("_idx"))
    )
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_para"))),
                lambda x: x["_para"],
            ),
            sep,
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = paras.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_paragraphs")
    )
    return (
        docs.select(F.col(id_col).alias("_id"))
        .join(totals, "_id", "left")
        .join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
            F.coalesce(F.col("n_paragraphs"), F.lit(0)).cast("bigint").alias(
                "n_paragraphs"
            ),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


def paragraph_dedup_text(
    docs: DataFrame, id_col: str, text_col: str, sep: str = "\n"
) -> DataFrame:
    """``docs`` with ``text_col`` REPLACED by its paragraph-deduped form —
    the one canonical "rewrite text through the corpus-wide paragraph
    dedup" step (CLI ``curate --paragraph-dedup`` and the example job both
    use this instead of re-implementing the join/rename dance)."""
    deduped = paragraph_dedup(docs, id_col, text_col, sep=sep).select(
        id_col, F.col("text_dedup")
    )
    return (
        docs.drop(text_col)
        .join(deduped, id_col)
        .withColumnRenamed("text_dedup", text_col)
    )


# ---------------------------------------------------- incremental dedup


def signature_state(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, _bands array<string>, _sh array<long>) — each document's LSH
    state (band keys in band order + the exact-verify 60-bit hash set),
    compacted to ONE catalog row per doc. Store it next to the curated
    corpus (e.g. ``ParquetCatalog.merge_upsert`` keyed on the id) so later
    increments dedup against the store WITHOUT re-hashing history.
    Identical seeds/keys to ``minhash_lsh_pairs`` BY CONSTRUCTION — the
    signature aggregate and band layout come from the same
    ``_minhash_sig_aggs`` / ``_band_key_cols`` helpers the in-flight path
    uses, so stored and fresh signatures can never drift."""
    exploded = _hashed_shingle_rows(df, id_col, text_col, n)
    hm = (F.col("h") % MINHASH_MOD).alias("hm")
    sigs = exploded.select("_id", hm).groupBy("_id").agg(
        *_minhash_sig_aggs(num_hashes)
    )
    band_arr = F.array(*_band_key_cols(num_hashes, bands))
    sets = exploded.groupBy("_id").agg(F.collect_list("h").alias("_sh"))
    return (
        sigs.select("_id", band_arr.alias("_bands"))
        .join(sets, "_id")
        .select(F.col("_id").alias(id_col), "_bands", "_sh")
    )


def incremental_dedup(
    new_docs: DataFrame,
    state: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """(kept_new_docs, kept_new_state) — dedup an INCREMENT against the
    stored corpus without re-hashing history (the production shape: per
    batch, only the batch is shingled/hashed; the store contributes its
    saved band keys and hash sets).

    Greedy first-wins rule: a new doc is dropped iff it is a verified
    near-duplicate (Jaccard ≥ threshold over the exact hash sets) of an
    EARLIER-id doc — stored or within the same increment — i.e. precisely
    the batch LSH pairs (a, b) with a < b restricted to drops that are
    executable (b ∈ increment). EQUIVALENCE CONTRACT: the result equals
    the batch formulation over the full corpus iff every increment's ids
    sort after all stored ids (monotone ingestion — the natural shape for
    url/timestamp/sequence ids, and what the contract query's oracle
    replays). With non-monotone ids the batch rule would drop a STORED
    doc, which an increment cannot do; this function then keeps the new
    doc too (per-pair a<b first-wins, never a silent wrong drop).
    Candidates come only from band collisions (new×stored and new×new);
    nothing is all-pairs. Merge ``kept_new_state`` into the store (e.g.
    catalog MERGE keyed on the id) to complete the increment."""
    new_state = signature_state(
        new_docs, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands
    )
    # localCheckpoint: kept_new_state is new_state minus drops, and both
    # the band explode and the verify sets consume it — freeze the
    # increment's (small) state once instead of re-hashing per consumer
    new_state = new_state.localCheckpoint(eager=False)

    def _explode_bands(st: DataFrame, out_id: str) -> DataFrame:
        return st.select(
            F.col(id_col).alias(out_id),
            F.posexplode("_bands").alias("band_no", "band_val"),
        )

    nb = _explode_bands(new_state, "_nid")
    ob = _explode_bands(state, "_oid")
    ns = new_state.select(F.col(id_col).alias("_nid"), F.col("_sh").alias("_shn"))
    os_ = state.select(F.col(id_col).alias("_oid"), F.col("_sh").alias("_sho"))

    def _verified(cands: DataFrame, other_sets: DataFrame, other_id: str, other_sh: str) -> DataFrame:
        inter = F.size(F.array_intersect(F.col("_shn"), F.col(other_sh)))
        union = F.size("_shn") + F.size(other_sh) - inter
        return (
            cands.join(ns, "_nid")
            .join(other_sets, other_id)
            .where(
                F.when(union > 0, inter / union.cast("double")).otherwise(F.lit(0.0))
                >= F.lit(float(threshold))
            )
            .select("_nid")
        )

    cross = (
        nb.join(ob, ["band_no", "band_val"])
        # batch a<b rule: only an EARLIER-id stored doc can drop a new
        # one (under monotone ingestion this keeps every cross pair)
        .where(F.col("_oid") < F.col("_nid"))
        .select("_nid", "_oid")
        .distinct()
    )
    nb2 = nb.select(
        F.col("_nid").alias("_nid2"), "band_no", "band_val"
    )
    within = (
        nb.join(nb2, ["band_no", "band_val"])
        .where(F.col("_nid2") < F.col("_nid"))
        .select("_nid", "_nid2")
        .distinct()
    )
    ns2 = ns.select(F.col("_nid").alias("_nid2"), F.col("_shn").alias("_shn2"))
    dropped = (
        _verified(cross, os_, "_oid", "_sho")
        .union(_verified(within, ns2, "_nid2", "_shn2"))
        .distinct()
        .select(F.col("_nid").alias(id_col))
    )
    kept = new_docs.join(dropped, id_col, "left_anti")
    kept_state = new_state.join(dropped, id_col, "left_anti")
    return kept, kept_state


# --------------------------------------------------- winnowing / substring

# The winnowing tier's k-gram hash: a DOUBLE 31-bit polynomial hash
# combined into one < 2⁶² long (h₁·2³¹ + h₂, each hᵢ = foldₗ₍ᵣ
# (acc·Bᵢ + codepoint) mod Mᵢ starting from 0). Every fold step keeps
# acc·B + c < 2³⁹, so signed 64-bit arithmetic is exact in Spark
# expressions, DuckDB SQL, and numpy alike — and unlike the md5-per-
# position scheme it vectorizes: the Arrow kernel computes all positions
# with k shifted multiply-adds over the codepoint array instead of one
# Python-level hashlib call per character (the suite's former cost
# leader). Collisions only ever ADD candidate pairs (verified exactly
# downstream); equal substrings always hash equal, so the completeness
# guarantee is untouched.
WINNOW_B1, WINNOW_M1 = 131, 2_147_483_647
WINNOW_B2, WINNOW_M2 = 137, 2_147_483_629
_WINNOW_COMBINE = 2_147_483_648  # 2³¹


def winnow_anchors_expr(text: Column, k: int = 20, w: int = 30) -> Column:
    """Winnowed fingerprint anchors of the normalized text — the MOSS /
    exact-substring-dedup scheme: hash every character ``k``-gram, then in
    every window of ``w`` consecutive k-gram hashes keep the minimum;
    distinct kept hashes are the document's anchors.

    GUARANTEE (Schleimer et al., SIGMOD'03): two documents sharing any
    normalized substring of length ≥ w + k − 1 share at least one anchor
    VALUE — so anchor-bucket collisions are a complete candidate generator
    for exact repeated spans of that length, the tier word-shingle MinHash
    cannot see (it detects whole-document similarity, not a long common
    run inside otherwise-different docs).

    Expression shape: one normalize, one k-gram polynomial-hash array
    (O(k) fold per position, bound once via let_expr), one windowed-min
    pass (slice+array_min per window — O(n·w) expression work, fine at
    contract scale and ORACLE-REPLICABLE in SQL; the production path is
    :func:`winnow_anchor_rows_arrow`'s vectorized numpy kernel, pinned
    value-identical in tests). Docs shorter than k chars yield no anchors;
    docs with < w k-grams yield one anchor (min of all their hashes)."""
    from ..functions.exprs import let_expr

    def _poly_hash(s: Column, i: Column) -> Column:
        def fold(b: int, mod: int) -> Column:
            return F.aggregate(
                F.sequence(F.lit(0), F.lit(k - 1)),
                F.lit(0).cast("long"),
                lambda acc, j: (acc * F.lit(b) + F.ascii(s.substr(i + j, F.lit(1))))
                % F.lit(mod),
            )

        return fold(WINNOW_B1, WINNOW_M1) * F.lit(_WINNOW_COMBINE) + fold(
            WINNOW_B2, WINNOW_M2
        )

    def _with_s(s: Column) -> Column:
        n = F.length(s)
        m = n - F.lit(k - 1)  # k-gram count

        def _with_hashes(hs: Column) -> Column:
            nh = F.size(hs)
            windows = F.transform(
                F.sequence(F.lit(1), nh - F.lit(w - 1)),
                lambda j: F.array_min(F.slice(hs, j, w)),
            )
            return F.when(nh >= w, F.array_distinct(windows)).otherwise(
                F.when(
                    nh >= 1, F.array(F.array_min(hs))
                ).otherwise(F.array().cast("array<long>"))
            )

        hashes = F.transform(
            F.sequence(F.lit(1), F.greatest(m, F.lit(0))),
            lambda i: _poly_hash(s, i),
        )
        return F.when(m >= 1, let_expr(hashes, _with_hashes)).otherwise(
            F.array().cast("array<long>")
        )

    s = F.trim(F.regexp_replace(F.lower(F.coalesce(text, F.lit(""))), "[^a-z0-9]+", " "))
    return let_expr(s, _with_s)


def substring_dup_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    w: int = 30,
    max_anchor_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    use_arrow: bool = True,
) -> DataFrame:
    """(id_a, id_b, n_shared_anchors) — pairs of documents sharing ≥ 1
    winnowed anchor, i.e. the COMPLETE candidate set for exact shared
    normalized substrings of length ≥ w + k − 1 characters (boilerplate
    licences, templated footers, lifted passages). The verify/cut step —
    extracting the actual shared spans — is per-pair work downstream;
    this relation is the scale-critical part.

    ``use_arrow`` (default) computes anchors in one Arrow-batched stage
    with an O(n) rolling deque; False takes the pure-expression form
    (O(n·w) slice-mins — the SQL-oracle-shaped twin, value-identical,
    pinned in tests). Same safety valves as the shingle family: hub
    anchors past ``max_anchor_df`` are dropped (a site-wide footer would
    otherwise contribute O(df²) pairs), and the anchor rows repartition
    when the source is under-split."""
    from ..functions.partitions import estimated_source_partitions

    spark = df.sparkSession
    if use_arrow:
        rows = winnow_anchor_rows_arrow(df, id_col, text_col, k, w)
    else:
        rows = df.select(
            F.col(id_col).alias("_id"),
            F.explode_outer(winnow_anchors_expr(F.col(text_col), k, w)).alias("a"),
        ).where(F.col("a").isNotNull())
    default_p = spark.sparkContext.defaultParallelism
    if estimated_source_partitions(df) < max(default_p // 2, 1):
        rows = rows.repartition(default_p)
    if max_anchor_df is not None:
        hot = (
            rows.groupBy("a")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_anchor_df)
        )
        rows = rows.join(F.broadcast(hot.select("a")), "a", "left_anti")
    a = rows.withColumnRenamed("_id", "id_a")
    b = rows.withColumnRenamed("_id", "id_b")
    return (
        a.join(b, "a")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_anchors"))
    )


def _winnow_kgram_hashes_np(
    codes,
    k: int,
    b1: int = WINNOW_B1,
    m1: int = WINNOW_M1,
    b2: int = WINNOW_B2,
    m2: int = WINNOW_M2,
):
    """Vectorized k-gram hash array: for each position i, the combined
    double polynomial hash of codes[i : i+k]. k shifted multiply-adds over
    the whole codepoint array replace a per-position Python hash call —
    the fold (acc·B + c) mod M equals the shifted sum Σ c_j · B^(k−1−j)
    mod M, computed here with a mod per step so every intermediate stays
    < 2⁵³ regardless of k. The (base, modulus) pairs default to the winnow
    tier's constants; the exact-substring tier passes its independent
    second pair (``operators/exactsubstr.py``)."""
    import numpy as np

    m = codes.shape[0] - k + 1
    h1 = np.zeros(m, dtype=np.int64)
    h2 = np.zeros(m, dtype=np.int64)
    for j in range(k):
        pw1 = pow(b1, k - 1 - j, m1)
        pw2 = pow(b2, k - 1 - j, m2)
        win = codes[j : j + m]
        h1 = (h1 + pw1 * win) % m1
        h2 = (h2 + pw2 * win) % m2
    return h1 * _WINNOW_COMBINE + h2


def _sliding_min_np(a, w: int):
    """Length n−w+1 rolling minimum over windows of ``w`` — the O(n)
    block prefix/suffix-min formulation (two ``minimum.accumulate``
    passes), no Python-level loop."""
    import numpy as np

    n = a.shape[0]
    nb = -(-n // w)
    pad = nb * w - n
    big = np.iinfo(np.int64).max
    ap = np.concatenate([a, np.full(pad, big, dtype=np.int64)]) if pad else a
    blocks = ap.reshape(nb, w)
    pref = np.minimum.accumulate(blocks, axis=1).ravel()
    suff = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.minimum(suff[: n - w + 1], pref[w - 1 : n])


def winnow_anchors_py(s: str, k: int = 20, w: int = 30) -> list[int]:
    """Vectorized twin of :func:`winnow_anchors_expr` over an ALREADY
    normalized string: same double-polynomial k-gram hashes, same windowed
    minima — all in numpy (hash array via k shifted multiply-adds, rolling
    min via the block accumulate trick), no per-character Python work.
    Returns the distinct anchor SET (sorted); the implementations are
    pinned value-equal in tests."""
    import numpy as np

    n = len(s)
    m = n - (k - 1)
    if m < 1:
        return []
    raw = s.encode()
    if len(raw) == n:  # pure-ASCII fast path (normalized text always is)
        codes = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
    else:  # arbitrary codepoints, matching Spark/DuckDB ascii()
        codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(
            np.int64
        )
    hashes = _winnow_kgram_hashes_np(codes, k)
    if m < w:
        return [int(hashes.min())]
    mins = np.unique(_sliding_min_np(hashes, w))
    return [int(x) for x in mins]


def winnow_anchor_rows_arrow(
    df: DataFrame, id_col: str, text_col: str, k: int = 20, w: int = 30
) -> DataFrame:
    """(_id, a) anchor rows via ONE Arrow-batched stage — the 100 TB path
    (linear per char; the expression form pays O(n·w) slice-mins). Values
    identical to exploding :func:`winnow_anchors_expr`."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    # no type hints: `pd` is not a module global here and the hint checker
    # would reject the unresolvable strings (same note as score_with_model)
    def _anchors_fn(texts):
        import re

        import pandas as pd

        collapse = re.compile(r"[^a-z0-9]+")
        out = []
        for t in texts:
            s = collapse.sub(" ", (t or "").lower()).strip()
            out.append(winnow_anchors_py(s, k, w))
        return pd.Series(out)

    _anchors = pandas_udf(_anchors_fn, ArrayType(LongType()))

    return df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(_anchors(F.col(text_col))).alias("a"),
    ).where(F.col("a").isNotNull())


def _norm_codes_np(s: str):
    """Codepoint array of an already-normalized string (ASCII fast path,
    exact codepoints otherwise — matching Spark/DuckDB ``ascii()``)."""
    import numpy as np

    raw = s.encode()
    if len(raw) == len(s):
        return np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
    return np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)


def anchor_occurrences_py(s: str, k: int = 20, w: int = 30):
    """(values, positions) of EVERY occurrence of every winnow-anchor value
    in the normalized string ``s`` — the seed table for anchor-seeded span
    extension. All-occurrence (not just window-selected) positions matter:
    the two copies of a shared run may window-select DIFFERENT occurrences
    of the same k-gram, and only the full occurrence lists are guaranteed
    to contain an ALIGNED (same content offset) seed pair. Sparse: ~2n/w
    entries per doc plus repeats, vs the n-long hash array."""
    import numpy as np

    n = len(s)
    m = n - (k - 1)
    if m < 1:
        e = np.empty(0, dtype=np.int64)
        return e, e.astype(np.int32)
    codes = _norm_codes_np(s)
    hashes = _winnow_kgram_hashes_np(codes, k)
    if m < w:
        anchors = hashes.min(keepdims=True)
    else:
        anchors = np.unique(_sliding_min_np(hashes, w))
    mask = np.isin(hashes, anchors)
    poss = np.nonzero(mask)[0].astype(np.int32)
    return hashes[poss], poss


# per-(value, doc) occurrence cap and per-pair seed budget for the
# anchor-seeded extension: only wildly repetitive text (one k-gram
# repeating > _SEED_CAP times per doc) can exceed them, at the cost of
# possibly seeding a shorter-than-maximal span there — the exact-DP
# fallback stays available via use_anchors=False / small pairs.
_SEED_CAP = 64
_SEED_BUDGET = 100_000


def match_span_anchor_seeded_py(
    sa: str,
    sb: str,
    occ_a,
    occ_b,
    k: int = 20,
) -> tuple[int, int, int]:
    """(start_a, start_b, length) of the longest shared substring found by
    extending aligned shared-anchor seeds — O(shared anchors + span chars)
    instead of the O(n·m) DP. EXACT for any shared run ≥ w + k − 1 chars
    (the winnowing guarantee puts an aligned seed pair inside every such
    run); ties break to the smallest start_a, then start_b. Seeds sharing
    a diagonal are extended once (later seeds inside an already-extended
    run are skipped), and extension compares chunked numpy slices, not
    per-char Python."""
    import numpy as np

    ca = _norm_codes_np(sa)
    cb = _norm_codes_np(sb)
    va, pa = occ_a
    vb, pb = occ_b
    da: dict = {}
    for v, p in zip(va.tolist(), pa.tolist()):
        l = da.get(v)
        if l is None:
            da[v] = l = []
        if len(l) < _SEED_CAP:
            l.append(p)
    db: dict = {}
    for v, p in zip(vb.tolist(), pb.tolist()):
        l = db.get(v)
        if l is None:
            db[v] = l = []
        if len(l) < _SEED_CAP:
            l.append(p)

    seeds: dict = {}  # diagonal -> [start_a, ...]
    n_seeds = 0
    for v, xs in da.items():
        ys = db.get(v)
        if ys is None:
            continue
        for x in xs:
            for y in ys:
                seeds.setdefault(x - y, []).append(x)
                n_seeds += 1
            if n_seeds > _SEED_BUDGET:
                break
        if n_seeds > _SEED_BUDGET:
            break

    CH = 4096
    best_len, best_a, best_b = 0, -1, -1
    for d in sorted(seeds):
        xs = sorted(set(seeds[d]))
        covered = -1
        for x in xs:
            y = x - d
            if x + k - 1 <= covered:
                continue  # inside the run already extended on this diagonal
            if not np.array_equal(ca[x : x + k], cb[y : y + k]):
                continue  # 62-bit hash collision — not a real match
            i, j = x + k, y + k
            while True:  # chunked right extension
                L = min(ca.shape[0] - i, cb.shape[0] - j, CH)
                if L <= 0:
                    break
                neq = ca[i : i + L] != cb[j : j + L]
                t = int(neq.argmax()) if neq.any() else L
                i += t
                j += t
                if t < L:
                    break
            i2, j2 = x, y
            while True:  # chunked left extension
                L = min(i2, j2, CH)
                if L <= 0:
                    break
                neq = ca[i2 - L : i2][::-1] != cb[j2 - L : j2][::-1]
                t = int(neq.argmax()) if neq.any() else L
                i2 -= t
                j2 -= t
                if t < L:
                    break
            covered = i - 1
            ln = i - i2
            if ln > best_len or (
                ln == best_len and (i2, j2) < (best_a, best_b)
            ):
                best_len, best_a, best_b = ln, i2, j2
    return best_a, best_b, best_len


def longest_common_substring_py(a: str, b: str) -> str:
    """Longest common substring via the classic rolling-row DP (O(len(a)·
    len(b)) time, O(min) memory). Ties break to the earliest start in
    ``a``. The per-pair verify kernel for the winnowing tier."""
    if not a or not b:
        return ""
    if len(b) > len(a):
        # DP rows sized by the shorter string; result substring of a —
        # LCS-of-strings is symmetric so swapping is safe
        a, b = b, a
    best_len, best_end = 0, 0
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        ai = a[i - 1]
        for j in range(1, len(b) + 1):
            if ai == b[j - 1]:
                v = prev[j - 1] + 1
                cur[j] = v
                if v > best_len:
                    best_len, best_end = v, i
        prev = cur
    return a[best_end - best_len : best_end]


def substring_dup_spans(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 49,
    k: int = 20,
    w: int = 30,
    use_anchors: bool | None = None,
    dp_small: int = 0,
) -> DataFrame:
    """(id_a, id_b, span_len, span) — the VERIFY step of the exact-substring
    tier: for each candidate pair (from :func:`substring_dup_candidates`),
    the longest shared NORMALIZED substring, kept when ≥ ``min_len``.

    Two kernels. The default (``use_anchors=None`` → auto) is
    ANCHOR-SEEDED extension when ``min_len ≥ w + k − 1``: each doc's
    winnow-anchor occurrence table (sparse, ~2n/w entries) is computed
    once per doc in one Arrow stage, pairs join those tables, and shared
    anchors seed aligned matches extended with chunked numpy compares —
    O(span chars) per pair, exact for every span the filter can keep
    (the winnowing guarantee puts an aligned seed in every shared run
    ≥ w+k−1; a 200 KB book-length dup pair costs ~the span length, not
    the 10¹⁰-char DP — and a doc shorter than w+k−1 chars cannot contain
    a keepable span, so NO pair needs the DP in the guarantee regime).
    ``min_len`` below the guarantee threshold takes the exact O(n·m) DP,
    as does ``use_anchors=False`` everywhere (the oracle-shaped twin) and
    pairs of combined length < ``dp_small`` (opt-in belt-and-braces;
    default 0 — at ~5 ms per 300-char pair the DP costs ~70× the seeded
    kernel, and a web corpus is DOMINATED by such pairs).

    Scale shape: texts/occurrence tables join onto the (already small)
    candidate pair relation — broadcast-or-shuffle hash joins keyed on
    bare ids; pair count is the winnowing tier's output (bounded by the
    anchor-DF cap), never corpus²."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    if use_anchors is None:
        use_anchors = min_len >= w + k - 1

    norm = F.trim(
        F.regexp_replace(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z0-9]+", " ")
    )
    span_schema = StructType(
        [
            StructField("span_len", LongType()),
            StructField("span", StringType()),
        ]
    )

    if not use_anchors:
        texts = docs.select(F.col(id_col).alias("_tid"), norm.alias("_s"))

        def _lcs_fn(a_s, b_s):
            import pandas as pd

            spans = [
                longest_common_substring_py(x or "", y or "")
                for x, y in zip(a_s, b_s)
            ]
            return pd.DataFrame(
                {"span_len": [len(s) for s in spans], "span": spans}
            )

        _lcs = pandas_udf(_lcs_fn, span_schema)
        joined = (
            pairs.select("id_a", "id_b")
            .join(texts.select(F.col("_tid").alias("id_a"), F.col("_s").alias("_sa")), "id_a")
            .join(texts.select(F.col("_tid").alias("id_b"), F.col("_s").alias("_sb")), "id_b")
        )
        out = joined.withColumn("_r", _lcs(F.col("_sa"), F.col("_sb"))).select(
            "id_a",
            "id_b",
            F.col("_r.span_len").alias("span_len"),
            F.col("_r.span").alias("span"),
        )
        return out.where(F.col("span_len") >= min_len)

    # ---- anchor-seeded path: one occurrence-table stage per doc ----
    ids = (
        pairs.select(F.col("id_a").alias("_tid"))
        .union(pairs.select(F.col("id_b").alias("_tid")))
        .distinct()
    )
    texts = docs.select(F.col(id_col).alias("_tid"), norm.alias("_s")).join(
        ids, "_tid", "left_semi"
    )

    occ_schema = StructType(
        [
            StructField("vals", ArrayType(LongType())),
            StructField("poss", ArrayType(IntegerType())),
        ]
    )

    def _occ_fn(texts_s):
        import pandas as pd

        vs, ps = [], []
        for t in texts_s:
            v, p = anchor_occurrences_py(t or "", k, w)
            vs.append(v)
            ps.append(p)
        return pd.DataFrame({"vals": vs, "poss": ps})

    _occ = pandas_udf(_occ_fn, occ_schema)
    # struct built in one projection, fields fanned out in a SEPARATE one
    # (CollapseProject keeps the UDF evaluated once — CLAUDE.md pattern)
    tocc = texts.withColumn("_o", _occ(F.col("_s"))).select(
        "_tid", "_s", F.col("_o.vals").alias("_v"), F.col("_o.poss").alias("_p")
    )

    def _seeded_fn(a_s, av, ap, b_s, bv, bp):
        import numpy as np
        import pandas as pd

        lens, spans = [], []
        for sa, va, pa, sb, vb, pb in zip(a_s, av, ap, b_s, bv, bp):
            sa = sa or ""
            sb = sb or ""
            if len(sa) + len(sb) < dp_small:
                sp = longest_common_substring_py(sa, sb)
                lens.append(len(sp))
                spans.append(sp)
                continue
            occ_a = (np.asarray(va, np.int64), np.asarray(pa, np.int64))
            occ_b = (np.asarray(vb, np.int64), np.asarray(pb, np.int64))
            a0, _, ln = match_span_anchor_seeded_py(sa, sb, occ_a, occ_b, k)
            lens.append(ln)
            spans.append(sa[a0 : a0 + ln] if ln > 0 else "")
        return pd.DataFrame({"span_len": lens, "span": spans})

    _seeded = pandas_udf(_seeded_fn, span_schema)
    # the pair relation is tiny in BYTES (AQE would coalesce it onto one
    # task) but each row carries Python work — spread it across the cores
    default_p = docs.sparkSession.sparkContext.defaultParallelism
    joined = (
        pairs.select("id_a", "id_b")
        .repartition(default_p)
        .join(
            tocc.select(
                F.col("_tid").alias("id_a"),
                F.col("_s").alias("_sa"),
                F.col("_v").alias("_va"),
                F.col("_p").alias("_pa"),
            ),
            "id_a",
        )
        .join(
            tocc.select(
                F.col("_tid").alias("id_b"),
                F.col("_s").alias("_sb"),
                F.col("_v").alias("_vb"),
                F.col("_p").alias("_pb"),
            ),
            "id_b",
        )
    )
    out = joined.withColumn(
        "_r",
        _seeded(
            F.col("_sa"), F.col("_va"), F.col("_pa"),
            F.col("_sb"), F.col("_vb"), F.col("_pb"),
        ),
    ).select(
        "id_a",
        "id_b",
        F.col("_r.span_len").alias("span_len"),
        F.col("_r.span").alias("span"),
    )
    return out.where(F.col("span_len") >= min_len)


def cut_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    broadcast_spans: bool = True,
) -> DataFrame:
    """(id, text_cut, n_cut_chars) — the CUT step closing the
    exact-substring tier (Lee et al.'s ExactSubstr dedup removes the
    repeated span, not the whole document): every verified span from
    :func:`substring_dup_spans` is removed from the LATER document
    (``id_b``) at its first occurrence, the earlier document keeps its
    copy — the same corpus-wide first-wins rule the other tiers use.
    Documents appearing in no pair pass through untouched.

    Cuts apply to the NORMALIZED text (what the spans were found in), in
    deterministic order (longest span first, then id_a) so overlapping
    spans resolve identically on every run; removed spans are replaced by
    a single space and whitespace re-collapsed. Plan: spans aggregate to
    one array per id_b (they are pair-bounded), broadcast-joined onto the
    docs, one Arrow stage applies the cuts. If a corpus ever produced a
    GB-scale span relation, pass ``broadcast_spans=False``: the join
    becomes an ordinary shuffle hash join on the doc id (same valve
    pattern as ``decontaminate_exact``'s oversized-benchmark path) with
    identical output."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    per_doc = spans.groupBy(F.col("id_b").alias("_cid")).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("span_len")).alias("_neg"),
                        F.col("id_a").alias("_a"),
                        F.col("span").alias("_sp"),
                    )
                )
            ),
            lambda x: x["_sp"],
        ).alias("_cuts")
    )
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z0-9]+", " "
        )
    )

    def _cut_fn(texts, cuts_s):
        import re

        import pandas as pd

        ws = re.compile(r"\s+")
        out_t, out_n = [], []
        for t, cuts in zip(texts, cuts_s):
            s = t or ""
            before = len(s)
            # cuts arrives as a numpy array (Arrow list column) — `cuts
            # or []` truth-tests the array and raises for len >= 2
            for sp in [] if cuts is None else list(cuts):
                if sp:
                    s = s.replace(sp, " ", 1)
            s = ws.sub(" ", s).strip()
            out_t.append(s)
            out_n.append(before - len(s))
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
    base = docs.select(F.col(id_col), norm.alias("_s"))
    if broadcast_spans:
        per_doc = F.broadcast(per_doc)
    joined = base.join(per_doc, base[id_col] == per_doc["_cid"], "left")
    return joined.withColumn("_r", _cut(F.col("_s"), F.col("_cuts"))).select(
        F.col(id_col),
        F.col("_r.text_cut").alias("text_cut"),
        F.col("_r.n_cut_chars").alias("n_cut_chars"),
    )
