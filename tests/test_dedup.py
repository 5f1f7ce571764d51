"""Dedup operator tests: exact, fingerprint, n-gram Jaccard, MinHash-LSH,
SimHash — each verified against a plain-Python oracle on seeded data."""

from __future__ import annotations

import itertools
import random
import re

import pytest
from pyspark.sql import functions as F

from biocurator_mapper_spark.operators.dedup import (
    exact_dedup,
    fingerprint_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    simhash_expr,
)


def _toks(t):
    return [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]


def _shingles(t, n=3):
    toks = _toks(t)
    if len(toks) >= n:
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    return {" ".join(toks)} if toks else set()


@pytest.fixture(scope="module")
def docs(spark):
    rng = random.Random(5)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(5, 15))]
        rows.append((i, " ".join(words)))
    # planted exact duplicates and near-duplicates
    rows.append((100, rows[0][1]))
    rows.append((101, rows[1][1] + " extra"))
    rows.append((102, rows[1][1].upper()))  # case-variant → same fingerprint
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs, "doc_id", ["text"])
    reps = {r.text: (r.representative_id, r.dup_count) for r in out.collect()}
    first_text = docs.where(F.col("doc_id") == 0).collect()[0].text
    assert reps[first_text] == (0, 2)  # doc 0 and its copy 100
    assert sum(c for _, c in reps.values()) == docs.count()


def test_fingerprint_dedup_catches_case_variants(spark, docs):
    out = fingerprint_dedup(docs, "doc_id", "text")
    t1 = docs.where(F.col("doc_id") == 1).collect()[0].text
    import hashlib

    norm = " ".join(re.split(r"[^a-z0-9]+", t1.lower())).strip()
    norm = re.sub(r"\s+", " ", norm)
    fp = hashlib.md5(norm.encode()).hexdigest()
    row = [r for r in out.collect() if r.fingerprint == fp]
    assert row and row[0].dup_count == 2  # doc 1 + uppercase variant 102


def test_ngram_jaccard_pairs_match_oracle(spark, docs):
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    rows = {r.doc_id: r.text for r in docs.collect()}
    want = {}
    for a, b in itertools.combinations(sorted(rows), 2):
        sa, sb = _shingles(rows[a]), _shingles(rows[b])
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.5:
            want[(a, b)] = j
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9
    assert (0, 100) in got  # exact dup pair found


def test_ngram_jaccard_size_prefilter_is_result_identical(spark, docs):
    """The min/max size-ratio prune is conservative: with it off, the exact
    post-aggregate relation is bit-identical (it only removes pairs the
    Jaccard filter would remove anyway)."""
    on = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5, size_prefilter=True
        ).collect()
    }
    off = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5, size_prefilter=False
        ).collect()
    }
    assert on == off and on


def test_winnow_substring_candidates_guarantee(spark):
    """The winnowing guarantee: docs sharing an exact normalized substring
    of length ≥ w+k-1 ALWAYS share an anchor (candidate pair emitted);
    docs with no long common run produce no pair; sub-k docs yield no
    anchors."""
    import random

    from biocurator_mapper_spark.operators.dedup import (
        substring_dup_candidates,
        winnow_anchors_expr,
    )

    k, w = 20, 30
    run_len = w + k - 1  # 49 chars — the guaranteed-detection threshold
    rng = random.Random(9)
    alpha = "abcdefghijklmnopqrstuvwxyz "

    def rand_text(n):
        return "".join(rng.choice(alpha) for _ in range(n))

    shared = rand_text(run_len)
    rows = [
        (1, rand_text(120) + shared + rand_text(120)),
        (2, rand_text(200) + shared),          # same run, different context
        (3, rand_text(400)),                   # unrelated
        (4, rand_text(400)),                   # unrelated
        (5, "tiny"),                           # < k chars: no anchors
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.n_shared_anchors
        for r in substring_dup_candidates(df, "doc_id", "text", k=k, w=w).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(p == (1, 2) for p in pairs)  # no spurious pairs on this corpus
    anchors = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", F.size(winnow_anchors_expr(F.col("text"), k, w)).alias("n")
        ).collect()
    }
    assert anchors[5] == 0
    assert anchors[1] > 0

    # seeded property sweep: a planted run at EXACTLY the threshold length
    # is always caught, wherever it lands
    for trial in range(5):
        sh = rand_text(run_len)
        a = rand_text(rng.randint(60, 300)) + sh + rand_text(rng.randint(0, 300))
        b = rand_text(rng.randint(0, 300)) + sh + rand_text(rng.randint(60, 300))
        d2 = spark.createDataFrame([(10, a), (20, b)], "doc_id long, text string")
        got = substring_dup_candidates(d2, "doc_id", "text", k=k, w=w).collect()
        assert any((r.id_a, r.id_b) == (10, 20) for r in got), f"trial {trial}"


def test_winnow_arrow_path_equals_expression_path(spark):
    """The O(n) Arrow rolling-deque anchors must be value-identical to the
    O(n·w) expression form, per doc and end-to-end through the pair
    generator."""
    from biocurator_mapper_spark.operators.dedup import (
        substring_dup_candidates,
        winnow_anchor_rows_arrow,
        winnow_anchors_expr,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    expr_rows = {
        (r._id, r.a)
        for r in docs.select(
            F.col("doc_id").alias("_id"),
            F.explode_outer(winnow_anchors_expr(F.col("text"))).alias("a"),
        )
        .where(F.col("a").isNotNull())
        .collect()
    }
    arrow_rows = {
        (r._id, r.a)
        for r in winnow_anchor_rows_arrow(docs, "doc_id", "text").collect()
    }
    assert arrow_rows == expr_rows and arrow_rows

    pa = {
        (r.id_a, r.id_b): r.n_shared_anchors
        for r in substring_dup_candidates(docs, "doc_id", "text", use_arrow=True).collect()
    }
    pe = {
        (r.id_a, r.id_b): r.n_shared_anchors
        for r in substring_dup_candidates(docs, "doc_id", "text", use_arrow=False).collect()
    }
    assert pa == pe


def test_substring_span_verify_recovers_planted_runs(spark):
    """The LCS verify step recovers the exact planted shared span for every
    winnowing candidate pair; the DP kernel matches difflib (independent
    implementation) on random pairs; sub-threshold spans are filtered."""
    import difflib
    import random

    from biocurator_mapper_spark.operators.dedup import (
        longest_common_substring_py,
        substring_dup_candidates,
        substring_dup_spans,
    )

    rng = random.Random(17)
    alpha = "abcdefghij "
    rand = lambda n: "".join(rng.choice(alpha) for _ in range(n))  # noqa: E731

    # kernel vs difflib on random pairs (length parity — difflib may pick a
    # different equal-length span)
    for _ in range(30):
        a, b = rand(rng.randint(0, 80)), rand(rng.randint(0, 80))
        got = longest_common_substring_py(a, b)
        m = difflib.SequenceMatcher(None, a, b, autojunk=False)
        want = m.find_longest_match(0, len(a), 0, len(b)).size
        assert len(got) == want and (got in a and got in b or not got)

    shared = "the license text every mirror of this page carries verbatim today"
    docs_rows = [
        (1, rand(150) + " " + shared + " " + rand(150)),
        (2, rand(250) + " " + shared),
        (3, rand(420)),
    ]
    df = spark.createDataFrame(docs_rows, "doc_id long, text string")
    pairs = substring_dup_candidates(df, "doc_id", "text", k=20, w=30)
    spans = {
        (r.id_a, r.id_b): (r.span_len, r.span)
        for r in substring_dup_spans(df, pairs, "doc_id", "text").collect()
    }
    assert (1, 2) in spans
    ln, sp = spans[(1, 2)]
    assert shared in sp and ln >= len(shared)
    # min_len filter: raising the bar above the span drops the pair
    high = substring_dup_spans(df, pairs, "doc_id", "text", min_len=10_000)
    assert high.count() == 0
    # anchor-seeded path == DP path on the same candidate relation (the
    # seeded kernel is exact for every span the >= w+k-1 filter can keep)
    dp = {
        (r.id_a, r.id_b): r.span_len
        for r in substring_dup_spans(
            df, pairs, "doc_id", "text", use_anchors=False
        ).collect()
    }
    assert {kk: v[0] for kk, v in spans.items()} == dp


def test_substring_span_long_doc_pair_fast(spark):
    """A ~200 KB book-length duplicate pair completes in seconds through the
    anchor-seeded kernel (the O(n·m) DP would need ~10¹⁰ char compares) and
    still reports the exact planted span length."""
    import random
    import time

    from biocurator_mapper_spark.operators.dedup import (
        substring_dup_candidates,
        substring_dup_spans,
    )

    rng = random.Random(99)
    alpha = "abcdefghijklmnop "
    rand = lambda n: "".join(rng.choice(alpha) for _ in range(n))  # noqa: E731
    lifted = rand(5_000)  # the plagiarized passage
    rows = [
        (1, rand(100_000) + " " + lifted + " " + rand(100_000)),
        (2, rand(90_000) + " " + lifted + " " + rand(110_000)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = substring_dup_candidates(df, "doc_id", "text", k=20, w=30)
    t0 = time.time()
    got = substring_dup_spans(df, pairs, "doc_id", "text").collect()
    elapsed = time.time() - t0
    assert len(got) == 1 and got[0].id_a == 1 and got[0].id_b == 2
    # spans live in NORMALIZED text (runs of spaces collapse to one), so
    # the expected length is the normalized passage's
    norm_lifted = re.sub(r"\s+", " ", lifted).strip()
    assert got[0].span_len >= len(norm_lifted)
    assert norm_lifted in got[0].span
    assert elapsed < 30, f"long-doc span verify took {elapsed:.1f}s"


def test_cut_duplicate_spans_removes_later_copy_only(spark):
    """The cut step: verified spans vanish from the LATER doc (first
    occurrence, normalized text), the earlier doc keeps its copy, untouched
    docs pass through; n_cut_chars accounts for the removal."""
    import random

    from biocurator_mapper_spark.operators.dedup import (
        cut_duplicate_spans,
        substring_dup_candidates,
        substring_dup_spans,
    )

    rng = random.Random(23)
    alpha = "abcdefghij "
    rand = lambda n: "".join(rng.choice(alpha) for _ in range(n))  # noqa: E731
    boiler = "all rights reserved please contact the site operator for details"
    rows = [
        (1, rand(150) + " " + boiler + " " + rand(150)),
        (2, rand(200) + " " + boiler),
        (3, rand(300)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = substring_dup_candidates(df, "doc_id", "text", k=20, w=30)
    spans = substring_dup_spans(df, pairs, "doc_id", "text")
    got = {
        r.doc_id: (r.text_cut, r.n_cut_chars)
        for r in cut_duplicate_spans(df, spans, "doc_id", "text").collect()
    }
    assert len(got) == 3
    assert boiler in got[1][0] and got[1][1] == 0      # earlier copy kept
    # cut: span removed (net chars ≈ span length minus the one joining
    # space the replacement leaves behind)
    assert boiler not in got[2][0] and got[2][1] >= len(boiler) - 2
    assert got[3][1] == 0                               # untouched


def test_cut_duplicate_spans_multiple_spans_per_doc(spark):
    """A doc carrying TWO verified spans (from different earlier docs) has
    BOTH removed — regression for the Arrow array truthiness crash on the
    multi-span path ('truth value of an array … is ambiguous'), which only
    a >=2-span doc exercises — and the non-broadcast fallback join returns
    the identical result."""
    import random

    from biocurator_mapper_spark.operators.dedup import (
        cut_duplicate_spans,
        substring_dup_candidates,
        substring_dup_spans,
    )

    rng = random.Random(41)
    alpha = "abcdefghij "
    rand = lambda n: "".join(rng.choice(alpha) for _ in range(n))  # noqa: E731
    b1 = "all rights reserved please contact the site operator for details"
    b2 = "subscribe to our newsletter for weekly updates and special offers"
    rows = [
        (1, rand(150) + " " + b1 + " " + rand(150)),
        (2, rand(150) + " " + b2 + " " + rand(150)),
        (3, rand(100) + " " + b1 + " " + rand(100) + " " + b2 + " " + rand(100)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = substring_dup_candidates(df, "doc_id", "text", k=20, w=30)
    spans = substring_dup_spans(df, pairs, "doc_id", "text")
    by_b = {r.id_b for r in spans.collect()}
    assert by_b == {3}  # doc 3 is the later doc in both pairs
    got = {
        r.doc_id: (r.text_cut, r.n_cut_chars)
        for r in cut_duplicate_spans(df, spans, "doc_id", "text").collect()
    }
    assert b1 in got[1][0] and b2 in got[2][0]          # earlier copies kept
    assert b1 not in got[3][0] and b2 not in got[3][0]  # BOTH spans cut
    assert got[3][1] >= len(b1) + len(b2) - 4
    # shuffle-join valve: identical output without the broadcast hint
    fb = {
        r.doc_id: (r.text_cut, r.n_cut_chars)
        for r in cut_duplicate_spans(
            df, spans, "doc_id", "text", broadcast_spans=False
        ).collect()
    }
    assert fb == got


def test_incremental_dedup_matches_batch_rule(spark, docs):
    """Dedup of an increment against stored signatures must reproduce the
    batch LSH-pair rule exactly: a new doc is dropped iff some smaller-id
    doc (stored or in-increment) pairs with it at Jaccard ≥ threshold —
    and only the increment gets hashed (the stored side contributes saved
    state)."""
    from biocurator_mapper_spark.operators.dedup import (
        incremental_dedup,
        signature_state,
    )

    split = 20
    old = docs.where(F.col("doc_id") < split)
    new = docs.where(F.col("doc_id") >= split)
    # batch ground truth over the FULL corpus
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5
        ).collect()
    }
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    expect_dropped = {b for _, b in pairs if b in new_ids}
    state = signature_state(old, "doc_id", "text")
    kept, kept_state = incremental_dedup(new, state, "doc_id", "text")
    got_kept = {r.doc_id for r in kept.select("doc_id").collect()}
    assert got_kept == new_ids - expect_dropped
    # the state to merge covers exactly the kept docs, same schema as stored
    st = {r.doc_id for r in kept_state.select("doc_id").collect()}
    assert st == got_kept
    assert kept_state.columns == state.columns
    # planted exact dup of doc 0 (id 100, in the increment) must be dropped
    assert 100 not in got_kept


def test_paragraph_dedup_first_occurrence_wins(spark):
    """Cross-doc AND intra-doc repeated paragraphs keep only the first
    occurrence by (id, position); docs reassemble in original order;
    null/blank-only docs come back empty with zero counts; near-canonical
    variants (case/punct) collapse to one fingerprint."""
    from biocurator_mapper_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "alpha beta\nshared line\nalpha beta"),   # intra-doc repeat
        (2, "shared line\nunique two"),                # cross-doc repeat
        (3, "SHARED, line!\nunique three"),            # normalized repeat
        (4, None),
        (5, "   \n  \n"),                              # blanks only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text_dedup, r.n_paragraphs, r.n_kept)
        for r in paragraph_dedup(df, "doc_id", "text").collect()
    }
    assert got[1] == ("alpha beta\nshared line", 3, 2)
    assert got[2] == ("unique two", 2, 1)
    assert got[3] == ("unique three", 2, 1)
    assert got[4] == ("", 0, 0)
    assert got[5] == ("", 0, 0)
    assert len(got) == 5

    # regex-metachar separators are treated as LITERALS (split escapes,
    # matching array_join's literal reassembly)
    dot = spark.createDataFrame(
        [(1, "alpha beta.shared line.gamma"), (2, "shared line.delta")],
        "doc_id long, text string",
    )
    got_dot = {
        r.doc_id: (r.text_dedup, r.n_paragraphs, r.n_kept)
        for r in paragraph_dedup(dot, "doc_id", "text", sep=".").collect()
    }
    assert got_dot[1] == ("alpha beta.shared line.gamma", 3, 3)
    assert got_dot[2] == ("delta", 2, 1)


def test_minhash_lsh_finds_planted_dups(spark, docs):
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_hashes=16, bands=8, threshold=0.5
        ).collect()
    }
    assert (0, 100) in got  # identical docs always collide in every band
    # verified Jaccard means no false positives below threshold
    rows = {r.doc_id: r.text for r in docs.collect()}
    for a, b in got:
        sa, sb = _shingles(rows[a]), _shingles(rows[b])
        assert len(sa & sb) / len(sa | sb) >= 0.5


def test_simhash_identical_docs_zero_distance(spark, docs):
    pairs = simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert got.get((0, 100)) == 0
    # simhash of identical token multisets is equal
    s = docs.select("doc_id", simhash_expr(F.col("text")).alias("sh")).collect()
    by_id = {r.doc_id: r.sh for r in s}
    assert by_id[0] == by_id[100]
    assert by_id[1] == by_id[102]  # case-insensitive tokens


@pytest.mark.parametrize("n", [2, 3, 4])
def test_shingles_expr_matches_python_shingler(spark, n):
    """The one-parse shingle expression equals a plain-Python shingler on
    null, empty, token-less, short (< n tokens) and normal documents."""
    from biocurator_mapper_spark.operators.dedup import shingles_expr

    texts = [
        None,
        "",
        "  ...  ",
        "Short",
        "two Words",
        "the quick brown fox jumps over the lazy dog the quick brown fox",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.doc_id: r.sh
        for r in df.select("doc_id", shingles_expr("text", n).alias("sh")).collect()
    }
    for i, t in enumerate(texts):
        want = _shingles(t or "", n)
        assert len(got[i]) == len(want), (t, got[i])  # distinct
        assert set(got[i]) == want, (t, got[i])


def test_minhash_signature_paths_agree(spark):
    """The scale path's explode→hash-aggregate minima equal a plain-Python
    MinHash over the same shingles: 60-bit md5 shingle hash, then the
    universal-hash permutations. A drift would silently change LSH
    banding. Short docs sign their one whole-text shingle; shingle-less
    docs emit no signature row."""
    import hashlib

    from biocurator_mapper_spark.operators.dedup import (
        _MINHASH_AB,
        MINHASH_MOD,
        _hashed_shingle_rows,
        _minhash_sig_aggs,
    )

    texts = {1: "the quick brown fox jumps over the lazy dog", 2: "short", 3: ""}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r._id: tuple(r[f"mh_{i}"] for i in range(4))
        for r in _hashed_shingle_rows(df, "doc_id", "text", 3)
        .withColumn("hm", F.col("h") % MINHASH_MOD)
        .groupBy("_id")
        .agg(*_minhash_sig_aggs(4))
        .collect()
    }

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    want = {}
    for doc_id, t in texts.items():
        hs = [h60(s) % MINHASH_MOD for s in _shingles(t, 3)]
        if hs:
            want[doc_id] = tuple(
                min((a * h + b) % MINHASH_MOD for h in hs) for a, b in _MINHASH_AB[:4]
            )
    assert got == want
    assert set(want) == {1, 2}


def test_decontaminate_exact_ngram_collision_rule(spark, docs):
    """Exact n-gram decontamination: any shared word n-gram with a
    benchmark doc drops the corpus doc; the rule matches a pure-Python
    n-gram set intersection."""
    from biocurator_mapper_spark.operators.dedup import decontaminate_exact

    rows = {r.doc_id: r.text for r in docs.collect()}

    def ngrams(text, n):
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        if len(toks) >= n:
            return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        return {" ".join(toks)} if toks else set()

    bench = spark.createDataFrame(
        [(900, rows[0]), (901, "totally novel benchmark prose here")],
        "doc_id long, text string",
    )
    for n in (5, 13):
        bench_grams = ngrams(rows[0], n) | ngrams("totally novel benchmark prose here", n)
        want = {
            i for i, t in rows.items() if not (ngrams(t, n) & bench_grams)
        }
        got = {
            r.doc_id
            for r in decontaminate_exact(docs, bench, "doc_id", "text", n=n).collect()
        }
        assert got == want, f"n={n}"
        assert 0 not in got and 100 not in got  # exact copy of doc 0 collides


def test_cross_pairs_flagged_identical_to_split(spark, docs):
    """The one-relation flagged variant (signatures built ONCE over the
    union) returns exactly the pairs of the two-relation formulation."""
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.operators.dedup import (
        cross_minhash_pairs,
        cross_minhash_pairs_flagged,
    )

    rows = {r.doc_id: r.text for r in docs.collect()}
    bench = spark.createDataFrame(
        [(900, rows[0]), (902, "totally novel benchmark prose here")],
        "doc_id long, text string",
    )
    union = docs.select("doc_id", "text").withColumn(
        "is_bench", F.lit(False)
    ).unionByName(bench.withColumn("is_bench", F.lit(True)))
    split = sorted(
        tuple(r)
        for r in cross_minhash_pairs(docs, bench, "doc_id", "text").collect()
    )
    flagged = sorted(
        tuple(r)
        for r in cross_minhash_pairs_flagged(
            union, "doc_id", "text", "is_bench"
        ).collect()
    )
    assert flagged == split and split  # non-empty: doc 0 is in the benchmark


def test_decontaminate_removes_benchmark_near_dups(spark, docs):
    """Train/eval decontamination: corpus docs near-duplicating a benchmark
    doc are dropped; unrelated docs survive."""
    from biocurator_mapper_spark.operators.dedup import (
        cross_minhash_pairs,
        decontaminate,
    )

    rows = {r.doc_id: r.text for r in docs.collect()}
    # benchmark: doc 0's text verbatim + one doc-1 near-dup + a unique doc
    bench = spark.createDataFrame(
        [(900, rows[0]), (901, rows[1] + " extra"), (902, "totally novel benchmark prose here")],
        "doc_id long, text string",
    )
    pairs = {
        (r.corpus_id, r.benchmark_id)
        for r in cross_minhash_pairs(docs, bench, "doc_id", "text").collect()
    }
    assert (0, 900) in pairs  # exact copy always collides + verifies
    assert (100, 900) in pairs  # doc 100 duplicates doc 0 in the corpus
    clean_ids = {
        r.doc_id for r in decontaminate(docs, bench, "doc_id", "text").collect()
    }
    assert 0 not in clean_ids and 100 not in clean_ids
    contaminated = {c for c, _ in pairs}
    assert clean_ids == {r.doc_id for r in docs.collect()} - contaminated
