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


def _norm(t):
    return re.sub(r"[^a-z0-9]+", " ", (t or "").lower()).strip()


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


def test_winnow_substring_candidates_guarantee(spark):
    """The winnowing guarantee: docs sharing an exact normalized substring
    of length ≥ w+k-1 ALWAYS share an anchor (candidate pair emitted);
    docs with no long common run produce no pair; sub-k docs yield no
    anchors."""
    import random

    from biocurator_mapper_spark.operators.dedup import (
        substring_dup_candidates,
        winnow_anchors_py,
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
    anchors = {i: len(winnow_anchors_py(_norm(t), k, w)) for i, t in rows}
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


def _winnow_anchors_ref(s, k=20, w=30):
    """Plain-Python winnowing: per-position (acc·B + ord(c)) % M folds of
    each k-gram under both hash pairs, then min of every w-window."""
    from biocurator_mapper_spark.operators.dedup import (
        WINNOW_B1,
        WINNOW_B2,
        WINNOW_M1,
        WINNOW_M2,
    )

    def fold(g, b, m):
        acc = 0
        for c in g:
            acc = (acc * b + ord(c)) % m
        return acc

    hs = [
        fold(s[i : i + k], WINNOW_B1, WINNOW_M1) * 2**31
        + fold(s[i : i + k], WINNOW_B2, WINNOW_M2)
        for i in range(len(s) - k + 1)
    ]
    if not hs:
        return set()
    if len(hs) < w:
        return {min(hs)}
    return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}


def test_winnow_arrow_path_equals_expression_path(spark):
    """The Arrow anchor stage is value-identical to a plain-Python
    winnowing reference, per doc (sf0.001 docs plus docs shorter than k
    and docs with fewer than w k-grams) and end-to-end through the pair
    generator (pairs and shared-anchor counts under the anchor-DF cap)."""
    from collections import Counter

    from biocurator_mapper_spark.operators.dedup import (
        DEFAULT_MAX_SHINGLE_DF,
        substring_dup_candidates,
        winnow_anchor_rows_arrow,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    edge = [
        (-1, "tiny"),                               # < k chars: no anchors
        (-2, "Nineteen chars ok!!"),                # normalizes to < k
        (-3, "exactly twenty chars"),               # one k-gram
        (-4, "forty-eight characters, fewer than w grams here"),
        (-5, None),
    ]
    docs = docs.select("doc_id", "text").union(
        spark.createDataFrame(edge, "doc_id long, text string")
    )
    texts = {r.doc_id: r.text for r in docs.collect()}
    ref = {i: _winnow_anchors_ref(_norm(t)) for i, t in texts.items()}
    assert ref[-1] == ref[-2] == ref[-5] == set()
    assert len(ref[-3]) == 1 and len(ref[-4]) == 1
    arrow_rows = {
        (r._id, r.a)
        for r in winnow_anchor_rows_arrow(docs, "doc_id", "text").collect()
    }
    assert arrow_rows == {(i, a) for i, anc in ref.items() for a in anc}

    by_anchor: dict = {}
    for i, anc in ref.items():
        for a in anc:
            by_anchor.setdefault(a, []).append(i)
    want = Counter()
    for ids in by_anchor.values():
        if len(ids) <= DEFAULT_MAX_SHINGLE_DF:
            want.update(itertools.combinations(sorted(ids), 2))
    got = {
        (r.id_a, r.id_b): r.n_shared_anchors
        for r in substring_dup_candidates(docs, "doc_id", "text").collect()
    }
    assert got == dict(want) and got


def test_substring_span_verify_recovers_planted_runs(spark):
    """The anchor-seeded verify step reports, for every doc pair whose true
    longest common normalized substring (difflib, an independent
    implementation) is at least min_len, exactly that length — and emits
    no other pair; the planted span itself is recovered; sub-threshold
    spans are filtered; min_len below w + k - 1 is rejected."""
    import difflib
    import random

    from biocurator_mapper_spark.operators.dedup import (
        substring_dup_candidates,
        substring_dup_spans,
    )

    rng = random.Random(17)
    alpha = "abcdefghij "
    rand = lambda n: "".join(rng.choice(alpha) for _ in range(n))  # noqa: E731

    shared = "the license text every mirror of this page carries verbatim today"
    docs_rows = [
        (1, rand(150) + " " + shared + " " + rand(150)),
        (2, rand(250) + " " + shared),
        (3, rand(420)),
    ]
    # planted runs straddling the min_len = w + k - 1 = 49 threshold
    for i, run_len in enumerate([30, 48, 49, 50, 75, 140]):
        run = rand(run_len)
        docs_rows.append((10 + 2 * i, rand(rng.randint(20, 200)) + run + rand(rng.randint(0, 150))))
        docs_rows.append((11 + 2 * i, rand(rng.randint(0, 150)) + run + rand(rng.randint(20, 200))))
    df = spark.createDataFrame(docs_rows, "doc_id long, text string")
    pairs = substring_dup_candidates(df, "doc_id", "text", k=20, w=30)
    spans = {
        (r.id_a, r.id_b): (r.span_len, r.span)
        for r in substring_dup_spans(df, pairs, "doc_id", "text").collect()
    }
    norm = {i: _norm(t) for i, t in docs_rows}
    want = {}
    for a, b in itertools.combinations(sorted(norm), 2):
        m = difflib.SequenceMatcher(None, norm[a], norm[b], autojunk=False)
        size = m.find_longest_match(0, len(norm[a]), 0, len(norm[b])).size
        if size >= 49:
            want[(a, b)] = size
    assert {kk: v[0] for kk, v in spans.items()} == want
    assert len(want) >= 4  # the shared licence + the >= 49 planted runs
    for (a, b), (ln, sp) in spans.items():
        assert len(sp) == ln and sp in norm[a] and sp in norm[b]
    ln, sp = spans[(1, 2)]
    assert shared in sp and ln >= len(shared)
    # min_len filter: raising the bar above the span drops the pair
    high = substring_dup_spans(df, pairs, "doc_id", "text", min_len=10_000)
    assert high.count() == 0


def test_substring_spans_reject_min_len_below_guarantee(spark):
    """The seeded kernel is exact only for min_len >= w + k - 1."""
    from biocurator_mapper_spark.operators.dedup import substring_dup_spans

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="min_len"):
        substring_dup_spans(df, pairs, "doc_id", "text", min_len=48)


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
            docs, "doc_id", "text", n=3, bands=4, threshold=0.5
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
            docs, "doc_id", "text", n=3, bands=8, threshold=0.5
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
        NUM_HASHES,
        _hashed_shingle_rows,
        _minhash_sig_aggs,
    )

    texts = {1: "the quick brown fox jumps over the lazy dog", 2: "short", 3: ""}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r._id: tuple(r[f"mh_{i}"] for i in range(NUM_HASHES))
        for r in _hashed_shingle_rows(df, "doc_id", "text", 3)
        .withColumn("hm", F.col("h") % MINHASH_MOD)
        .groupBy("_id")
        .agg(*_minhash_sig_aggs())
        .collect()
    }

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    want = {}
    for doc_id, t in texts.items():
        hs = [h60(s) % MINHASH_MOD for s in _shingles(t, 3)]
        if hs:
            want[doc_id] = tuple(
                min((a * h + b) % MINHASH_MOD for h in hs) for a, b in _MINHASH_AB
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


def test_decontaminate_removes_benchmark_near_dups(spark, docs):
    """Train/eval decontamination: corpus docs near-duplicating a benchmark
    doc are dropped; unrelated docs survive. Corpus and benchmark ids are
    separate namespaces: a benchmark row that reuses a corpus id with
    unrelated text changes neither the pairs nor the kept ids."""
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
    assert 5 in rows and 5 in clean_ids
    shared_id = bench.unionByName(spark.createDataFrame(
        [(5, "harbour cranes unload timber while the evening tide turns")],
        "doc_id long, text string",
    ))
    assert {
        (r.corpus_id, r.benchmark_id)
        for r in cross_minhash_pairs(docs, shared_id, "doc_id", "text").collect()
    } == pairs
    assert {
        r.doc_id for r in decontaminate(docs, shared_id, "doc_id", "text").collect()
    } == clean_ids
