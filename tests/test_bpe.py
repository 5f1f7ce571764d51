"""Real-BPE token counting: encoder equivalence, trainer determinism, and
Spark-vs-driver parity for functions/bpe.py."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from biocurator_mapper_spark.functions.bpe import (
    bpe_count_expr,
    merge_ranks,
    piece_token_count,
    reference_piece_count,
    train_merges,
)
from biocurator_mapper_spark.functions.bpe_merges import MERGES

_RANKS = merge_ranks(MERGES)


def test_checked_in_table_matches_trainer():
    """The committed merges table is exactly what the deterministic trainer
    produces from the sf0.001 corpus pieces (regenerating tools/train_bpe.py
    output is a no-op)."""
    import duckdb

    from biocurator_mapper_spark.functions.text import BPE_TOKEN_RE

    con = duckdb.connect()
    rows = con.execute(
        "SELECT piece, count(*)::BIGINT FROM ("
        "  SELECT unnest(regexp_extract_all(coalesce(text, ''), ?)) AS piece"
        "  FROM '/root/testdata/sf0.001/documents.parquet'"
        ") GROUP BY piece",
        [BPE_TOKEN_RE],
    ).fetchall()
    con.close()
    counts = Counter(dict(rows))
    assert train_merges(counts, n_merges=len(MERGES)) == [
        tuple(p) for p in MERGES
    ]
    # the greedy trainer is prefix-stable: a longer run extends, never
    # reorders, the committed table
    longer = train_merges(counts, n_merges=len(MERGES) + 8)
    assert longer[: len(MERGES)] == [tuple(p) for p in MERGES]


@given(st.text(alphabet=st.characters(codec="ascii"), max_size=40))
@settings(max_examples=300, deadline=None)
def test_encoders_equivalent_on_real_table(piece):
    assert piece_token_count(piece, _RANKS) == reference_piece_count(
        piece, MERGES
    )


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abc ", min_size=1, max_size=2),
            st.text(alphabet="abc ", min_size=1, max_size=2),
        ),
        max_size=12,
    ),
    st.text(alphabet="abc ", max_size=16),
)
@settings(max_examples=300, deadline=None)
def test_encoders_equivalent_on_arbitrary_tables(merges, piece):
    """Both encoders implement the same spec for ANY merge table — including
    cascading merges whose outputs feed later merges."""
    merges = list(dict.fromkeys(merges))  # rank = first occurrence
    assert piece_token_count(piece, merge_ranks(merges)) == (
        reference_piece_count(piece, merges)
    )


def test_merge_semantics_known_values():
    # "abab" with (a,b) → 2 symbols; then (ab,ab) → 1
    assert piece_token_count("abab", merge_ranks([("a", "b")])) == 2
    assert (
        piece_token_count("abab", merge_ranks([("a", "b"), ("ab", "ab")])) == 1
    )
    # lowest-rank pair wins: (b,c) rank 0 beats (a,b) on "abc"
    assert (
        piece_token_count("abc", merge_ranks([("b", "c"), ("a", "b")])) == 2
    )
    # non-overlapping left-to-right: "aaa" with (a,a) → "aa","a" = 2
    assert piece_token_count("aaa", merge_ranks([("a", "a")])) == 2
    # unknown symbols survive as singletons
    assert piece_token_count("xyz", _RANKS) <= 3


def test_trainer_tie_break_deterministic():
    # "ab" and "cd" equally frequent → lexicographically smaller pair first
    counts = Counter({"ab": 3, "cd": 3})
    assert train_merges(counts, n_merges=2) == [("a", "b"), ("c", "d")]
    # singleton pieces contribute nothing; pairs seen once don't merge
    assert train_merges(Counter({"a": 100, "xy": 1}), n_merges=4) == []


@pytest.mark.usefixtures("spark")
def test_spark_expr_matches_driver_side(spark):
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", bpe_count_expr(F.col("text"), MERGES).alias("n")
        ).collect()
    }
    # driver-side expectation through the ORACLE encoder over Python pieces
    import duckdb

    from biocurator_mapper_spark.functions.text import BPE_TOKEN_RE

    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, regexp_extract_all(coalesce(text, ''), ?) "
        "FROM '/root/testdata/sf0.001/documents.parquet'",
        [BPE_TOKEN_RE],
    ).fetchall()
    con.close()
    assert len(got) == len(rows) > 0
    for doc_id, pieces in rows:
        assert got[doc_id] == sum(
            reference_piece_count(p, MERGES) for p in pieces
        ), doc_id


@pytest.mark.usefixtures("spark")
def test_spark_expr_null_text_counts_zero(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the scan")], "doc_id long, text string"
    )
    got = dict(
        df.select("doc_id", bpe_count_expr(F.col("text"), MERGES).alias("n"))
        .collect()
    )
    assert got[1] == 0 and got[2] == 0 and got[3] >= 1


# ------------------------------------------------------------ id encoders


def _vocab():
    from biocurator_mapper_spark.functions.bpe import vocab_from_merges

    return vocab_from_merges(MERGES)


@given(st.text(alphabet=st.characters(codec="ascii"), max_size=40))
@settings(max_examples=300, deadline=None)
def test_id_encoders_equivalent_on_real_table(piece):
    from biocurator_mapper_spark.functions.bpe import (
        piece_token_ids,
        reference_piece_ids,
    )

    vocab = _vocab()
    prod = piece_token_ids(piece, _RANKS, vocab)
    ref = reference_piece_ids(piece, MERGES, vocab)
    assert prod == ref
    # ids and counts agree: len(ids) IS the token count
    assert len(prod) == piece_token_count(piece, _RANKS)


def test_vocab_deterministic_and_total():
    from biocurator_mapper_spark.functions.bpe import (
        UNK_ID,
        piece_token_ids,
        vocab_from_merges,
    )

    vocab = _vocab()
    assert vocab == vocab_from_merges(list(MERGES))  # pure function of table
    assert vocab[" "] == 1 and vocab["~"] == 95  # printable-ASCII base block
    # every merged symbol has an id above the base block
    for a, b in MERGES:
        assert vocab[a + b] > 95
    # OOV codepoints map to UNK, never crash
    assert piece_token_ids("é中", _RANKS, vocab) == [UNK_ID, UNK_ID]


def test_spark_id_expr_matches_driver_side(spark):
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.functions.bpe import (
        bpe_encode_expr,
        piece_token_ids,
    )
    from biocurator_mapper_spark.functions.text import BPE_TOKEN_RE

    import duckdb

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r.doc_id: r.ids
        for r in docs.select(
            "doc_id", bpe_encode_expr(F.col("text"), MERGES).alias("ids")
        ).collect()
    }
    vocab = _vocab()
    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, regexp_extract_all(coalesce(text, ''), ?) "
        "FROM '/root/testdata/sf0.001/documents.parquet'",
        [BPE_TOKEN_RE],
    ).fetchall()
    con.close()
    assert len(got) == len(rows) > 0
    for doc_id, pieces in rows[:50]:
        want = [
            i for p in pieces for i in piece_token_ids(p, _RANKS, vocab)
        ]
        assert got[doc_id] == want, doc_id
    # null text encodes to the empty array
    df = spark.createDataFrame([(1, None)], "doc_id long, text string")
    assert (
        df.select(bpe_encode_expr(F.col("text"), MERGES).alias("ids"))
        .first()
        .ids
        == []
    )


def test_bpe_decode_roundtrip_and_unk(spark):
    """decode ∘ encode == pre-tokenize concat; OOV ids decode to U+FFFD;
    the decoder is pure codegen (no Python nodes in the plan)."""
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.functions.bpe import (
        bpe_decode_expr,
        bpe_encode_expr,
    )
    from biocurator_mapper_spark.functions.bpe_merges import MERGES

    texts = [
        "the quick brown fox's tail, isn't it?",
        "numbers 123 and 456!",
        "",
        None,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = df.select(
        bpe_decode_expr(bpe_encode_expr(F.col("text"), MERGES), MERGES).alias("d")
    )
    got = [r.d for r in out.collect()]
    # single-spaced ASCII round-trips exactly (pieces carry leading spaces)
    assert got[0] == texts[0] and got[1] == texts[1]
    assert got[2] == "" and got[3] == ""
    # unknown id decodes to the replacement char, in-range ids to symbols
    one = spark.createDataFrame([([999999, 0, 1],)], "ids array<int>")
    d = one.select(bpe_decode_expr(F.col("ids"), MERGES).alias("d")).collect()[0].d
    assert d == "�� "  # out-of-table and UNK both -> U+FFFD; id 1 = ' '
    plan = out._jdf.queryExecution().executedPlan().toString()
    # encoder is the only Python stage; a second select of decode alone is
    # Python-free
    ids_df = spark.createDataFrame([([72, 73],)], "ids array<int>")
    p2 = ids_df.select(
        bpe_decode_expr(F.col("ids"), MERGES).alias("d")
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in p2 and "BatchEvalPython" not in p2
