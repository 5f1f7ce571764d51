"""Scalar function tests: CURIE, fingerprints, token counts, quality,
lang-id, truncation, content hash, multimodal plumbing."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from biocurator_mapper_spark.functions.text import (
    content_hash,
    curie_normalize,
    doc_fingerprint,
    lang_id_expr,
    quality_struct,
    token_count,
    truncate_with_ellipsis,
    with_url_host,
)
from biocurator_mapper_spark.operators.multimodal import (
    extract_media_features,
    frame_sample,
    with_media_meta,
)


def test_curie_normalize(spark):
    df = spark.createDataFrame(
        [
            ("http://purl.obolibrary.org/obo/GO_0000001",),
            ("http://purl.obolibrary.org/obo/DOID_0001816",),
            ("malformed_uri",),
        ],
        "uri string",
    )
    got = [r.c for r in df.select(curie_normalize(F.col("uri")).alias("c")).collect()]
    assert got == ["GO:0000001", "DOID:0001816", "malformed:uri"]


def test_url_host_and_truncate(spark):
    df = spark.createDataFrame(
        [("https://hub.example.com/a/b?q=1", "x" * 9000)], "url string, t string"
    )
    r = df.select(
        with_url_host(F.col("url")).alias("host"),
        F.length(truncate_with_ellipsis(F.col("t"), 8000)).alias("l"),
        truncate_with_ellipsis(F.col("t"), 8000).alias("tt"),
    ).collect()[0]
    assert r.host == "hub.example.com"
    assert r.l == 8000 and r.tt.endswith("...")


def test_token_count_and_fingerprint(spark):
    df = spark.createDataFrame([("Hello, World! it's FINE",)], "t string")
    r = df.select(
        token_count(F.col("t")).alias("n"), doc_fingerprint(F.col("t")).alias("fp")
    ).collect()[0]
    assert r.n == 4  # hello world it's fine
    want = hashlib.md5(b"hello world it's fine").hexdigest()
    # fingerprint collapses punctuation to spaces: "hello world it s fine"
    want2 = hashlib.md5(b"hello world it s fine").hexdigest()
    assert r.fp in (want, want2)


def test_quality_and_lang(spark):
    df = spark.createDataFrame(
        [
            ("good", "The results were consistent and the methods are described in the paper."),
            ("punct", "!!! ??? ;;; ### $$$ %%%"),
            ("es", "el estudio de la salud y los datos en una muestra con resultados"),
        ],
        "k string, t string",
    )
    out = {
        r.k: r
        for r in df.withColumn("_q", quality_struct(F.col("t")))
        .select("k", "_q.*", lang_id_expr(F.col("t")).alias("lang"))
        .collect()
    }
    assert out["good"].quality_score > out["punct"].quality_score
    assert out["good"].lang == "en"
    assert out["es"].lang == "es"
    assert out["punct"].punct_ratio > 0.5


def test_content_hash_matches_reference_shape(spark):
    df = spark.createDataFrame([("v1", "g1", 42)], "version string, graph string, n int")
    r = df.select(content_hash(F.col("version"), F.col("graph"), F.col("n")).alias("h")).collect()[0]
    assert len(r.h) == 16
    assert all(c in "0123456789abcdef" for c in r.h)


def test_media_features_deterministic_and_content_sensitive(spark):
    df = spark.createDataFrame(
        [(1, b"AAAA"), (2, b"AAAA"), (3, b"BBBB"), (4, None)],
        "media_id long, media binary",
    )
    out = {r.media_id: r for r in extract_media_features(df).collect()}
    assert out[1].feature == out[2].feature  # same bytes → same feature
    assert out[1].feature != out[3].feature
    assert out[1].feat_dim == 64
    assert out[1].content_sha == hashlib.sha256(b"AAAA").hexdigest()
    assert out[4].feature == [0.0] * 64  # null blob degrades


def test_lm_quality_score_ranks_language_over_noise(spark):
    """The char-LM signal must rank natural prose above line-noise when
    the model is trained on a prose-dominated corpus, score empty docs 0,
    and stay within [0, 1]."""
    from biocurator_mapper_spark.operators.lm_quality import (
        lm_quality_score,
        train_char_lm,
    )

    prose = [
        (i, f"the quick brown fox jumps over the lazy dog near the river bank {i}")
        for i in range(20)
    ]
    rows = prose + [
        (100, "xq zvkj qqwz jxv kqzx wvjq zzxq kjvw"),  # line noise
        (101, ""),  # empty
        (102, None),  # null text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in lm_quality_score(df, "doc_id", "text").collect()}
    assert len(got) == len(rows)  # every doc scored, even unscorable ones
    assert got[101].lm_score == 0.0 and got[101].n_trigrams == 0
    assert got[102].lm_score == 0.0 and got[102].n_trigrams == 0
    assert all(0.0 <= r.lm_score <= 1.0 for r in got.values())
    assert got[0].lm_score > got[100].lm_score * 2  # prose ≫ noise
    # an external model works the same way (train/score separation)
    model = train_char_lm(df.where(F.col("doc_id") < 20), "text")
    ext = {
        r.doc_id: r.lm_score
        for r in lm_quality_score(df, "doc_id", "text", model=model).collect()
    }
    assert ext[0] > ext[100]
    # the stateless per-row scorer (streaming path AND, since round 5, the
    # default whenever a pre-trained model is supplied) is bit-identical to
    # the aggregate formulation under the same model
    from biocurator_mapper_spark.operators.lm_quality import (
        lm_score_aggregate,
        score_with_model,
    )

    per_row = {
        r.doc_id: (r.n_trigrams, r.lm_score)
        for r in score_with_model(df, "text", model).collect()
    }
    agg = {
        r.doc_id: (r.n_trigrams, r.lm_score)
        for r in lm_score_aggregate(df, "doc_id", "text", model).collect()
    }
    assert per_row == agg
    # model-supplied scoring takes the shuffle-free plan: no Exchange node
    plan = (
        lm_quality_score(df, "doc_id", "text", model=model)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_real_decoder_registry_gated_on_pil(spark):
    """The 'real' registry slot resolves to a PIL decoder when PIL is
    importable, else to the documented NotImplementedError stub — tests
    pass either way, and with PIL present the real decode must honor the
    same 64-float output contract as the fake decoder (parity of shape,
    schema and metadata on a tiny real image)."""
    from biocurator_mapper_spark.operators.multimodal import (
        MEDIA_DECODERS,
        real_decoder_available,
    )

    if not real_decoder_available():
        import pytest as _pytest

        with _pytest.raises(NotImplementedError):
            MEDIA_DECODERS["real"](b"xx")
        return
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (16, 16), color=(255, 0, 0)).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame([(1, png)], "media_id long, media binary")
    r = extract_media_features(df, decoder="real").collect()[0]
    assert r.feat_dim == 64  # same contract as the fake decoder
    assert all(0.0 <= x <= 1.0 for x in r.feature)
    assert r.content_sha == hashlib.sha256(png).hexdigest()


def test_frame_sample_shape(spark):
    df = spark.createDataFrame([(1, b"vid-bytes")], "media_id long, media binary")
    rows = frame_sample(df, n_frames=3).collect()
    assert [r.frame_no for r in rows] == [0, 1, 2]
    assert len({tuple(r.frame_feature) for r in rows}) == 3  # frames differ


def test_media_meta(spark):
    df = spark.createDataFrame([(1, b"xyz")], "media_id long, media binary")
    r = with_media_meta(df, media_type="image", fmt="jpeg").collect()[0]
    assert r.media_meta.media_type == "image"
    assert r.media_meta.n_bytes == 3


def test_bpe_token_count_examples(spark):
    from biocurator_mapper_spark.functions.text import bpe_token_count
    from pyspark.sql import functions as F

    rows = [
        (1, "Hello world"),        # "Hello", " world"
        (2, "don't stop"),         # "don", "'t", " stop"
        (3, "a1b2"),               # "a", "1", "b", "2"
        (4, "x!!y"),               # "x", "!!", "y"
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "i int, t string")
    got = {r.i: r.n for r in df.select("i", bpe_token_count(F.col("t")).alias("n")).collect()}
    assert got == {1: 2, 2: 3, 3: 4, 4: 3, 5: 0}


def test_redact_pii_planted(spark):
    from biocurator_mapper_spark.functions.text import pii_counts, redact_pii
    from pyspark.sql import functions as F

    rows = [
        (1, "contact alice.smith+x@lab.example.org or bob@x.io today"),
        (2, "server at 192.168.0.1 and backup 10.0.0.254 online"),
        (3, "call +1(555)123-4567 now"),
        (4, "clean text, nothing to scrub"),
    ]
    df = spark.createDataFrame(rows, "i int, t string")
    c = pii_counts(F.col("t"))
    out = {
        r.i: (r.red, r.ne, r.ni, r.np)
        for r in df.select(
            "i",
            redact_pii(F.col("t")).alias("red"),
            c["email"].alias("ne"),
            c["ipv4"].alias("ni"),
            c["phone"].alias("np"),
        ).collect()
    }
    assert out[1] == ("contact [EMAIL] or [EMAIL] today", 2, 0, 0)
    assert out[2] == ("server at [IPV4] and backup [IPV4] online", 0, 2, 0)
    assert out[3] == ("call [PHONE] now", 0, 0, 1)
    assert out[4] == ("clean text, nothing to scrub", 0, 0, 0)


def test_repetition_struct_planted(spark):
    from biocurator_mapper_spark.functions.text import repetition_struct
    from pyspark.sql import functions as F

    rows = [
        (1, "spam spam spam ham"),        # max freq 3/4
        (2, "all words here differ"),     # 1/4
        (3, "a\nb\na\n\n a "),            # lines a,b,a,a → 4 lines, 2 distinct
    ]
    df = spark.createDataFrame(rows, "i int, t string")
    out = {
        r.i: (r.max_word_freq, round(r.max_word_freq_ratio, 6), round(r.dup_line_frac, 6))
        for r in df.withColumn("_r", repetition_struct(F.col("t")))
        .select("i", "_r.*")
        .collect()
    }
    assert out[1] == (3, 0.75, 0.0)
    assert out[2] == (1, 0.25, 0.0)
    assert out[3][0] == 3  # token 'a' ×3
    assert out[3][2] == 0.5  # 4 non-empty lines, 2 duplicates


def test_dup_ngram_chars_planted(spark):
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.functions.text import dup_ngram_chars_struct

    df = spark.createDataFrame(
        [(1, "a b a b a b c"), (2, "x y z"), (3, ""), (4, "w w w w")],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.c, round(r.f, 6))
        for r in df.withColumn("_g", dup_ngram_chars_struct(F.col("text"), 2))
        .select("doc_id", F.col("_g.dup_ngram_chars").alias("c"), F.col("_g.dup_ngram_frac").alias("f"))
        .collect()
    }
    # doc 1 bigrams: "a b"x3, "b a"x2, "b c" → dup chars 3*3+2*3=15 of 18
    assert out[1] == (15, round(15 / 18, 6))
    assert out[2] == (0, 0.0)
    assert out[3] == (0, 0.0)
    # doc 4: "w w"x3 → all 9 chars duplicated
    assert out[4] == (9, 1.0)


def test_curation_signals_struct_matches_standalone(spark):
    """The fused one-tokenize signal struct is expression-identical to the
    standalone quality/repetition/lang functions (including the with_lang
    branch, which curate() only uses when no declared lang column exists),
    and its analyzed plan holds exactly ONE tokenizer split."""
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.functions.text import (
        curation_signals_struct,
        lang_id_expr,
        quality_struct,
        repetition_struct,
    )

    df = spark.createDataFrame(
        [
            (1, "The cat sat on the mat. The cat sat again and again."),
            (2, "el perro y el gato y la casa en la calle"),
            (3, ""),
            (4, "x\nx\ny w w w w w w w w w w w w"),
        ],
        ["doc_id", "text"],
    )
    fused = (
        df.withColumn("_s", curation_signals_struct(F.col("text"), with_lang=True))
        .select("doc_id", "_s.q.*", "_s.rep.*", "_s.dup_line_frac")
        .collect()
    )
    base = (
        df.withColumn("_q", quality_struct(F.col("text")))
        .withColumn("_r", repetition_struct(F.col("text")))
        .select("doc_id", "_q.*", F.col("_r.max_word_freq").alias("max_word_freq"),
                F.col("_r.max_word_freq_ratio").alias("max_word_freq_ratio"),
                F.col("_r.dup_line_frac").alias("dup_line_frac"),
                lang_id_expr(F.col("text")).alias("lang"))
        .collect()
    )
    fused_by_id = {r.doc_id: r.asDict() for r in fused}
    for r in base:
        f = fused_by_id[r.doc_id]
        for field in ("n_chars", "n_tokens", "punct_ratio", "stopword_ratio",
                      "mean_word_len", "quality_score", "max_word_freq",
                      "max_word_freq_ratio", "dup_line_frac", "lang"):
            assert f[field] == r[field], (r.doc_id, field, f[field], r[field])

    # one tokenize: the lowered-text split appears exactly once
    plan = (
        df.withColumn("_s", curation_signals_struct(F.col("text"), with_lang=True))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(lower(") == 1


def test_null_text_yields_zero_signals_not_null(spark):
    """aggregate over a NULL token array returns NULL without running the
    finish lambda — a NULL text row must still produce the documented
    zero/'und' signals so curation gates fire instead of reading NULL as
    'passed'."""
    from pyspark.sql import functions as F

    from biocurator_mapper_spark.functions.text import (
        curation_signals_struct,
        dup_ngram_chars_struct,
        lang_id_expr,
        quality_struct,
        repetition_struct,
    )

    df = spark.createDataFrame([(1, None)], "doc_id long, text string")
    r = (
        df.withColumn("_q", quality_struct(F.col("text")))
        .withColumn("_r", repetition_struct(F.col("text")))
        .withColumn("_g", dup_ngram_chars_struct(F.col("text")))
        .withColumn("_s", curation_signals_struct(F.col("text"), with_lang=True))
        .select(
            lang_id_expr(F.col("text")).alias("lang"),
            "_q.n_tokens", "_r.max_word_freq", "_r.dup_line_frac",
            "_g.dup_ngram_chars", "_s.q.lang", "_s.rep.max_word_freq_ratio",
        )
        .collect()[0]
    )
    assert r["lang"] == "und"
    assert r["n_tokens"] == 0
    assert r["max_word_freq"] == 0
    assert r["dup_line_frac"] == 0.0
    assert r["dup_ngram_chars"] == 0
    assert r["_s.q.lang" if "_s.q.lang" in r.asDict() else "lang"] is not None

    # and curate() rejects (not keeps) a null-text doc
    from biocurator_mapper_spark.pipeline.curation import curate

    docs = spark.createDataFrame(
        [(1, None), (2, "the cat sat on the mat " * 20)],
        "doc_id long, text string",
    )
    stages = {r.doc_id: r.curation_stage for r in curate(docs, lang_col=None).collect()}
    assert stages[1] != "kept"
    assert stages[2] == "kept"


def test_str_array_lit_under_both_parser_settings(spark):
    """The one SQL literal escaper parses quotes, backslashes and empty
    strings to the same values whether or not
    spark.sql.parser.escapedStringLiterals is on, and the chr()/concat
    spelling constant-folds away."""
    from biocurator_mapper_spark.functions.exprs import str_array_lit

    values = ["it's", "a\\b", "'", "", "plain"]
    key = "spark.sql.parser.escapedStringLiterals"
    saved = spark.conf.get(key)
    try:
        for setting in ("false", "true"):
            spark.conf.set(key, setting)
            df = spark.range(1).select(str_array_lit(values).alias("a"))
            assert df.collect()[0].a == values, setting
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "chr(" not in plan and "concat(" not in plan, plan
    finally:
        spark.conf.set(key, saved)


def test_local_dim_df_arrow_round_trip(spark):
    """Dimension rows cross to the JVM as one Arrow table typed by the Spark
    schema: values come back exactly (a nullable long keeps all 64 bits,
    which a pandas float64 column would round) and the relation plans as a
    LocalRelation, not a Python-RDD scan. Empty rows keep the schema."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from biocurator_mapper_spark.functions.dims import local_dim_df

    ddl = "n long, s string, v array<float>, w array<long>, b boolean"
    rows = [
        (None, "İstanbul", [0.5, -1.25], [2**62 + 1, None], None),
        (2**62 + 1, "Straẞe", None, [], True),
        (-(2**63), "", [], None, False),
    ]
    df = local_dim_df(spark, rows, ddl)
    assert df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
    assert [tuple(r) for r in df.collect()] == rows
    empty = local_dim_df(spark, [], ddl)
    assert empty.collect() == [] and empty.schema == df.schema

    schema = StructType(
        [StructField("k", StringType()), StructField("t", LongType())]
    )
    typed = local_dim_df(spark, [("a", 2**62 + 1), ("b", None)], schema)
    assert typed.schema == schema
    assert [tuple(r) for r in typed.collect()] == [("a", 2**62 + 1), ("b", None)]
