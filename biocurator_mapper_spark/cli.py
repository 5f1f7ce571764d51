"""CLI — the reference's API surface as commands.

Maps the reference's endpoints (SURVEY §3) one-to-one so a user of the
service can run the same operations against the Spark engine:

    POST /resolve_biocurated_data  → resolve   (passage → best match JSON)
    POST /admin/update_ontology    → ingest    (download + parse + version gate)
    POST /admin/generate_embeddings→ embed     (terms → cached vectors table)
    GET  /admin/*status*           → status    (_metrics/_checkpoints/_versions)
    batch triple factory           → triples   (pages parquet → triples table)

Usage: python -m biocurator_mapper_spark.cli <cmd> [args] — see --help.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark():
    from .session import get_spark

    return get_spark(app_name="bcms-cli")


def cmd_resolve(args) -> int:
    from .pipeline.resolve import Resolver
    from .sources.catalog import ParquetCatalog

    spark = _spark()
    catalog = ParquetCatalog(spark, args.warehouse)
    terms = catalog.read(f"ontology_terms_{args.ontology}")
    resolver = Resolver(terms, k=args.k)
    print(json.dumps(resolver.resolve(args.passage), indent=2))
    return 0


def cmd_ingest(args) -> int:
    from .ontology import nodes_from_obo_graph, parse_terms
    from .ontology.version import OntologyVersionGate
    from .sources.catalog import ParquetCatalog
    from .sources.download import download_with_progress, record_download
    from .sources.obo_json import read_obo_graph

    spark = _spark()
    catalog = ParquetCatalog(spark, args.warehouse)
    path = args.source
    if "://" in args.source and not args.source.startswith("file://"):
        path = f"{args.warehouse}/source_ontologies/{args.ontology}.json"
        n = download_with_progress(args.source, path)
        record_download(catalog, args.ontology, path, n)
    obo = read_obo_graph(spark, path)
    gate = OntologyVersionGate(catalog, args.ontology)
    terms, rebuilt = gate.ensure(obo, lambda df: parse_terms(nodes_from_obo_graph(df)))
    print(
        json.dumps(
            {"ontology": args.ontology, "rebuilt": rebuilt, "n_terms": terms.count()}
        )
    )
    return 0


def cmd_embed(args) -> int:
    from .functions.dims import local_dim_df
    from .ontology.parser import embed_text, quality_filter
    from .operators.mentions import collect_driver_rows
    from .pipeline.model_client import embed_with_cache, preflight_check
    from .sources.catalog import ParquetCatalog

    if not preflight_check():
        print(json.dumps({"error": "embedding provider failed preflight"}))
        return 1
    spark = _spark()
    catalog = ParquetCatalog(spark, args.warehouse)
    terms = catalog.read(f"ontology_terms_{args.ontology}")
    kept = quality_filter(terms) if args.apply_filters else terms
    rows = collect_driver_rows(
        kept.select("term_id", embed_text().alias("embed_text")), "ontology terms"
    )
    vecs = embed_with_cache(rows, catalog)
    catalog.write_replace(
        local_dim_df(
            spark,
            [(r.term_id, r.embed_text, v) for r, (_, v) in zip(rows, vecs)],
            "term_id string, embed_text string, embedding array<float>",
        ),
        f"ontology_embeddings_{args.ontology}",
    )
    print(
        json.dumps(
            {
                "ontology": args.ontology,
                "embedded": len(rows),
                "filtered_out": terms.count() - len(rows),
            }
        )
    )
    return 0


def cmd_triples(args) -> int:
    from .pipeline.triples import TriplesPipeline
    from .sources.catalog import ParquetCatalog

    spark = _spark()
    catalog = ParquetCatalog(spark, args.warehouse)
    pages = spark.read.parquet(args.pages)
    terms = catalog.read(f"ontology_terms_{args.ontology}")
    pipe = TriplesPipeline(catalog, n_buckets=args.buckets)
    out = pipe.run(pages, terms, run_fingerprint=args.fingerprint)
    print(json.dumps({"triples": out.count()}))
    return 0


def cmd_curate(args) -> int:
    """Training-corpus funnel: optional corpus-wide paragraph dedup →
    optional ExactSubstr cut (duplicated >=L-char normalized runs removed,
    first occurrence kept) → gates (+ optional char-LM) → exact dedup →
    optional near-dup cluster removal → curated parquet + funnel JSON."""
    from pyspark.sql import functions as F

    from .operators.dedup import dedup_clusters
    from .pipeline.curation import curate, curation_funnel

    spark = _spark()
    docs = spark.read.parquet(args.docs)
    if args.paragraph_dedup:
        # CCNet ordering: drop corpus-wide repeated paragraphs FIRST so
        # boilerplate doesn't inflate quality/fingerprint signals downstream
        from .operators.dedup import paragraph_dedup_text

        docs = paragraph_dedup_text(docs, args.id_col, args.text_col)
    if args.exactsubstr_cut:
        # Lee et al. ExactSubstr on the corpus: every duplicated run of
        # >= L NORMALIZED chars is cut, first occurrence kept; text becomes
        # the normalized cut text (the tier operates on normalized text —
        # run it before the gates so the quality signals see the cut docs)
        from .operators.exactsubstr import (
            cut_spans_by_range,
            exact_substring_spans,
        )

        spans = exact_substring_spans(
            docs, args.id_col, args.text_col, length=args.exactsubstr_len
        )
        cut = cut_spans_by_range(docs, spans, args.id_col, args.text_col)
        docs = docs.drop(args.text_col).join(
            cut.select(
                args.id_col, F.col("text_cut").alias(args.text_col)
            ),
            args.id_col,
        )
    staged = curate(
        docs,
        id_col=args.id_col,
        text_col=args.text_col,
        keep_langs=tuple(args.keep_langs.split(",")),
        min_lm_score=args.min_lm_score,
    )
    funnel = {r.curation_stage: r.n_docs for r in curation_funnel(staged).collect()}
    kept_ids = staged.where(F.col("curation_stage") == "kept").select(args.id_col)
    kept = docs.join(kept_ids, args.id_col, "left_semi")
    if args.near_dup:
        reps = dedup_clusters(
            kept, args.id_col, args.text_col, threshold=args.lsh_threshold
        ).where(~F.col("is_duplicate")).select(args.id_col)
        kept = kept.join(reps, args.id_col, "left_semi")
    if args.quality_buckets:
        # CCNet bucket policy: per-stratum head/middle/tail tiers over the
        # distinct-token integer score; keep only --keep-buckets (1 = best)
        from .operators.dedup import tokens_expr
        from .operators.sampling import quality_buckets

        keepset = [int(x) for x in args.keep_buckets.split(",")]
        scored = kept.withColumn(
            "_q",
            F.size(F.array_distinct(tokens_expr(F.col(args.text_col)))).cast(
                "long"
            ),
        )
        tiers = quality_buckets(
            scored, args.bucket_strata_col, "_q", args.id_col,
            n_buckets=args.quality_buckets,
        )
        kept = (
            tiers.where(F.col("quality_bucket").isin(keepset))
            .drop("_q", "quality_bucket")
        )
    kept.write.mode("overwrite").parquet(args.out)
    # count the written files (footers only): kept.count() would re-run
    # the whole curate → MinHash → cluster chain
    print(json.dumps({"rows_in": docs.count(), "funnel": funnel,
                      "rows_out": spark.read.parquet(args.out).count(),
                      "out": args.out}))
    return 0


def cmd_mix(args) -> int:
    """Temperature-mixture sample (stratum mass ∝ n^alpha) → parquet."""
    from .operators.sampling import temperature_sample

    spark = _spark()
    docs = spark.read.parquet(args.docs)
    out = temperature_sample(
        docs, args.strata_col, args.id_col, args.alpha, args.target_rows
    )
    out.write.mode("overwrite").parquet(args.out)
    print(
        json.dumps(
            {
                "rows_in": docs.count(),
                "rows_out": spark.read.parquet(args.out).count(),
                "alpha": args.alpha,
                "target_rows": args.target_rows,
                "out": args.out,
            }
        )
    )
    return 0


def cmd_plan(args) -> int:
    """Token-budget mixture plan (LLaMA/Dolma arithmetic): per source, the
    budget share, whole epochs, and remainder tokens a dataloader executes.
    Integer-exact; one aggregation over the corpus. Prints the plan as
    JSON; --out also writes it as parquet."""
    from pyspark.sql import functions as F

    from .functions.text import token_count
    from .operators.mixing import epoch_plan

    spark = _spark()
    docs = spark.read.parquet(args.docs)
    weights: dict[str, int] = {}
    for part in args.weights.split(","):
        s, _, w = part.partition("=")
        weights[s] = int(w)
    d = docs.select(
        F.col(args.source_col).alias("source"),
        token_count(F.col(args.text_col)).cast("long").alias("_tok"),
    )
    plan = epoch_plan(d, "source", "_tok", weights, args.token_budget)
    rows = [r.asDict() for r in plan.orderBy("source").collect()]
    if args.out:
        plan.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"token_budget": args.token_budget, "plan": rows}))
    return 0


def cmd_pack(args) -> int:
    """Sequence-packing manifest: doc → (seq_id, seq_offset) → parquet.
    With ``--bpe-ids``, ALSO materialize the ctx-length windows of real
    BPE token ids (seq_id, n_tokens, seq_ids array<int>) to
    ``<out>_sequences`` — the tensor-ready training input."""
    from pyspark.sql import functions as F

    from .functions.text import token_count
    from .operators.packing import pack_sequences

    spark = _spark()
    docs = spark.read.parquet(args.docs)
    seq_out = None
    if args.bpe_ids:
        from .functions.bpe import bpe_encode_expr
        from .functions.bpe_merges import MERGES
        from .operators.packing import materialize_id_sequences

        enc = bpe_encode_expr(F.col(args.text_col), MERGES)
        seq_out = args.out.rstrip("/") + "_sequences"
        materialize_id_sequences(
            docs, args.id_col, enc, args.ctx_len
        ).write.mode("overwrite").parquet(seq_out)
        # the manifest counts the SAME tokenizer the sequences use
        base = docs.withColumn("_ids", enc).select(
            args.id_col, F.size("_ids").cast("bigint").alias("n_tokens")
        )
    else:
        base = docs.select(
            args.id_col,
            token_count(F.col(args.text_col)).cast("bigint").alias("n_tokens"),
        )
    packed = pack_sequences(base, args.id_col, "n_tokens", args.ctx_len)
    packed.write.mode("overwrite").parquet(args.out)
    # n_sequences = occupied sequences only: max(end_seq_id)+1 over-counts
    # when a zero-token doc's cum_before lands exactly on a ctx boundary,
    # and an empty input must report 0, not null
    stats = packed.agg(
        F.count(F.lit(1)).alias("docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("tokens"),
        F.coalesce(
            F.max(F.when(F.col("n_tokens") > 0, F.col("end_seq_id"))) + 1,
            F.lit(0),
        ).alias("seqs"),
    ).collect()[0]
    print(
        json.dumps(
            {
                "docs": stats["docs"],
                "total_tokens": stats["tokens"],
                "n_sequences": stats["seqs"],
                "ctx_len": args.ctx_len,
                "out": args.out,
                "sequences": seq_out,
            }
        )
    )
    return 0


def cmd_status(args) -> int:
    from .sources.catalog import ParquetCatalog
    from pyspark.sql import functions as F

    spark = _spark()
    catalog = ParquetCatalog(spark, args.warehouse)
    out = {}
    m = catalog.read_log("_metrics")
    if m is not None:
        out["metrics"] = [r.asDict() for r in m.orderBy(F.desc("ts")).limit(10).collect()]
    c = catalog.read_log("_checkpoints")
    if c is not None:
        out["checkpoints"] = (
            c.groupBy("fingerprint", "stage")
            .count()
            .orderBy("fingerprint")
            .limit(20)
            .toPandas()
            .to_dict("records")
        )
    v = catalog.read_log("_ontology_versions")
    if v is not None:
        out["ontology_versions"] = [r.asDict() for r in v.collect()]
    print(json.dumps(out, default=str, indent=2))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="bcms")
    ap.add_argument("--warehouse", default="./warehouse")
    sub = ap.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("resolve", help="passage → best ontology match")
    r.add_argument("passage")
    r.add_argument("--ontology", default="doid")
    r.add_argument("-k", type=int, default=5)
    r.set_defaults(fn=cmd_resolve)

    i = sub.add_parser("ingest", help="OBO JSON (path or URL) → terms table")
    i.add_argument("source")
    i.add_argument("--ontology", default="doid")
    i.set_defaults(fn=cmd_ingest)

    e = sub.add_parser("embed", help="terms → cached embedding table")
    e.add_argument("--ontology", default="doid")
    # BooleanOptionalAction: store_true+default=True made the flag a no-op
    # (quality filters could never be disabled from the CLI)
    e.add_argument(
        "--apply-filters", action=argparse.BooleanOptionalAction, default=True
    )
    e.set_defaults(fn=cmd_embed)

    t = sub.add_parser("triples", help="pages parquet → triples table")
    t.add_argument("pages")
    t.add_argument("--ontology", default="doid")
    t.add_argument("--fingerprint", default="manual")
    t.add_argument("--buckets", type=int, default=16)
    t.set_defaults(fn=cmd_triples)

    c = sub.add_parser("curate", help="docs parquet → curated corpus + funnel")
    c.add_argument("docs")
    c.add_argument("--out", required=True)
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--text-col", default="text")
    c.add_argument("--keep-langs", default="en")
    c.add_argument("--min-lm-score", type=float, default=None)
    c.add_argument("--near-dup", action=argparse.BooleanOptionalAction, default=False)
    c.add_argument("--lsh-threshold", type=float, default=0.5)
    c.add_argument(
        "--paragraph-dedup", action=argparse.BooleanOptionalAction, default=False
    )
    c.add_argument(
        "--exactsubstr-cut", action=argparse.BooleanOptionalAction, default=False
    )
    c.add_argument("--exactsubstr-len", type=int, default=50)
    c.add_argument("--quality-buckets", type=int, default=None)
    c.add_argument("--keep-buckets", default="1,2")
    c.add_argument("--bucket-strata-col", default="source")
    c.set_defaults(fn=cmd_curate)

    m = sub.add_parser("mix", help="temperature-mixture sample → parquet")
    m.add_argument("docs")
    m.add_argument("--out", required=True)
    m.add_argument("--id-col", default="doc_id")
    m.add_argument("--strata-col", default="source")
    m.add_argument("--alpha", type=float, default=0.7)
    m.add_argument("--target-rows", type=int, required=True)
    m.set_defaults(fn=cmd_mix)

    pl = sub.add_parser(
        "plan", help="token-budget mixture plan (epochs per source) → JSON"
    )
    pl.add_argument("docs")
    pl.add_argument("--weights", required=True, help="src=3,web=1,...")
    pl.add_argument("--token-budget", type=int, required=True)
    pl.add_argument("--source-col", default="source")
    pl.add_argument("--text-col", default="text")
    pl.add_argument("--out", default=None)
    pl.set_defaults(fn=cmd_plan)

    p = sub.add_parser("pack", help="sequence-packing manifest → parquet")
    p.add_argument("docs")
    p.add_argument("--out", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--ctx-len", type=int, default=2048)
    p.add_argument(
        "--bpe-ids",
        action="store_true",
        help="also materialize ctx-length windows of real BPE token ids "
        "to <out>_sequences",
    )
    p.set_defaults(fn=cmd_pack)

    s = sub.add_parser("status", help="metrics / checkpoints / versions")
    s.set_defaults(fn=cmd_status)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
