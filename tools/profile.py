"""Per-query profile of the contract queries, and the PLANS.md plan audit.

Per query, the minimum over ``--repeats`` fresh builds of ``build_s`` (the
query function), ``plan_s`` (the executed physical plan) and ``exec_s`` (a
JVM-side ``collect()`` of the query execution ``plan_s`` planned: every
column runs, where ``.count()`` lets Catalyst prune, and nothing is planned
again, where a ``noop`` write would build a new query execution); from the
last repeat, its stage and per-node rows (``kgbench/trace.py``), the shape
of its final adaptive plan and ``plan_md5``. The session is bench.py's:
query memo off, 1 MB splits, max(cpus, 8) shuffle partitions.

    python tools/profile.py --sf-dir /root/testdata/sf0.1 --cpus 4 --out PROFILE.json
    python tools/profile.py --plans --sf-dir /root/testdata/sf0.01 > PLANS.md
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import re
import sys
import time
from unittest import mock

if __name__ == "__main__":  # tools/ heads sys.path, where this file would
    # shadow the standard library's profile module (cProfile imports it)
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from bench import FORCE_FULL_EVAL, HEADLINE  # noqa: E402
from kgbench.trace import StatusStore  # noqa: E402

# the scale-critical queries whose plan shape PLANS.md tracks
AUDITED = """kg_triples j6_mention_detect j5_topk_similarity j5b_broadcast_matmul_topk
dedup_minhash_lsh dedup_ngram_jaccard dedup_decontaminate_exact dedup_simhash
sim_ann_lsh_topk sim_ann_ivf_topk emb_near_dup_pairs lex_bm25_topk curation_pipeline
text_lm_score text_quality text_repetition text_lang_id text_chunks text_dup_ngrams
text_bpe_real pack_sequences train_shuffle_order dedup_paragraphs dedup_incremental
sample_temperature profile_documents pack_materialize dedup_substring_candidates
dedup_exactsubstr_spans dedup_exactsubstr_cut dedup_exactsubstr_incremental
sample_dsir_weights dedup_decontaminate_bloom url_canonical dedup_url_latest
sample_domain_cap text_bpe_ids pack_materialize_ids sim_ann_ivf_indexed
url_registrable_psl mix_epoch_plan dedup_clusters_best sample_ccnet_buckets
kg_pagerank url_blocklist_filter url_snapshot_diff sim_ann_q8_topk text_bpe_roundtrip
agg_pricing_summary join_top_customers_per_nation skew_salted_join
sample_stratified""".split()
SHAPE = {"shuffles": "shuffles", "reused": "reused", "broadcasts": "broadcasts",
         "py_nodes": "arrow-py", "row_py": "row-py", "scans": "scans",
         "codegen_spans": "codegen", "pushed": "pushed"}
STAGE_KEYS = ("id", "name", "tasks", "run_s", "shuffle_write_bytes", "spill_bytes")
MEMO_OFF = {"SPARK_GRAFT_QUERY_MEMO": "0"}
PLANS_MD = """# PLANS — physical-plan audit of the scale-critical queries

Generated by `python tools/profile.py --plans --sf-dir {sf_dir}` on
local[{cpus}], query memo off. Counted in the FINAL adaptive plan: shuffle
exchanges, reused exchanges, broadcast exchanges, Arrow Python crossings,
row-at-a-time Python nodes (must be 0), parquet scans, whole-stage-codegen
spans, scans with pushed filters. `plan_md5` digests the optimized logical
plan, expression ids and lambda-variable suffixes masked; "(varied)" marks
one that differed between fresh builds.

{table}

Notes:
- kg_triples / j6 / dedup_*: one counted shuffle is the round-robin valve,
  taken only when the input has fewer splits than half the cores.
- sim_ann_* / emb_near_dup re-scan the parquet per bucket pass and vector
  rejoin BY DESIGN: cheaper than shuffling embedding payloads.
- dedup_paragraphs codegen reads 9 or 10: AQE picks the paragraph rejoin's
  build side at run time. Shape columns are not an equality check; `plan_md5` is.
- profile_documents' digest differs between builds: Spark's distinct-aggregate
  rewrite orders the Expand columns by expression-id hashes.
- dedup_clusters_best reads 2 or 3 shuffles and 6 or 8 codegen spans from one
  full run to the next with the same `plan_md5`: AQE's run-time join choice.
"""


def shape(df) -> dict:
    """Shape counts of ``df``'s final adaptive plan. AQE finalizes the plan
    (codegen markers, coalesced reads, reused exchanges) only as stages
    actually run, so ``df`` must have run in its own query execution."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the final AQE plan string appends the pre-execution plan under an
    # "== Initial Plan ==" header — count the FINAL plan only
    plan = plan.split("== Initial Plan ==")[0]
    lines = plan.splitlines()
    return {
        "shuffles": sum(1 for l in lines if "Exchange" in l
                        and "BroadcastExchange" not in l and "ReusedExchange" not in l),
        "broadcasts": sum(1 for l in lines if "BroadcastExchange" in l),
        "py_nodes": sum(1 for l in lines if "MapInPandas" in l or "ArrowEvalPython" in l),
        "row_py": sum(1 for l in lines if "BatchEvalPython" in l),
        "scans": sum(1 for l in lines if "Scan parquet" in l or "FileScan" in l),
        # Spark 4 text plans mark codegen stages with "*(n)" prefixes
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "reused": sum(1 for l in lines if "ReusedExchange" in l),
        "pushed": sum(1 for l in lines if re.search(r"PushedFilters: \[[^\]]+\]", l)
                      and "PushedFilters: []" not in l),
    }


def plan_md5(df) -> str:
    """md5 of the optimized logical plan, expression ids (``#12L``) and lambda
    suffixes (``x_37``) masked: process-wide counters set both."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"\b([xyz])_\d+\b", r"\1_", re.sub(r"#\d+L?", "#", plan))
    return hashlib.md5(plan.encode()).hexdigest()


def profile_query(spark, name: str, fn, sf_dir: str, repeats: int, store) -> dict:
    times, digests = [], []
    for _ in range(repeats):
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        t1 = time.monotonic()
        df._jdf.queryExecution().executedPlan()
        t2 = time.monotonic()
        stage0, exec0 = store.max_stage_id(), store.max_execution_id()
        t3 = time.monotonic()
        # the Dataset's own action runs the planned query execution under a
        # SQL execution id; the rows stay in the driver JVM
        df._jdf.collect()
        times.append((t1 - t0, t2 - t1, time.monotonic() - t3))
        digests.append(plan_md5(df))
    out = {k: round(min(t[i] for t in times), 3)
           for i, k in enumerate(("build_s", "plan_s", "exec_s"))}
    out["bench_sink"] = "checksum" if name in FORCE_FULL_EVAL else "count"
    out |= shape(df)
    out["plan_md5"], out["plan_md5_stable"] = digests[-1], len(set(digests)) == 1
    # the status store is filled by the listener bus, asynchronously
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    out["stages"] = [{k: s[k] for k in STAGE_KEYS} for s in store.stages_after(stage0)]
    out["nodes"] = [{"exec": e, "node": node, "rows": rows}
                    for e, node, _, rows in store.sql_plan_rows(exec0)]
    return out


def profile(spark, names, sf_dir: str, repeats: int = 3) -> dict:
    """Profile ``names`` with the query memo off (fresh builds, no persist)."""
    import __spark_entry__ as em

    with mock.patch.dict(os.environ, MEMO_OFF):
        qs, store = em.queries(), StatusStore(spark)
        return {n: profile_query(spark, n, qs[n], sf_dir, repeats, store) for n in names}


def session(cpus: int):
    """bench.py's session and warmups (Python workers, flagship modules)."""
    import __spark_entry__ as em
    from pyspark.sql.functions import col, pandas_udf

    from biocurator_mapper_spark.session import get_spark

    spark = get_spark(app_name="bcms-profile", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8),
                      extra={"spark.sql.files.maxPartitionBytes": str(1024 * 1024)})
    warm = pandas_udf(lambda s: s, "long")
    spark.range(100000).select(warm(col("id"))).count()
    with mock.patch.dict(os.environ, MEMO_OFF):
        em.queries()["kg_triples"](spark, "/root/testdata/sf0.001").count()
    return spark


def plans_md(res: dict, sf_dir: str, cpus: int) -> str:
    head = ["query", *SHAPE.values(), "plan_md5"]
    rows = [f"| {' | '.join(head)} |", "|---" * len(head) + "|"]
    for n, r in res.items():
        md5 = r["plan_md5"] + ("" if r["plan_md5_stable"] else " (varied)")
        rows.append(f"| {n} | {' | '.join(str(r[k]) for k in SHAPE)} | {md5} |")
    return PLANS_MD.format(sf_dir=sf_dir, cpus=cpus, table="\n".join(rows))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--queries", default=",".join(HEADLINE))
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    ap.add_argument("--cpus", type=int, default=int(cpus))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--out", help="write here instead of stdout")
    ap.add_argument("--plans", action="store_true", help="PLANS.md of AUDITED")
    args = ap.parse_args()
    if args.repeats < 1 or args.cpus < 1:
        ap.error("--repeats and --cpus must be at least 1")
    spark = session(args.cpus)
    names = AUDITED if args.plans else [n for n in args.queries.split(",") if n]
    res = profile(spark, names, args.sf_dir, args.repeats)
    spark.stop()
    if args.plans:
        text = plans_md(res, args.sf_dir, args.cpus)
    else:
        sf = args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        text = json.dumps({"sf": sf, "cpus": args.cpus, "repeats": args.repeats,
                           "queries": res}, indent=1)
    with open(args.out, "w") if args.out else contextlib.nullcontext(sys.stdout) as f:
        print(text, file=f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
