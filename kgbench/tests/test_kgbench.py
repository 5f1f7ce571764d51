"""The benchmark's own tests.

    python3 -m pytest kgbench/tests -q

Generation and the output checks are tested without Spark; the tiny end-
to-end runs start ``local[4]`` Spark once per run (about a minute each).
Scratch files go under ``.kgbench/`` in the repository root.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from kgbench import gen, oracle, workloads  # noqa: E402

SCRATCH = os.path.join(ROOT, ".kgbench", "tests")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for dp, dn, fn in sorted(os.walk(path)):
        dn.sort()
        for f in sorted(fn):
            if f == "manifest.json":
                continue
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.fixture()
def scratch(request):
    d = os.path.join(SCRATCH, request.node.name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------------ generation


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_generation_is_deterministic_per_seed(workload, scratch):
    digests = {}
    for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
        d, m = workloads.prepare_inputs(os.path.join(scratch, tag), workload, seed, 0.02)
        digests[tag] = _tree_digest(d)
        assert m["seed"] == seed and m["gen_version"] == gen.GEN_VERSION
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


def test_generated_pages_extract_to_their_text():
    from biocurator_mapper_spark.extract.html_text import extract_text_py

    doc = gen.gen_ontology(5, 200)
    good = gen.ontology_surfaces(doc)
    rows = gen.gen_pages(5, good, 60, (500, 3000), (2000, 9000))
    assert all(extract_text_py(r[2]) == r[3] for r in rows)
    assert any(gen.HUB_HOST in r[0] for r in rows)


def test_generated_docs_plant_every_gate():
    _, truth = gen.gen_docs(5, 600)
    stages = set(truth["stage"].values())
    assert {"kept", "duplicate", "too_short", "too_few_tokens", "too_much_punct",
            "no_stopwords", "too_repetitive", "wrong_language"} <= stages
    assert truth["clusters"]


# ---------------------------------------------------------- output checks


def _tiny_kg(seed=7, n_terms=300, n_pages=80):
    doc = gen.gen_ontology(seed, n_terms)
    good = gen.ontology_surfaces(doc)
    rows = gen.gen_pages(seed, good, n_pages, (300, 1500), (1000, 3000))
    ref = oracle.TriplesReference(doc)
    exp = [t for t in (ref.triple(r[0], r[3]) for r in rows) if t]
    return doc, rows, exp, workloads.expected_kg(ref, rows), ref


def test_triples_check_catches_dropped_and_flipped_rows():
    _, _, exp, expected, ref = _tiny_kg()
    assert workloads.check_triple_rows(list(exp), expected) == []
    assert workloads.check_triple_rows(exp[1:], expected)
    flipped = list(exp)
    other = next(t for t in sorted(ref.term_vec) if t != flipped[0][2])
    flipped[0] = (flipped[0][0], flipped[0][1], other, *flipped[0][3:])
    assert workloads.check_triple_rows(flipped, expected)


def test_extraction_check_catches_one_altered_byte():
    from biocurator_mapper_spark.extract.html_text import extract_text_py

    _, rows, _, expected, _ = _tiny_kg()
    shas = [(r[0], oracle.sha256_text(extract_text_py(r[2]))) for r in rows]
    assert workloads.check_extracted(shas, expected["text_digest"]) == []
    i = next(i for i, r in enumerate(rows) if r[3])
    text = rows[i][3]
    bad = text[:-1] + chr(ord(text[-1]) ^ 1)
    shas[i] = (rows[i][0], oracle.sha256_text(bad))
    assert workloads.check_extracted(shas, expected["text_digest"])


def test_curation_check_catches_a_wrong_kept_id(scratch):
    d, _ = workloads.prepare_inputs(scratch, "curate_dedup", 2, 0.05)
    d = os.path.join(d, "main")
    with open(os.path.join(d, "expected.json")) as f:
        expected = json.load(f)
    # the reference's own final ids, re-derived from the planted truth
    from biocurator_mapper_spark.operators.dedup import _MINHASH_AB
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(d, "docs")).to_pylist()
    kept = {r["doc_id"]: r["text"] for r in docs if r["doc_id"] in set(expected["kept_ids"])}
    _, _, rep = oracle.lsh_reference(kept, _MINHASH_AB[:16])
    final = [i for i in kept if rep[i] == i]
    pairs = [tuple(p) for p in expected["ngram_pairs"]]
    funnel = dict(expected["funnel"])
    assert workloads.check_curation(funnel, final, pairs, expected) == []
    wrong = sorted(final)[:-1] + [max(kept) + 1]
    assert workloads.check_curation(funnel, wrong, pairs, expected)
    assert workloads.check_curation({**funnel, "kept": funnel["kept"] - 1}, final, pairs, expected)


def test_reference_embedding_and_scanner_match_the_engine():
    """The reference scanner finds exactly what the engine's automaton
    finds (same substring relation, independent code)."""
    from biocurator_mapper_spark.operators.mentions import AhoCorasick

    _, rows, _, _, ref = _tiny_kg(n_terms=3000, n_pages=40)
    ac = AhoCorasick(list(ref.surface_terms))
    for r in rows:
        assert set(ac.find_distinct(r[3])) == ref.candidates(r[3])


# ------------------------------------------------------------- end to end


def _run(args, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "kgbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p


def _result(p):
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_each_workload_runs_tiny_and_prints_the_end_to_end_metrics(workload):
    out = _result(_run(["--workload", workload, "--seed", "1", "--seconds", "1",
                        "--trace", "0", "--scale", "0.03"]))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    names = [m["name"] for m in BENCH["end_to_end"]]
    assert list(out["metrics"]) == names
    for m in BENCH["end_to_end"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert out["metrics"][m["name"]]["value"] > 0


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_run_prints_every_per_layer_metric(workload):
    out = _result(_run(["--workload", workload, "--seed", "1", "--seconds", "1",
                        "--trace", "1", "--scale", "0.03"]))
    assert out["correct"]
    assert sorted(out["metrics"]) == sorted(m["name"] for m in BENCH["per_layer"])
    for m in BENCH["per_layer"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    value = {k: v["value"] for k, v in out["metrics"].items()}
    if workload == "kg_crawl":
        assert value["fused_pass.tasks"] > 0 and value["python_udf_executions"] > 0
    else:
        assert value["ngram_jaccard.intersection_rows"] > 0 and value["minhash_lsh.s"] > 0
        assert value["python_udf_executions"] == 0


def test_refuses_to_run_without_the_program(scratch):
    shutil.copytree(os.path.join(ROOT, "kgbench"), os.path.join(scratch, "kgbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), scratch)
    p = subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", "kg_crawl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=scratch, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert not p.stdout.strip()
