"""Driver-contract self-test: every queries() entry runs at sf0.001 and the
oracle key set is consistent. (The value-level Spark↔DuckDB comparison runs
in tools/check_oracles.py and in the driver's own correctness gate.)"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def test_oracle_keys_subset_of_queries():
    qk = set(entrymod.queries())
    ok = set(entrymod.oracle_sql())
    assert ok <= qk, ok - qk
    # the rows-only set is small and intentional
    rows_only = qk - ok
    assert rows_only <= {"dedup_simhash", "sim_ann_lsh_topk", "sim_ann_ivf_topk", "kg_triples"}


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns[0] == "subj"


def test_read_sees_parquet_rewritten_in_place(spark, tmp_path, monkeypatch):
    """The parquet schema cache is keyed on (path, mtime, size): a file
    rewritten in the same process is read with its NEW schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setenv("SPARK_GRAFT_QUERY_MEMO", "0")
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert entrymod._read(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    df = entrymod._read(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs_and_schema_sane(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    cols = df.columns
    # aliased, lowercase, no expression-shaped names (driver hashes by name)
    for c in cols:
        assert re.fullmatch(r"[a-z][a-z0-9_]*", c), (name, c)
    n = df.count()
    assert n >= 0
    if name not in ("j3_antijoin_unprocessed",):  # legitimately empty
        assert n > 0, name


def test_rotation_covers_every_query_within_two_rounds():
    """Each round's correctness snapshot records the first ~50 queries of
    queries() in dict order (its observed entry cap). Those, together with
    the queries recorded in the newest CORRECTNESS_r*.json snapshot, must
    be every query — the rotation policy that keeps no query's snapshot
    row more than two rounds stale."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    newest = max(
        glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)),
    )
    with open(newest) as f:
        last_round = set(json.load(f))
    keys = list(entrymod.queries())
    covered = set(keys[:50]) | last_round
    assert covered == set(keys), sorted(set(keys) - covered)
