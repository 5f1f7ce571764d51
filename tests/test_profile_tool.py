"""tools/profile.py on the suite's session: phase times, status-store rows,
plan shape and the plan digest, at sf0.001."""

from __future__ import annotations

import importlib.util
import os
from unittest import mock

SF = "/root/testdata/sf0.001"
TOOL = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "profile.py")


def _tool():
    spec = importlib.util.spec_from_file_location("profile_tool", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tree_counts(df) -> dict:
    """The shape columns counted by walking the final adaptive plan's JVM
    node tree — not its text, which is what the tool reads."""
    names, pushed = [], 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        names.append(p.nodeName())
        if cls == "FileSourceScanExec":
            pushed += p.metadata().get("PushedFilters").get() != "[]"
        stack.extend(p.children().apply(i) for i in range(p.children().size()))
    return {
        "shuffles": names.count("Exchange"),
        "reused": names.count("ReusedExchange"),
        "broadcasts": names.count("BroadcastExchange"),
        "py_nodes": sum(n in ("MapInPandas", "ArrowEvalPython") for n in names),
        "row_py": names.count("BatchEvalPython"),
        "scans": sum(n.startswith("Scan parquet") for n in names),
        "codegen_spans": sum(n.startswith("WholeStageCodegen") for n in names),
        "pushed": pushed,
    }


def test_profile_tool_phases_rows_shape_and_digest(spark):
    import __spark_entry__ as em

    tool = _tool()
    names = ["text_quality", "j5b_broadcast_matmul_topk"]
    res = tool.profile(spark, names, SF, repeats=1)
    assert list(res) == names
    qs = em.queries()
    for name, r in res.items():
        assert r["build_s"] > 0 and r["plan_s"] > 0 and r["exec_s"] > 0, r
        assert r["stages"] and all(s["tasks"] > 0 for s in r["stages"]), name
        assert any(n["rows"] > 0 for n in r["nodes"]), name
        with mock.patch.dict(os.environ, {"SPARK_GRAFT_QUERY_MEMO": "0"}):
            df = qs[name](spark, SF)
            df.collect()
            assert {k: r[k] for k in tool.SHAPE} == _tree_counts(df), name
            fresh = [tool.plan_md5(qs[name](spark, SF)) for _ in range(2)]
        assert fresh == [r["plan_md5"]] * 2, name
    # the Python crossing is visible to both the shape and the node rows
    assert res["j5b_broadcast_matmul_topk"]["py_nodes"] == 1
    assert any(n["node"] == "MapInPandas" and n["rows"] > 0
               for n in res["j5b_broadcast_matmul_topk"]["nodes"])
