"""Physical-plan inspection helpers for the plan tests.

The engine's scale guarantees are plan-shape guarantees: "the corpus
shuffles once", "the ontology side is always broadcast", "filters reach the
scan". These helpers turn those claims into assertions.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def exchanges(df: DataFrame) -> list[str]:
    """All shuffle exchanges (hash/range repartitions), excluding broadcasts."""
    return [
        line.strip()
        for line in _plan_string(df).splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    ]


def broadcast_exchanges(df: DataFrame) -> list[str]:
    return [
        line.strip()
        for line in _plan_string(df).splitlines()
        if "BroadcastExchange" in line
    ]


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every scan in the plan."""
    out = []
    for line in _plan_string(df).splitlines():
        m = re.search(r"PushedFilters: \[([^\]]*)\]", line)
        if m and m.group(1):
            # "PushedFilters: []" (no pushdown) must NOT count — a truthy
            # empty entry made the pushdown assertions impossible to fail
            out.append(m.group(1))
    return out


def plan_summary(df: DataFrame) -> dict:
    plan = _plan_string(df)
    return {
        "n_shuffle_exchanges": sum(
            1 for l in plan.splitlines() if "Exchange" in l and "BroadcastExchange" not in l
        ),
        "n_broadcast_exchanges": sum(1 for l in plan.splitlines() if "BroadcastExchange" in l),
        "n_scans": sum(1 for l in plan.splitlines() if "FileScan" in l or "Scan parquet" in l),
        "has_pushed_filters": bool(pushed_filters(df)),
    }
