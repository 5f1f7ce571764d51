"""Source-parallelism probe: one walk of the planned physical plan.

Several operators round-robin-repartition their input when it has fewer
partitions than half the cores (a single small parquet file would other-
wise run every narrow Python/HOF stage on ONE task). The obvious probe —
``df.rdd.getNumPartitions()`` — is not a planning pass under AQE: it
EXECUTES every shuffle and broadcast stage below the root (3 jobs and
1.2–1.7 s on a curated ``docs ⋈ left_semi curate(docs)`` frame of 500
docs, local[4]). So the count is read off the PLANNED physical plan
(:func:`_planned_partitions`), which launches no job:

* a file scan answers with its input RDD's split count, built from the
  file listing (Spark's own split packing), not run;
* a union answers with the sum of its children's counts;
* a plan the walk cannot resolve answers None, and the valve does not fire.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame

_BROADCAST_JOINS = frozenset({"BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"})


def _node_partitions(node) -> int | None:
    """Partition count of one physical node, walking down from it along the
    child that sets the partitioning (the only child of a unary node, the
    streamed side of a broadcast join, every child of a union)."""
    while True:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
            continue
        n = node.outputPartitioning().numPartitions()
        if n > 0:
            return int(n)
        children = node.children()
        if children.size() == 0:
            return int(node.inputRDD().getNumPartitions())
        if children.size() == 1:
            node = children.head()
        elif name in _BROADCAST_JOINS:
            build_right = node.buildSide().toString() == "BuildRight"
            node = node.left() if build_right else node.right()
        elif name == "UnionExec":
            counts = [_node_partitions(children.apply(i)) for i in range(children.size())]
            return None if None in counts else sum(counts)
        else:
            return None


def _planned_partitions(df: DataFrame) -> int | None:
    """Partition count of ``df`` read off its planned physical plan, or
    None when the walk cannot resolve it. Launches no job.

    The walk stops at the first node that declares a partition count — an
    exchange, ``repartition(n)``, ``coalesce(n)``, a Range — or at a leaf
    scan, and sums the children of a union. Under AQE it reads the
    adaptive plan's current physical plan, which until the frame runs is
    its initial plan: a hash exchange therefore reports ``spark.sql.
    shuffle.partitions``, not the count AQE may coalesce it to at run
    time."""
    try:
        return _node_partitions(df._jdf.queryExecution().executedPlan())
    # a leaf without inputRDD, an unplannable (streaming) frame, or no JVM
    # plan at all (Spark Connect)
    except (AttributeError, Py4JError, PySparkException):
        return None


def spread_partitions(df: DataFrame) -> int | None:
    """The under-split valve: ``defaultParallelism`` (the count callers
    repartition to) when ``df`` has fewer planned partitions than half the
    cores, else None — properly split inputs, and plans the walk cannot
    resolve, skip the shuffle."""
    default_p = df.sparkSession.sparkContext.defaultParallelism
    n = _planned_partitions(df)
    if n is not None and n < max(default_p // 2, 1):
        return default_p
    return None
