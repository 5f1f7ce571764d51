"""Cheap source-parallelism probe.

Several operators round-robin-repartition their input when the SOURCE has
fewer splits than half the cores (a single small parquet file would other-
wise run every narrow Python/HOF stage on ONE task). The obvious probe —
``df.rdd.getNumPartitions()`` — is not a planning pass under AQE: it
EXECUTES every shuffle and broadcast stage below the root (3 jobs and
1.2–1.7 s on a curated ``docs ⋈ left_semi curate(docs)`` frame of 500
docs, local[4]). So:

* plain local file scans: the number is computed driver-side from file
  sizes with Spark's own split-packing formula (``FilePartition.
  maxSplitBytes`` + ``getFilePartitions`` bin packing, public Spark
  source) — about 13 ms;
* any other plan: the count is read off the PLANNED physical plan
  (:func:`_planned_partitions`) — 70–100 ms, no job. This walk is the only
  way to probe a plan with an exchange without running it;
* shapes the walk cannot resolve fall back to the RDD probe.
"""

from __future__ import annotations

import math
import os
from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame


def _conf_bytes(spark, key: str, default: int) -> int:
    raw = spark.conf.get(key, str(default))
    s = str(raw).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    try:
        if s and s[-1] == "b":
            s = s[:-1]
        if s and s[-1] in units:
            return int(float(s[:-1]) * units[s[-1]])
        return int(s)
    except ValueError:
        return default


_NARROW_NODES = frozenset({"Project", "Filter", "Relation", "SubqueryAlias", "View"})


def _is_narrow_over_scan(df: DataFrame) -> bool:
    """True when the ANALYZED plan is only Project/Filter over one file
    relation — the shapes whose partitioning equals the scan's splits."""
    try:
        tree = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # noqa: BLE001 — connect mode etc.
        return False
    for line in tree.splitlines():
        node = line.lstrip(" :+-").split(" ", 1)[0].split("[", 1)[0]
        if node and node not in _NARROW_NODES:
            return False
    return True


_BROADCAST_JOINS = frozenset({"BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"})


def _planned_partitions(df: DataFrame) -> int | None:
    """Partition count of ``df`` read off its planned physical plan, or
    None when the walk cannot resolve it. Launches no job.

    Walks down from the root along the child that sets the partitioning
    (the only child of a unary node, the streamed side of a broadcast
    join) and stops at the first node that declares a partition count —
    an exchange, ``repartition(n)``, ``coalesce(n)``, a Range — or at a
    leaf file scan, whose split count is its input RDD's (built from the
    file listing, not run). Under AQE the walk reads the adaptive plan's
    current physical plan, which until the frame runs is its initial
    plan: a hash exchange therefore reports ``spark.sql.shuffle.
    partitions``, not the count AQE may coalesce it to at run time."""
    try:
        node = df._jdf.queryExecution().executedPlan()
        while True:
            if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
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
            elif node.getClass().getSimpleName() in _BROADCAST_JOINS:
                build_right = node.buildSide().toString() == "BuildRight"
                node = node.left() if build_right else node.right()
            else:
                return None
    # a leaf without inputRDD, an unplannable (streaming) frame, or no JVM
    # plan at all (Spark Connect)
    except (AttributeError, Py4JError, PySparkException):
        return None


def _probed_partitions(df: DataFrame) -> int:
    """The planned-plan count, else the RDD probe (the ground truth)."""
    n = _planned_partitions(df)
    return df.rdd.getNumPartitions() if n is None else n


def estimated_source_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s scan, estimated driver-side when cheap.

    Exact enough for the "under-partitioned?" decision: replicates Spark's
    maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    (totalBytes + nFiles·openCost) / minPartitionNum)) and the greedy
    packing partitions ≈ ceil(totalSize / maxSplitBytes). Any other plan,
    non-local URIs or unreadable files are answered by the planned-plan
    walk (:func:`_planned_partitions`, no job); only shapes it cannot
    resolve pay ``df.rdd.getNumPartitions()``, which under AQE executes
    every shuffle and broadcast stage below the root.
    """
    spark = df.sparkSession
    # the file estimate describes the SCAN — it is only the DataFrame's
    # partition count when every operator above the scan is narrow and
    # partitioning-preserving (Project/Filter). A repartition, join,
    # aggregate or generate in between changes the partitioning, and
    # treating e.g. an explicitly pre-repartitioned corpus as "one split"
    # would re-shuffle the whole (possibly huge) relation. Measured: that
    # exact mistake shuffled a 24 GB synthetic corpus and doubled a
    # 12M-page run.
    if not _is_narrow_over_scan(df):
        return _probed_partitions(df)
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — e.g. streaming relations
        return _probed_partitions(df)
    if not files:
        return _probed_partitions(df)
    sizes = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return _probed_partitions(df)
        try:
            sizes.append(os.path.getsize(unquote(u.path)))
        except OSError:
            return _probed_partitions(df)
    max_pb = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    min_parts = int(
        spark.conf.get(
            "spark.sql.files.minPartitionNum",
            str(spark.sparkContext.defaultParallelism),
        )
    )
    total = sum(sizes) + len(sizes) * open_cost
    max_split = min(max_pb, max(open_cost, total // max(min_parts, 1)))
    splits = sum(
        max(1, math.ceil(sz / max(max_split, 1))) for sz in sizes
    )
    # greedy packing merges small splits up to max_split per partition
    packed = max(1, math.ceil(total / max(max_split, 1)))
    return min(splits, packed) if splits else 1


def spread_partitions(df: DataFrame) -> int | None:
    """The under-split valve: ``defaultParallelism`` (the count callers
    repartition to) when ``df``'s source has fewer partitions than half the
    cores, else None — properly split inputs skip the shuffle."""
    default_p = df.sparkSession.sparkContext.defaultParallelism
    if estimated_source_partitions(df) < max(default_p // 2, 1):
        return default_p
    return None
