"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB target (AQE on, skew-join splitting,
Arrow-batched Python, partition-size caps) while remaining correct on
``local[N]`` in tests. Nothing here is cluster-specific: on a real cluster the
same builder is used via ``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuned defaults; override any of them via the `extra` mapping or spark-submit.
_DEFAULTS = {
    # Adaptive execution: coalesce small post-shuffle partitions, split skewed
    # ones (head-domain skew is expected in web data; see north rule).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for all pandas UDF / toPandas traffic; bounded batch size so the
    # embedding/matmul UDFs see predictable memory.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast threshold generous enough for the ontology dimension table
    # (~20k × 1536 floats ≈ 120 MB stays under the default executor memory).
    "spark.sql.autoBroadcastJoinThreshold": str(128 * 1024 * 1024),
    # Input split sizing — at 100 TB this is what bounds task count/memory.
    "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
    # Don't let timestamps silently shift across JVM/Python.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    # Quieter local runs.
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Driver JVM young-generation ceiling. G1 grows the heap whenever its GC
    # pause share crosses a threshold and lets eden fill up to 60% of it; on
    # a loaded host that crossing is timing noise, so the same local[4] run
    # on a shared 4-core box peaked anywhere from 1.3 to 2.2 GB of driver
    # JVM RSS at a 3g heap. Task garbage dies young either way.
    # extraJavaOptions still apply after this.
    "spark.driver.defaultJavaOptions": "-XX:MaxNewSize=256m",
}


def get_spark(
    app_name: str = "biocurator_mapper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback ``local[*]``)
    so the same entrypoint works in tests, bench runs and spark-submit (where
    master is supplied externally and this arg stays None).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra:
        conf.update(extra)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
