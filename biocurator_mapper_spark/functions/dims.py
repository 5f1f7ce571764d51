"""Driver-local dimension-table construction.

A dimension table (surface map, canonical map, term text, centroid list,
weights) is driver-sized by definition: its rows are already in driver
memory. ``local_dim_df`` hands them to the JVM as ONE Arrow table through
``spark.createDataFrame(pa.Table, schema)``, which plans as a
``LocalRelation``:

- no Python-worker job: the rows cross the Python/JVM boundary once, as
  Arrow, at plan-build time. The pickled-row route
  (``createDataFrame(rdd)``) planned as a ``LogicalRDD`` whose every
  collect or broadcast build re-ran a Python task to unpickle the rows;
- the relation carries size statistics, so joins against it can plan
  as broadcasts without a hint;
- the Arrow columns are typed from the Spark schema
  (``to_arrow_schema``), so a ``long`` keeps all 64 bits. The table is
  built straight from the Python values, never through pandas: a pandas
  ``long`` column holding a null becomes ``float64`` and rounds
  ``2**62 + 1`` to ``2**62``.

Scale note: only relations already materialized on the driver go through
here; corpus relations never do.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def struct_schema(schema: StructType | str) -> StructType:
    """A ``StructType`` as is; a DDL string (``"a int, b string"``) parsed."""
    return schema if isinstance(schema, StructType) else StructType.fromDDL(schema)


def arrow_table(rows: list, schema: StructType) -> pa.Table:
    """Driver rows (tuples or ``Row``s, in schema order) → an Arrow table
    typed by the Spark schema: ``timestamp`` becomes ``timestamp[us, UTC]``,
    ``int`` int32, ``long`` int64."""
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    return pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )


def local_dim_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """``createDataFrame`` for driver-local dimension rows, as an
    Arrow-backed ``LocalRelation``.

    Empty ``rows`` falls back to the plain path.
    """
    if not rows:
        return spark.createDataFrame([], schema)
    schema = struct_schema(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)
