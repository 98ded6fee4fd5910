"""Driver-literal rows as a pure-JVM LocalRelation.

``spark.createDataFrame(rows, ...)`` on a Python list routes tiny
driver-side tables through a pickled Python RDD: every action
re-deserializes the rows in executor Python workers (~0.4 s warm for a
1-row table here), and a ``coalesce(1)`` on top iterates all parent
slices through ONE worker sequentially (measured 4.9 s per action for
the 224-row suite verdict grid — paid on every suite run).

``createDataFrame`` on a ``pyarrow.Table`` instead ships the rows to the
JVM once as Arrow batches and plans a ``LocalRelation`` (a
``LocalTableScan``, sliced over the default parallelism; past
``spark.sql.execution.arrow.localRelationThreshold`` bytes, 48 MB by
default, an RDD of Arrow batches that the JVM decodes). No Python
worker runs at any size, with Arrow execution enabled or not. The table
is built column-wise from the DDL's Arrow schema: ``pa.array`` keeps
every double exact and NaN/±inf as values (the pandas route would turn
NaN into NULL), and a value outside its column type raises
``ArrowInvalid`` instead of wrapping.

Intended for driver-known tables of plain scalars (verdict grids,
metric rows, per-partition offsets, scalar results).
"""

from __future__ import annotations

from typing import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_rows_df(
    spark: SparkSession, rows: Sequence[tuple], schema_ddl: str
) -> DataFrame:
    """Build a DataFrame of literal ``rows`` (tuples of plain Python
    scalars; ``None`` allowed) with the DDL ``schema_ddl``, as a JVM
    LocalRelation instead of a pickled-RDD scan."""
    schema = to_arrow_schema(StructType.fromDDL(schema_ddl))
    columns = zip(*rows) if rows else [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(values, f.type) for values, f in zip(columns, schema)],
        schema=schema,
    )
    return spark.createDataFrame(table)
