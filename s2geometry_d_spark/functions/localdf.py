"""Small driver-side row lists as LocalRelation DataFrames, built via Arrow.

``spark.createDataFrame(rows)`` over a plain Python list pickles the rows
into an RDD, so a 40-row broadcast side (a ring round's query frame, a
covering map, an assembled top-k) costs a Python-worker job.  ``local_df``
transposes the rows into a ``pyarrow.Table`` and hands that to
``createDataFrame``, which plans it as a bare LocalTableScan: no RDD, no
job.  Arrow also keeps the frame exactly as given — there is no SQL text
to parse or substitute into, doubles travel as their raw IEEE bits, an
explicit schema (nullability included) is kept verbatim, and an integer
that does not fit its field raises instead of wrapping.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for small driver-side lists.
    ``schema`` is a StructType, a DDL string, or a list of column names
    whose types Arrow infers per column over all rows (int -> bigint,
    float or mixed int/float -> double, str, bool)."""
    rows = list(rows)
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.names if isinstance(schema, T.StructType) else list(schema)
    cols = list(zip(*rows)) if rows else [()] * len(names)
    if isinstance(schema, T.StructType):
        arrow = to_arrow_schema(schema)
        arrays = [pa.array(c, type=f.type) for c, f in zip(cols, arrow)]
        table = pa.Table.from_arrays(arrays, schema=arrow)
    else:
        table = pa.Table.from_arrays([pa.array(c) for c in cols], names=names)
    return spark.createDataFrame(table, schema)
