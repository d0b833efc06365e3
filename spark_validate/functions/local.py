"""Driver-built tables as Arrow ``LocalRelation``s.

Fitted state (thresholds, reference histograms, offsets, verdict rows) is
built on the driver as a list of tuples and joined back into a query.
``spark.createDataFrame(<list>, ddl)`` turns such a list into a Python RDD:
every query that broadcasts it re-runs Python tasks to deserialize it.
``local_frame`` converts the rows to a ``pyarrow.Table`` with the schema's
Arrow types instead. Spark reads that into a ``LocalRelation``
(``LocalTableScan`` in the plan), so no Python worker ever runs. It accepts
zero rows (``LocalTableScan <empty>``), and NULL and NaN stay distinct.
"""

from __future__ import annotations

from typing import Iterable, Sequence, Union

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: Union[str, StructType]
) -> DataFrame:
    """DataFrame over driver ``rows`` (tuples in ``schema`` order).

    ``schema`` is a DDL string (``"a string, b double"``) or a StructType.
    Values are converted as ``createDataFrame`` converts them: timestamps and
    dates go through the Spark type's ``toInternal`` (a naive datetime is
    read in the driver's local time zone), everything else goes to Arrow as
    is."""
    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    if not isinstance(struct, StructType):
        raise ValueError(f"local_frame needs a struct schema, got {schema!r}")
    rows = list(rows)
    arrow_schema = to_arrow_schema(struct)
    columns = []
    for i, (field, arrow_field) in enumerate(zip(struct.fields, arrow_schema)):
        values = [r[i] for r in rows]
        if field.dataType.needConversion():
            values = [field.dataType.toInternal(v) for v in values]
        columns.append(pa.array(values, type=arrow_field.type))
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema), struct)
