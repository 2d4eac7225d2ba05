"""Driver-held rows as a DataFrame that reads without a Spark job."""

from __future__ import annotations

from typing import Sequence, Union

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

Rows = Union[Sequence[tuple], pa.Table]


def _struct(schema: Union[str, StructType]) -> StructType:
    from pyspark.sql.types import _parse_datatype_string
    return (_parse_datatype_string(schema) if isinstance(schema, str)
            else schema)


def arrow_table(rows: Rows, schema: Union[str, StructType]) -> pa.Table:
    """``rows`` as a pyarrow Table of the Arrow form of ``schema``. Rows
    are tuples in ``schema`` column order, or a Table holding (at least)
    the schema's columns, which are selected and cast."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(_struct(schema))
    if isinstance(rows, pa.Table):
        return rows.select(arrow.names).cast(arrow)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)


def local_frame(spark: SparkSession, rows: Rows,
                schema: Union[str, StructType]) -> DataFrame:
    """``rows`` (see ``arrow_table``; a DDL string or a StructType) as an
    Arrow-built LocalRelation. Collecting it, or a projection or filter
    of it, runs no Spark job; ``createDataFrame`` over a Python list
    builds an RDD instead, and every read of that is a job."""
    schema = _struct(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)
