"""Driver-held rows as a DataFrame that reads without a Spark job."""

from __future__ import annotations

from typing import Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows: Sequence[tuple],
                schema: Union[str, StructType]) -> DataFrame:
    """``rows`` (tuples in ``schema`` column order; a DDL string or a
    StructType) as an Arrow-built LocalRelation. Collecting it, or a
    projection or filter of it, runs no Spark job; ``createDataFrame``
    over a Python list builds an RDD instead, and every read of that is
    a job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)
