"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship validation run over sf0.001 events
queries()      -> operator queries from SURVEY.md §2 (+ training-data ops)
oracle_sql()   -> DuckDB oracles for every SQL-expressible query
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from schema_inference_spark.driver_queries import (  # noqa: E402
    CORE_ORACLES,
    CORE_QUERIES,
)
from schema_inference_spark.driver_queries_conv import (  # noqa: E402
    CONV_ORACLES,
    CONV_QUERIES,
)
from schema_inference_spark.driver_queries_extras import (  # noqa: E402
    EXTRA_ORACLES,
    EXTRA_QUERIES,
)

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the validation suite over the sf0.001 `events` table
    (the transcripts stand-in, FIXTURES.md F7) — one row per check with its
    violation count, in the spirit of the per-partition verdicts.

    Declared as ONE plan (union of per-check count aggregates) so the
    driver's single collect runs all four checks in one Spark job with
    concurrently scheduled sub-trees, instead of four serial actions."""
    from pyspark.sql import functions as F

    checks = {
        "unique_key": CORE_QUERIES["unique_key"],
        "ref_vocab": CORE_QUERIES["ref_vocab"],
        "ordering": CORE_QUERIES["ordering"],
        "vocab_diff": CORE_QUERIES["vocab_diff"],
    }
    out = None
    for name, fn in sorted(checks.items()):
        one = (fn(spark, SF0001)
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
               .select(F.lit(name).alias("check_id"), "n_violations"))
        out = one if out is None else out.unionByName(one)
    return out.orderBy("check_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {**CORE_QUERIES, **EXTRA_QUERIES, **CONV_QUERIES}


def oracle_sql() -> dict[str, str]:
    return {**CORE_ORACLES, **EXTRA_ORACLES, **CONV_ORACLES}
