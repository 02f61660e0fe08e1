"""UDF shape dispatch (SURVEY §2.8, M5).

The reference's single extension point is "preFlight defines a Python
callable; a step calls it" (etl.py:177-178, 552-557) — scalar, Series,
or DataFrame shaped. Spark needs different primitives per shape; this
module provides the dispatch helpers:

| reference shape              | Spark primitive                  |
|------------------------------|----------------------------------|
| scalar → scalar (glue)       | plain Python at plan-build time  |
| element-wise column fn       | pandas_udf (Arrow, vectorized)   |
| DataFrame → DataFrame        | mapInPandas                      |
| per-group DataFrame fn       | groupBy().applyInPandas          |
| aggregating (UDAF)           | pandas_udf GROUPED_AGG           |

Output schemas must be declared (Spark requirement; the reference infers
from pandas). ``infer_schema_from_sample`` closes the gap when a YAML
step omits ``schema:`` — it runs the fn on a driver-side sample.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def vectorized(return_type: str) -> Callable:
    """Decorator: element-wise ``pd.Series -> pd.Series`` fn → Arrow
    pandas UDF (the 10-100× faster path vs row-at-a-time)."""

    def deco(fn: Callable[..., pd.Series]):
        return F.pandas_udf(fn, returnType=return_type)

    return deco


def apply_by_group(
    df: DataFrame,
    keys: list[str] | str,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """Per-group pandas fn (applyInPandas) — exact pandas semantics per
    group; the group is the parallelism unit, so keys must have enough
    cardinality (and no single giant group) at scale."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    return df.groupBy(*keys).applyInPandas(fn, schema)


def infer_schema_from_sample(
    df: DataFrame, fn: Callable[[pd.DataFrame], pd.DataFrame], n: int = 100
) -> str:
    """Run ``fn`` on a driver-side sample to derive the output schema DDL
    (fallback for YAML UDF steps without ``schema:`` — documented as a
    driver-side action)."""
    sample = df.limit(n).toPandas()
    out = fn(sample)
    spark = df.sparkSession
    return spark.createDataFrame(out).schema.simpleString().replace("struct<", "")[:-1]
