"""Python UDF surface: Arrow-vectorized scalar pandas_udf and grouped
applyInPandas (UDAF-shaped), the two sanctioned shapes for Python in
the hot path (SNIPPETS.md patterns; row-at-a-time F.udf is deliberately
absent -- 10-100x slower, never worth it).

Both examples are numerically cross-engine-checkable so they can sit
in the oracle-verified catalog rather than being demo code: the scalar
UDF uses only IEEE multiply/subtract (bit-exact everywhere), and the
grouped OLS uses the mean-centered slope formula whose noise is far
below the catalog's rounding quantum.
"""

from __future__ import annotations

import sys

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from .epoch import epoch_us

# Spark pickles module-level functions by REFERENCE, so Python workers
# would need this package importable (PYTHONPATH), which isn't true
# when the driver embeds us from an arbitrary cwd. Register the module
# for by-value pickling instead -- the function bodies travel in the
# serialized task, no worker-side import.
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])


# NB: pass a DataType instance, not the DDL string "double": the
# string form is parsed lazily with the active SparkContext, and this
# module is re-imported by Python workers (for _ols_slope) where no
# context exists.
@pandas_udf(DoubleType())
def discounted_price(extended: pd.Series, discount: pd.Series) -> pd.Series:
    """Vectorized Arrow-batched scalar: price * (1 - discount).

    Trivial arithmetic on purpose -- the declared capability is the
    Arrow round-trip (JVM columns -> pandas batch -> JVM), and the
    trivial body keeps it oracle-exact (IEEE ops only)."""
    return extended * (1.0 - discount)


OLS_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("slope", DoubleType()),
    ]
)


def _ols_slope(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group OLS slope of y on x, mean-centered formula
    (== covar_pop/var_pop == DuckDB regr_slope)."""
    x = pdf["x"].astype("float64")
    y = pdf["y"].astype("float64")
    xc = x - x.mean()
    denom = float((xc * xc).sum())
    slope = float((xc * (y - y.mean())).sum()) / denom if denom else None
    return pd.DataFrame(
        {
            "event_type": [pdf["event_type"].iloc[0]],
            "n": [len(pdf)],
            "slope": [slope],
        }
    )


def grouped_ols_slope(events: DataFrame) -> DataFrame:
    """applyInPandas per event_type: slope of value over hours-since-
    first-event. Grouped-map pandas exchange: one shuffle on the group
    key, each group materialized as one Arrow batch -- so group
    cardinality bounds memory, the right trade for wide-but-few groups
    (per-entity model fits, calibrations)."""
    us = epoch_us(events, "ts")
    first_us = F.min(us).over(Window.partitionBy("event_type"))
    prepared = events.select(
        "event_type",
        ((us - first_us) / F.lit(3_600_000_000.0)).alias("x"),
        F.col("value").alias("y"),
    )
    return prepared.groupBy("event_type").applyInPandas(
        _ols_slope, schema=OLS_SCHEMA
    )
