"""UDF / UDAF / grouped-map surface (SURVEY.md §2.12).

The reference's per-tile analysis-function registry — user code applied to
each raster tile — maps to Spark's Arrow-vectorized Python boundary:

- ``pandas_udf`` GROUPED_AGG: custom per-zone aggregates;
- ``applyInPandas``: whole-group kernels (the per-tile worker function).

These are the engine's *extension* path, not its query path — every §2
query runs on built-in JVM expressions. Rule of thumb baked into the
design: a pandas_udf crosses JVM↔Python once per Arrow batch (~10-100×
faster than row-at-a-time UDFs); keep hot loops vectorized numpy inside.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


@pandas_udf(DoubleType())
def trimmed_mean_10(v: pd.Series) -> float:  # Series→scalar ⇒ GROUPED_AGG
    """Custom grouped aggregate: 10%-trimmed mean — a zonal statistic the
    built-in aggregates don't offer (robust to raster outliers)."""
    arr = np.sort(v.to_numpy(dtype=float))
    k = int(len(arr) * 0.1)
    core = arr[k : len(arr) - k] if len(arr) > 2 * k else arr
    return float(core.mean()) if len(core) else float("nan")


def zonal_trimmed_mean(cells: DataFrame, zone_col: str = "zone_id", value_col: str = "value") -> DataFrame:
    """Per-zone trimmed mean via a grouped-agg pandas UDF (the custom-
    statistic slot of the reference's analysis registry)."""
    return cells.groupBy(zone_col).agg(
        trimmed_mean_10(F.col(value_col)).alias("trimmed_mean")
    )


def per_group_zscore(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """applyInPandas whole-group kernel: z-score each group's values (the
    per-tile normalize-then-analyze shape). The group must fit a worker —
    at 100 TB that means keying by tile, never by a low-cardinality
    attribute."""
    fields = [f for f in df.schema.fields if f.name in (key_col, value_col)]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in fields] + ["zscore double"]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf[value_col].mean()
        sd = pdf[value_col].std(ddof=1)
        out = pdf[[key_col, value_col]].copy()
        out["zscore"] = (pdf[value_col] - mu) / sd if sd and sd > 0 else 0.0
        return out

    return df.select(key_col, value_col).groupBy(key_col).applyInPandas(kernel, schema)
