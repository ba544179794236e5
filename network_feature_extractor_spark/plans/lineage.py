"""Per-partition lineage + metrics (SURVEY.md §2.10).

The reference exposes Prometheus counters/gauges from each thread
(``src/monitoring/prometheus_exporter.py``). The Spark-native reshape
is a *metrics DataFrame* — one row per input partition with row counts
and value extents — written alongside the output as a queryable lineage
table, plus a cumulative histogram of a metric column.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.stats import epoch_seconds
from pyspark.sql import types as T

PARTITION_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("n_keys", T.LongType(), False),
        T.StructField("min_ts", T.DoubleType(), True),
        T.StructField("max_ts", T.DoubleType(), True),
    ]
)


def partition_metrics(df: DataFrame, key: str = "conv_id", ts_col: str = "ts") -> DataFrame:
    """One metrics row per physical partition — runs as a narrow
    mapPartitions pass (no shuffle), Arrow-batched."""
    sdf = df.select(
        F.spark_partition_id().alias("pid"),
        F.col(key).alias("k"),
        epoch_seconds(ts_col).alias("t"),
    )

    def per_part(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = -1
        rows = 0
        keys: set = set()
        tmin, tmax = None, None
        for pdf in it:
            if len(pdf):
                pid = int(pdf["pid"].iloc[0])
                rows += len(pdf)
                keys.update(pdf["k"].unique().tolist())
                lo, hi = float(pdf["t"].min()), float(pdf["t"].max())
                tmin = lo if tmin is None else min(tmin, lo)
                tmax = hi if tmax is None else max(tmax, hi)
        if rows:
            yield pd.DataFrame(
                {
                    "partition_id": [pid],
                    "rows": [rows],
                    "n_keys": [len(keys)],
                    "min_ts": [tmin],
                    "max_ts": [tmax],
                }
            )

    return sdf.mapInPandas(per_part, schema=PARTITION_METRICS_SCHEMA)


DEFAULT_DURATION_BUCKETS = (60.0, 300.0, 900.0, 1800.0, 3600.0, 7200.0)


def duration_histogram(
    df: DataFrame,
    value_col: str = "duration",
    buckets: tuple[float, ...] = DEFAULT_DURATION_BUCKETS,
) -> DataFrame:
    """Prometheus-style CUMULATIVE histogram of a metric column — the
    flow-duration histogram analog
    (``src/monitoring/prometheus_exporter.py:230-317``): one row per
    ``le`` bound (counts of observations <= le, +Inf = total), computed
    as a single conditional aggregate (one partial+final HashAggregate,
    no shuffle of the observations beyond the final combine)."""
    v = F.col(value_col)
    aggs = [
        F.sum(F.when(v <= F.lit(float(b)), 1).otherwise(0)).cast("long").alias(f"_b{i}")
        for i, b in enumerate(buckets)
    ]
    aggs.append(F.count("*").cast("long").alias("_binf"))
    g = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(float(b)).alias("le"), F.col(f"_b{i}").alias("cumulative")
            )
            for i, b in enumerate(buckets)
        ],
        F.struct(
            F.lit(float("inf")).alias("le"), F.col("_binf").alias("cumulative")
        ),
    )
    return g.select(F.explode(rows).alias("_r")).select("_r.le", "_r.cumulative")

