"""DataFrame and array-column helpers shared by operators and pipelines."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread_partitions(df: DataFrame) -> DataFrame:
    """Redistribute a narrow input across the session's parallelism
    before an Arrow stage. A small corpus arrives as ONE parquet file =
    one row group = one scan task (row groups are the split unit, so
    file-split tuning can't help), and the Python stage downstream then
    runs single-core — measured 3.4 s single-task vs sub-second spread
    for the sf0.1 shingle stage. At real scale the scan already plans at
    least as many splits as cores and this is a NO-OP: no shuffle is
    added at 100 TB; the small-input repartition moves only the rows the
    Python stage was about to eat anyway."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def array_dot(a, b):
    """Dot product of two array<double> columns, JVM-side (zip_with +
    aggregate: no Python worker)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)
