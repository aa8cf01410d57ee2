"""Medioid — component-wise mean + argmin, the graph entry-point seed.

Parity: /root/reference/include/svs/core/medioid.h:275 (compute_medioid =
parallel component-wise mean), :292 (find_medioid = argmin distance to it).

Spark plan: posexplode -> groupBy(pos).avg is a pure built-in aggregation
with map-side partial combine (the reference's per-thread partial sums,
medioid.h threaded accumulate); the argmin pass is one distance scan +
a 1-row ordered limit. Two jobs total, no driver-side data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalablevectorsearch_spark.functions.distances import distance_expr


def compute_medioid(df: DataFrame, vec_col: str = "vector") -> list[float]:
    """Component-wise mean vector (driver-side list of d floats, empty
    for an empty table) — the one dataset-mean scan of the package
    (LVQ and LeanVec center on its rounded form, codec.dataset_mean)."""
    rows = (
        df.select(F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .collect()
    )
    mean = [0.0] * len(rows)
    for r in rows:
        mean[r["pos"]] = r["m"]
    return mean


def find_medioid(df: DataFrame, id_col: str = "id", vec_col: str = "vector") -> int:
    """Id of the dataset element nearest (L2) to the component-wise mean."""
    mean = compute_medioid(df, vec_col)
    mean_col = F.array(*[F.lit(float(x)) for x in mean])
    row = (
        df.select(
            F.col(id_col).alias("id"),
            distance_expr(F.col(vec_col), mean_col, "l2").alias("d"),
        )
        .orderBy(F.col("d").asc(), F.col("id").asc())
        .limit(1)
        .collect()
    )
    return int(row[0]["id"])
