"""Embedding-space near-duplicate detection — cosine-threshold pair
mining, brute-force (correctness baseline) and cluster-bucketed (the
100 TB path).

Extension surface beyond the reference (BASELINE.json: embedding-cosine
near-dup as a pipeline operator). Two implementations with identical
pair semantics:

 - ``embedding_neardup``: full self-join. O(N^2) — the oracle/baseline
   ONLY; used at gate scale and for recall-measuring the bucketed
   variant.
 - ``embedding_neardup_clustered``: k-means bucket join. Pairs are only
   scored WITHIN a cluster, so the shuffle is keyed by cluster_id and
   the comparison count drops from N^2 to sum(|cluster|^2) — the
   standard blocking/bucketing shape for pair mining at 100 TB scale
   (recall < 1 exactly when a near-dup pair straddles a cluster
   boundary; tests measure it).

Determinism: cosine is the Catalyst sequential-fold expression (matches
the DuckDB fold 1-ULP-for-1-ULP), thresholding happens on the e4 key
floor(cos*1e4+0.5) in both engines, and clustering follows the
operators.kmeans oracle protocol — both variants hash-match their SQL
oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalablevectorsearch_spark.functions.distances import ip_expr, norm_expr
from scalablevectorsearch_spark.operators.kmeans import stamp_clusters, train_kmeans
from scalablevectorsearch_spark.placement import by_key


def _e4(c: F.Column) -> F.Column:
    return F.floor(c * 10000 + F.lit(0.5)).cast("long")


def _pairs_with_cosine(side: DataFrame, join_on) -> DataFrame:
    """Self-join emitting per-pair cosine. Norms are hoisted to one fold
    per ROW before the join (the reference's ``fix_argument``,
    cosine.h:102) — numerically identical to a per-pair norm (same fold
    over the same array), 3x less per-pair work; only the ip fold
    remains inside the pair loop."""
    side = side.withColumn("__n", norm_expr(F.col("__v")))
    a = side.alias("a")
    b = side.alias("b")
    cond = F.col("a.__id") < F.col("b.__id")
    if join_on is not None:
        cond = cond & join_on
    return (
        a.join(b, cond)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            (
                ip_expr(F.col("a.__v"), F.col("b.__v"))
                / (F.col("a.__n") * F.col("b.__n"))
            ).alias("cosine"),
        )
    )


def embedding_neardup(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """All-pairs cosine >= threshold (id_a < id_b). Brute-force baseline
    — test scale only; use the clustered variant beyond that."""
    side = df.select(
        F.col(id_col).cast("long").alias("__id"), F.col(vec_col).alias("__v")
    )
    t_e4 = int(threshold * 10000)
    out = _pairs_with_cosine(side, None)
    return out.filter(_e4(F.col("cosine")) >= t_e4).select(
        "id_a", "id_b", "cosine"
    )


def embedding_neardup_clustered(
    df: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 16,
    n_iters: int = 2,
    id_col: str = "id",
    vec_col: str = "vector",
    max_cluster_rows: int | None = None,
) -> DataFrame:
    """Cluster-bucketed near-dup mining: k-means assign, then pairs only
    within a cluster. The join shuffles on cluster_id — never all-pairs.

    ``max_cluster_rows``: skew guard. The within-cell self-join is
    O(|c|^2) per cell, so one mega-cluster (common in near-dup-heavy
    crawls) becomes a single straggler task. Cells above the cap are
    split by a SECONDARY k-means trained over the oversized rows, and
    pairs then require equal (cluster_id, sub_id) — within each sub-cell
    the semantics stay exact. Like the primary bucketing's
    cluster-boundary miss, this adds one recall caveat: a pair inside an
    oversized cell whose members land in different SUB-cells is missed
    (tests measure both miss classes). None (default) disables the cap
    — the exact-within-cell semantics the hash gate verifies."""
    model = train_kmeans(df, n_clusters, n_iters, id_col, vec_col)
    # map-side stamp against the broadcast centroids: one pass over the
    # base, no assign-then-join shuffle
    side = stamp_clusters(
        df.select(
            F.col(id_col).cast("long").alias("__id"), F.col(vec_col).alias("__v")
        ),
        model,
        vec_col="__v",
    )
    t_e4 = int(threshold * 10000)
    a_cl = F.col("a.cluster_id") == F.col("b.cluster_id")
    if max_cluster_rows is not None:
        side = _subsplit_oversized(side, max_cluster_rows, n_iters)
        a_cl = a_cl & (F.col("a.__sub") == F.col("b.__sub"))
    # explicit placement on the bucket key (r12 optimization round):
    # the within-cell pair scoring is O(|c|^2) COMPUTE per cell but only
    # O(|c|) bytes, so AQE's byte-based coalescing collapses the
    # byte-light shuffle into one partition and the whole pair stage
    # runs on a single core (guide §2.5: partition count must follow
    # compute, not bytes, when the two diverge). by_key's exchange is
    # exempt from AQE coalescing and the self-join reuses it, in both
    # its cluster_id and (cluster_id, __sub) forms; measured 2x on the
    # pair stage, identical pair set.
    side = by_key(side, "cluster_id", n_clusters)
    out = _pairs_with_cosine(side, a_cl)
    return out.filter(_e4(F.col("cosine")) >= t_e4).select("id_a", "id_b", "cosine")


def _subsplit_oversized(
    side: DataFrame, max_cluster_rows: int, n_iters: int
) -> DataFrame:
    """Add a ``__sub`` column: 0 for rows of cells within the cap; rows
    of oversized cells get a secondary k-means sub-cluster id (one
    shared secondary model over all oversized rows — one extra train +
    one map-side stamp, no per-cell driver loop). Pair mining keys on
    (cluster_id, __sub), bounding the expected per-task comparison
    count by ~max_cluster_rows^2."""
    import math

    sizes = side.groupBy("cluster_id").count().collect()  # <= n_clusters rows
    big = [r for r in sizes if r["count"] > max_cluster_rows]
    if not big:
        return side.withColumn("__sub", F.lit(0))
    over_ids = [int(r["cluster_id"]) for r in big]
    total_over = sum(int(r["count"]) for r in big)
    k2 = max(2, math.ceil(total_over / max_cluster_rows))
    over = side.filter(F.col("cluster_id").isin(over_ids))
    sub_model = train_kmeans(over, k2, n_iters, "__id", "__v")
    stamped = stamp_clusters(
        over.withColumnRenamed("cluster_id", "__pc"), sub_model, vec_col="__v"
    )
    split = stamped.select(
        F.col("__id"), F.col("__v"), F.col("__pc").alias("cluster_id"),
        # sub ids start at 1 so they never collide with the 0 of
        # within-cap cells
        (F.col("cluster_id") + F.lit(1)).alias("__sub"),
    )
    small = side.filter(~F.col("cluster_id").isin(over_ids)).select(
        "__id", "__v", "cluster_id", F.lit(0).alias("__sub")
    )
    return split.unionByName(small)
