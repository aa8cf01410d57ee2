"""Per-group top-k — the engine's sort/limit operator family.

Parity: the reference's fixed-capacity per-query result buffers
(/root/reference/include/svs/index/flat/flat.h:337-340 scratch sorter,
/root/reference/include/svs/index/ivf/sorted_buffer.h). Results are
returned nearest-first with ties broken by ascending id, matching the
reference's id-ordered Neighbor comparators
(/root/reference/include/svs/lib/neighbor.h).

Scale note: ``row_number`` over ``Window.partitionBy(group)`` shuffles
once on the group key and streams each partition — no full sort of the
child. Upstream operators (flat/ivf search) already reduce the child to
O(groups x k x partitions) rows via per-partition partial top-k (the
reference's tile-then-merge, flat.h:209), so this window is never the
scale bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    k: int,
    ascending: bool = True,
    tie_col: str | None = None,
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Keep the k best rows per group, ranked 1..k (rank is BIGINT).

    ``num_partitions``: optional explicit partition count for the merge
    exchange (r13, guide §2.2/§2.4): callers that KNOW the group count
    (the search operators hold the collected query batch) size the
    shuffle from the data — ``merge_partitions(n_groups, k, spark)`` —
    instead of inheriting ``spark.sql.shuffle.partitions``. The window then
    reuses that exchange (same clustering key), and when the merge fits
    ONE partition a following global aggregate (the bench's ``count()``)
    needs no exchange of its own — one fewer stage/job per search. Rows
    and ranks are identical either way."""
    order = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    if num_partitions is not None:
        df = df.repartition(num_partitions, group_col)
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_col) <= k)
    )


def merge_partitions(n_groups: int, k: int, spark) -> int:
    """Data-derived partition count for a top-k merge whose OUTPUT is
    ``n_groups * k`` rows (~tens of bytes each): ~100k output rows per
    partition, never more than the session's shuffle-partition default
    (at huge group counts this degrades to exactly today's behavior).
    Scale-adaptive by construction — derived from the query batch size,
    not from the local core count."""
    n = max(1, -(-n_groups * max(k, 1) // 100_000))
    return min(n, int(spark.conf.get("spark.sql.shuffle.partitions")))


def rank_candidates(cands: DataFrame, n_queries: int, k: int, maximize: bool) -> DataFrame:
    """The one merge of every search family: the k best
    ``(qid, neighbor_id, distance)`` candidates per qid, ranked 1..k
    (best distance first, ties by ascending neighbor id) through an
    exchange sized by :func:`merge_partitions` from the batch's
    ``n_queries``. Returns (qid, neighbor_id, distance, rank)."""
    return topk_per_group(
        cands,
        group_col="qid",
        order_col="distance",
        k=k,
        ascending=not maximize,
        tie_col="neighbor_id",
        num_partitions=merge_partitions(n_queries, k, cands.sparkSession),
    )
