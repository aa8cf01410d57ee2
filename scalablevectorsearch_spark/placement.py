"""One placement rule for per-key kernels.

A per-shard graph build or search, a per-parent child Lloyd and a
per-cluster pair join are each one task per key: compute-heavy but
byte-light. Left to AQE, which coalesces shuffles by BYTES, every key
group lands in one reduce partition and the kernels run one after
another. :func:`by_key` places the groups explicitly instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _placed(df: DataFrame, key_col: str, n: int) -> bool:
    """True when ``df``'s physical plan is already partitioned as
    ``by_key`` would partition it: a persisted placed layout (once
    materialized), or a filter, projection or broadcast join over one."""
    plan = df._jdf.queryExecution().sparkPlan()
    part = plan.outputPartitioning()
    if part.getClass().getSimpleName() != "ShufflePartitionIdPassThrough":
        return False
    if part.numPartitions() != n:
        return False
    key = part.expr().child()
    out = plan.output()
    return any(
        out.apply(i).name() == key_col and out.apply(i).semanticEquals(key)
        for i in range(out.size())
    )


def by_key(df: DataFrame, key_col: str, n_keys: int) -> DataFrame:
    """Repartition ``df`` so key ``k`` of the dense INT range
    ``0..n_keys-1`` lands in partition ``k mod N``, ahead of a per-key
    ``groupBy``/``cogroup``/self-join kernel.

    ``N = n_keys`` when ``n_keys <= 4 * shuffle.partitions`` (one key
    per task; extra tasks queue for cores rather than one task running
    several kernels in sequence), else ``shuffle.partitions`` (keys
    then share tasks evenly, at most one key apart). The exchange is a
    REPARTITION_BY_NUM, which AQE never coalesces, and its
    ``shufflepartitionidpassthrough(key, N)`` partitioning satisfies the
    downstream kernel's clustered distribution, so that kernel reuses
    the exchange. ``key_col`` must be an INT column, passed bare: a
    derived expression (a cast, say) makes the planner add a second
    hash exchange for the kernel.

    A frame already placed this way (a filtered persisted layout, say)
    is returned as is: Spark drops a hash repartition whose input is
    already hash-partitioned the same way, but not this one."""
    sp = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n = n_keys if 0 < n_keys <= 4 * sp else sp
    if _placed(df, key_col, n):
        return df
    return df.repartitionById(n, key_col)
