"""One owner for persisted state.

A :class:`Pins` scope records the DataFrames it persisted and the RDDs
its lineage cuts (eager ``localCheckpoint``) pinned, and releases all
of them at once. A checkpoint's persist lives at the RDD level, where
``DataFrame.unpersist`` cannot reach it (the CacheManager treats the
checkpointed frame as a plain LogicalRDD), so the scope keeps the id of
the one RDD the checkpointed plan wraps and unpersists it by id.

Use it as a context manager: on exit, normal or not, it releases what
it still holds. To keep state past the scope, ``move()`` it to the
owner that outlives it (a result handle) before the scope closes.

One cut has no owning scope: ``flat.search_blocks`` materializes each
``max_query_block`` block's result with an eager ``localCheckpoint``
that the returned frame reads. It never enters the CacheManager, and
Spark's ContextCleaner frees it once that frame is unreachable.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class Pins:
    def __init__(self) -> None:
        self.frames: list[DataFrame] = []
        self.rdd_ids: list[int] = []

    def persist(
        self, df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
    ) -> DataFrame:
        """Persist ``df`` (the DataFrame default level, Spark's
        MEMORY_AND_DISK) and own it; a frame already persisted keeps its
        level and only changes owner."""
        if not df.is_cached:
            df = df.persist(level)
        self.frames.append(df)
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Eager localCheckpoint of ``df``: a lineage cut whose one
        checkpoint RDD this scope owns."""
        ck = df.localCheckpoint(eager=True)
        self.rdd_ids.append(int(ck._jdf.queryExecution().analyzed().rdd().id()))
        return ck

    def move(self) -> "Pins":
        """Hand everything to a new scope; this one is left empty."""
        out = Pins()
        out.frames, out.rdd_ids = self.frames, self.rdd_ids
        self.frames, self.rdd_ids = [], []
        return out

    def release(self) -> None:
        """Unpersist every owned frame and checkpoint RDD. Idempotent."""
        held = self.move()
        for df in held.frames:
            df.unpersist(blocking=False)
        sc = SparkContext._active_spark_context
        if held.rdd_ids and sc is not None:
            persistent = sc._jsc.sc().getPersistentRDDs()
            for rid in held.rdd_ids:
                opt = persistent.get(rid)
                if opt.isDefined():
                    opt.get().unpersist(False)

    def __enter__(self) -> "Pins":
        return self

    def __exit__(self, *exc) -> None:
        self.release()
