"""placement.by_key: one key per partition up to 4x shuffle.partitions
keys, an even spread beyond, an exchange the per-key kernel reuses, and
no second exchange for a frame already placed."""

from pyspark.sql import functions as F

from scalablevectorsearch_spark.placement import by_key


def test_by_key_partitions(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for n_keys, n_parts in ((16, 16), (40, 4)):
            df = spark.range(3 * n_keys).select(
                (F.col("id") % n_keys).cast("int").alias("k")
            )
            placed = by_key(df, "k", n_keys)
            per_part = (
                placed.select(F.spark_partition_id().alias("p"), "k")
                .groupBy("p")
                .agg(F.countDistinct("k").alias("c"))
                .collect()
            )
            counts = [r["c"] for r in per_part]
            assert len(counts) == n_parts
            assert max(counts) - min(counts) <= 1
            assert sum(counts) == n_keys
            # the per-key aggregate reuses by_key's exchange
            plan = placed.groupBy("k").count()._jdf.queryExecution().executedPlan()
            assert plan.toString().count("Exchange") == 1
            # a materialized placed frame, filtered, is not placed again
            cached = placed.persist()
            try:
                cached.count()
                kept = cached.filter("k >= 0")
                assert by_key(kept, "k", n_keys) is kept
            finally:
                cached.unpersist()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
