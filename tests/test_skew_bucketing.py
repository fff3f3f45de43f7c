"""Explicit skew handling + bucketed co-located joins."""

import pytest
from pyspark.sql import functions as F


class TestSaltedJoin:
    def test_salted_join_matches_plain_join(self, spark):
        from insurance_pdf_extractor_spark.skew import salted_join
        # hot key: 90% of rows share key 1
        big = spark.range(0, 10000).select(
            F.when(F.col("id") % 10 < 9, 1).otherwise(F.col("id") % 100)
             .cast("long").alias("k"),
            F.col("id").alias("v"))
        small = spark.createDataFrame(
            [(i, f"dim{i}") for i in range(100)], ["k", "name"])
        expected = big.join(small, "k").count()
        got = salted_join(big, small, "k", n_salts=8)
        assert got.count() == expected
        assert set(got.columns) == {"k", "v", "name"}

    def test_salted_count_matches_groupby(self, spark):
        from insurance_pdf_extractor_spark.skew import salted_count
        df = spark.range(0, 5000).select(
            (F.col("id") % 7).alias("k"))
        plain = {r["k"]: r["count"] for r in
                 df.groupBy("k").count().collect()}
        salted = {r["k"]: r["count"] for r in
                  salted_count(df, "k").collect()}
        assert salted == plain


class TestBucketedJoin:
    def test_bucketed_join_has_no_shuffle(self, spark, tmp_path):
        """Pre-bucketed tables co-locate the join: zero Exchange nodes —
        the strategy for repeated big-big joins at 100 TB."""
        spark.sql("DROP TABLE IF EXISTS b_left")
        spark.sql("DROP TABLE IF EXISTS b_right")
        left = spark.range(0, 20000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("a"))
        right = spark.range(0, 20000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("b"))
        (left.write.bucketBy(8, "k").sortBy("k")
             .mode("overwrite").saveAsTable("b_left"))
        (right.write.bucketBy(8, "k").sortBy("k")
              .mode("overwrite").saveAsTable("b_right"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("b_left").join(spark.table("b_right"), "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # co-located: no shuffle at all
            assert joined.count() == 20000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10m")
            spark.sql("DROP TABLE IF EXISTS b_left")
            spark.sql("DROP TABLE IF EXISTS b_right")


def test_salted_join_rejects_small_side_preserving(spark):
    from insurance_pdf_extractor_spark.skew import salted_join
    big = spark.range(3).select(F.col("id").alias("k"))
    small = spark.createDataFrame([(1, "a")], ["k", "name"])
    with pytest.raises(ValueError, match="does not support"):
        salted_join(big, small, "k", how="full")


class TestSpreadInput:
    def test_broadcast_join_keeps_scan_shape(self, spark, tmp_path):
        """A broadcast join ships only the small side: the one-file
        scan still sets the parallelism, so spread_input spreads it."""
        from insurance_pdf_extractor_spark.parallel import spread_input
        path = str(tmp_path / "one_file")
        (spark.range(0, 200).select(F.col("id"), (F.col("id") % 5)
                                    .alias("k"))
         .coalesce(1).write.parquet(path))
        small = spark.createDataFrame(
            [(i, f"dim{i}") for i in range(5)], ["k", "name"])
        joined = spark.read.parquet(path).join(F.broadcast(small), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan
        assert joined.rdd.getNumPartitions() == 1
        want = max(spark.sparkContext.defaultParallelism,
                   int(spark.conf.get("spark.sql.shuffle.partitions")))
        spread = spread_input(joined, "id")
        assert spread.rdd.getNumPartitions() == want > 1
        assert spread.count() == 200
