package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proves the SCALING.md claim that bucketing removes the fact⋈fact
  * shuffle: lineitem and orders saved bucketed by the join key join
  * with ZERO Exchange operators in the physical plan (sort-merge over
  * pre-bucketed files), and produce the same result as the shuffled
  * join. At 100 TB this is the one-time layout investment that turns
  * every orderkey join into a local merge.
  */
class BucketedJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bucketed fact-fact join plans without a shuffle and matches the plain join") {
    // default warehouse dir (static conf); tables dropped in finally
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    try {
      Tables.lineitem(spark, TestSpark.sf0001)
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("li_bucketed")
      Tables.orders(spark, TestSpark.sf0001)
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("ord_bucketed")

      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))

      // AQE keeps the bucket layout; the join itself must not shuffle —
      // the only Exchange allowed is the final single-partition agg
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val plan =
        try joined.queryExecution.executedPlan.toString
        finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      val joinSection = plan.split("HashAggregate").last // below the first agg
      assert(joinSection.contains("SortMergeJoin"), plan.take(1500))
      assert(!joinSection.contains("Exchange"),
        "bucketed join should not shuffle either side:\n" + joinSection.take(1500))

      // same numbers as the unbucketed (shuffled) join
      val plain = Tables.lineitem(spark, TestSpark.sf0001)
        .join(Tables.orders(spark, TestSpark.sf0001),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
      assert(joined.orderBy("o_orderstatus").collect().map(_.toSeq).toSeq
        === plain.orderBy("o_orderstatus").collect().map(_.toSeq).toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }
}
