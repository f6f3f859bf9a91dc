package graft

import graft.functions.RangeJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucketed range join must (1) equal the naive range join
  * row-for-row and (2) plan as a hash equi-join, not a nested-loop —
  * that plan difference is the entire point at scale.
  */
class RangeJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def points = Tables.orders(spark, TestSpark.sf0001)
    .select(col("o_orderkey"), col("o_totalprice"))

  // price bands derived from part rows: [p*1000, p*1000 + 40000)
  private def intervals = {
    import spark.implicits._
    (0 to 50).map(i => (i.toLong, i * 4000.0, i * 4000.0 + 39999.0))
      .toDF("band_id", "lo", "hi")
  }

  test("bucketed range join equals the naive range join") {
    val naive = points.join(intervals,
        col("o_totalprice") >= col("lo") && col("o_totalprice") <= col("hi"))
      .select(col("o_orderkey"), col("band_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = RangeJoin.bucketed(points, intervals,
        "o_totalprice", "lo", "hi", bucketWidth = 40000.0)
      .select(col("o_orderkey"), col("band_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty)
    assert(bucketed === naive)
  }

  test("bucketed range join plans as a hash join, not a nested loop") {
    // disable broadcast so the naive version would be forced into
    // cartesian/BNL territory; the bucketed one must still hash-join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = RangeJoin.bucketed(points, intervals,
          "o_totalprice", "lo", "hi", bucketWidth = 40000.0)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan.take(1200))
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        "range join must not plan as a nested loop:\n" + plan.take(1200))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketWidth is validated") {
    intercept[IllegalArgumentException](
      RangeJoin.bucketed(points, intervals, "o_totalprice", "lo", "hi", 0.0))
  }
}
