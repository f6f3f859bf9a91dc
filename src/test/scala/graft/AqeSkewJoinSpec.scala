package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the RUNTIME skew lever: Spark's AQE OptimizeSkewedJoin
  * splitting a hot shuffle partition into subpartitions at execution
  * time. The suite's other skew levers are STATIC — q_join_skewed
  * salts the build key, the 2level twins restructure the window —
  * and AQE re-planning is the third leg of the documented 100-TB
  * skew strategy (SURVEY §4): a sort-merge join whose one hot key
  * dwarfs every other partition must not serialize on one task when
  * nothing in the query anticipated the skew. Thresholds are forced
  * low so a test-sized hot key (~100k rows vs ~100-row siblings)
  * crosses the same relative bar a TB-scale hot partition would in
  * production; the assertions are (a) the final adaptive plan
  * actually marks the join skew-optimized, and (b) the result is
  * byte-identical to the same join with the optimization off.
  */
class AqeSkewJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("OptimizeSkewedJoin splits the hot partition and preserves the result") {
    // left: one hot key (100k rows) + 100 cold keys (100 rows each);
    // right: 101 keys x 50 rows -> hot output partition ~5M rows
    // against ~5k-row siblings
    val left = spark.range(0, 100000).select(lit(0L).as("k"), col("id").as("lv"))
      .unionAll(spark.range(0, 10000).select(
        (col("id") % 100 + 1).as("k"), col("id").as("lv")))
    val right = spark.range(0, 101 * 50).select(
      (col("id") % 101).as("k"), col("id").as("rv"))

    def agg(skewOn: Boolean) = withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> skewOn.toString,
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // a GLOBAL aggregate consumes the join: its partial phase has
      // no distribution requirement, so the skew rule is free to
      // split the hot partition (a keyed aggregate directly on the
      // join key would pin the join's output partitioning and
      // suppress the rule — itself a correct AQE decision)
      val joined = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum(col("rv")).as("sr"), sum(col("lv")).as("sl"))
      val rows = joined.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // executedPlan AFTER the action: AQE has finalized the plan
      val plan = joined.queryExecution.executedPlan.toString
      (rows, plan)
    }

    val (skewRows, skewPlan) = agg(skewOn = true)
    assert(skewPlan.contains("skew=true"),
      s"expected a skew-optimized SortMergeJoin in the final adaptive plan:\n$skewPlan")
    val (plainRows, plainPlan) = agg(skewOn = false)
    assert(!plainPlan.contains("skew=true"))
    assert(skewRows === plainRows, "skew-split join changed the result")
    // the hot key really was hot: 100k left rows x 50 right matches,
    // plus 10k cold left rows x 50 matches each
    assert(skewRows.head._1 === 100000L * 50 + 10000L * 50)
  }
}
