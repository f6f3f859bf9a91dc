package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A repeated query must find its generated classes in Spark's
  * generated-class cache instead of compiling them again. With Spark's
  * default cache of 100 entries, one pass over these 13 queries needs
  * about 225 classes, evicts its own, and recompiles on every pass;
  * `Graft.session` sizes the cache for the whole inventory.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The `olap` op set of the repository benchmark
    * (`perfbench.Ops.opSet("olap")`): one query from each of the 12
    * relational and analytic modules, two from Lifecycle.
    */
  private val olap = Seq("q_abtest", "q_cusum", "q_join_asof_forward",
    "q_late_shipment_mix", "q_lateral", "q_mode", "q_priority_count",
    "q_sample_stratified", "q_set_intersect_all", "q_sql_cte",
    "q_stickiness", "q_unpivot", "q_window_count_distinct")

  /** Runs every query through the noop sink; returns, per query, the
    * number of classes compiled while it ran.
    */
  private def pass(): Seq[(String, Long)] = olap.map { n =>
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SparkEntry.queries(n)(spark, TestSpark.sf001)
      .write.format("noop").mode("overwrite").save()
    n -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  test("the session's codegen cache size is the Graft constant") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Graft.CodegenCacheEntries.toString)
  }

  test("a repeat pass over the olap queries compiles no class") {
    val first = pass()
    val second = pass()
    val compiled = second.filter(_._2 > 0)
    assert(compiled.isEmpty,
      s"second pass compiled ${compiled.map(_._2).sum} classes in " +
        compiled.map { case (n, c) => s"$n $c" }.mkString(", ") +
        s" (first pass: ${first.map(_._2).sum})")
  }
}
