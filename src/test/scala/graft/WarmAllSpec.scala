package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Graft.warmAll contract (VERDICT r8 item 7): once a dataset's
  * memoized artifacts are pre-built, CONSTRUCTING the queries that
  * read them runs zero Spark jobs — interactive first-query latency
  * is plan-build only, with every ingest-style cost paid up front.
  * (Excluded by design: PrefixSum queries — their lazy range
  * checkpoint is per-query, not a shared artifact — and the
  * ITERATIVE queries (q_dedup_cluster CC rounds, q_khop/
  * q_shortest_path BFS), whose driver fixpoint loops run bounded
  * O(1)-row actions while BUILDING the final plan; warmAll still
  * saves them the artifact build itself.)
  */
class WarmAllSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("no Spark job at query construction after warmAll") {
    Graft.warmAll(spark, TestSpark.sf0001)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // q_dedup_simhash_adaptive: the banding width's corpus count is
      // a warmed scalar since r11 (was a plan-build count() job).
      // q_percentile/q_percentile_disc: the ExactQuantiles ranked
      // tables are warmed per tag since r14 (were an eager checkpoint
      // + routing-stat jobs per invocation — VERDICT r13 item 2).
      for (name <- Seq("q_dedup_minhash", "q_dedup_events",
          "q_dedup_simhash_adaptive", "q_percentile", "q_percentile_disc")) {
        SparkEntry.queries(name)(spark, TestSpark.sf0001)
          .queryExecution.optimizedPlan // analysis + optimization, no action
      }
      Thread.sleep(500) // job-start events post asynchronously
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get() === 0,
      "constructing artifact-backed queries after warmAll launched a Spark job")
  }

  test("warmAll is idempotent and results are identical to a cold build") {
    Graft.warmAll(spark, TestSpark.sf0001)
    val warm = Graft.run(spark, "q_dedup_minhash", TestSpark.sf0001).collect().toSeq
    Graft.clearCaches()
    val cold = Graft.run(spark, "q_dedup_minhash", TestSpark.sf0001).collect().toSeq
    assert(warm === cold)
    Graft.warmAll(spark, TestSpark.sf0001) // re-warm after clear: no throw
  }
}
