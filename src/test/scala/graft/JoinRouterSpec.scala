package graft

import graft.functions.JoinRouter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stats-routed SHUFFLE_HASH selection (VERDICT r15 item 1): the three
  * fact⋈fact sites hint a shuffled hash build only while the per-task
  * build estimate fits the memory budget; past it they go unhinted so
  * AQE keeps the spillable sort-merge fallback. Both routes must be
  * result-identical, and each regime must actually produce its
  * intended physical strategy.
  */
class JoinRouterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def withBudget[A](bytes: Long)(body: => A): A = {
    spark.conf.set("spark.graft.join.buildBytesPerTaskMax", bytes.toString)
    try body
    finally spark.conf.unset("spark.graft.join.buildBytesPerTaskMax")
  }

  test("routing decision follows the per-task build budget") {
    val build = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_suppkey"))
    val rows = JoinRouter.rowCountForSource(spark, sf, "lineitem")
    assert(rows > 0)
    // generous budget → hint; starvation budget → no hint
    assert(withBudget(1L << 40) {
      JoinRouter.shuffleHashSafeForSource(spark, sf, "lineitem", build)
    })
    assert(!withBudget(1L) {
      JoinRouter.shuffleHashSafeForSource(spark, sf, "lineitem", build)
    })
    // the default derivation scales with the declared executor memory:
    // a small heap declines what a large heap accepts (same data)
    val perTaskBytes = rows.toDouble / math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions").toInt) *
      JoinRouter.hashRelationRowBytes(build.schema)
    spark.conf.set("spark.graft.join.executorMemBytes",
      (perTaskBytes * 2).toLong.toString) // budget = 5% of 2×build → tiny
    try assert(!JoinRouter.shuffleHashSafeForSource(spark, sf, "lineitem", build))
    finally spark.conf.unset("spark.graft.join.executorMemBytes")
  }

  test("both routes are result-identical AND produce their strategy") {
    def run(name: String) = SparkEntry.queries(name)(spark, sf)
    for (q <- Seq("q_join_existence", "q_basket_affinity", "q_waiting_orders")) {
      val (hinted, hintedPlan) = withBudget(1L << 40) {
        val df = run(q)
        val rows = df.collect().toSeq
        (rows, df.queryExecution.executedPlan.toString)
      }
      val (unhinted, unhintedPlan) = withBudget(1L) {
        val df = run(q)
        val rows = df.collect().toSeq
        (rows, df.queryExecution.executedPlan.toString)
      }
      assert(hinted == unhinted, s"$q: routes disagree")
      assert(hinted.nonEmpty, s"$q: degenerate test (no rows)")
      // strategy pin: the generous route hash-joins the fact side; the
      // starved route must NOT (AQE is free to pick SMJ or, at this
      // tiny SF, a broadcast — the point is no unspillable shuffled
      // hash build survives the starved budget)
      assert(hintedPlan.contains("ShuffledHashJoin"),
        s"$q: hinted route lost its shuffled hash join:\n$hintedPlan")
      assert(!unhintedPlan.contains("ShuffledHashJoin"),
        s"$q: starved route still builds an unspillable hash relation:\n$unhintedPlan")
    }
  }

  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(500) } // job-start events post async
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  test("enrolled snapshot-table stats answer the row count with zero jobs") {
    import spark.implicits._
    val root = Artifacts.exitRoot("graft-jr-stats") + "/t.parquet"
    val df = (1L to 500L).map(i => (i % 7, i)).toDF("k", "v")
    graft.sources.TableStats.enroll(root, "k", Seq("k"))
    graft.sources.SnapshotTable.commit(spark, root, df)
    assert(graft.sources.TableStats.storedTotalRows(root).contains(500L),
      "enrolled commit did not record total rows")
    // the router consumes it without a probe job
    val dir = root.stripSuffix("/t.parquet")
    var n = -1L
    val jobs = jobsDuring { n = JoinRouter.rowCountForSource(spark, dir, "t") }
    assert(n == 500L)
    assert(jobs == 0, s"stored total-rows read ran $jobs Spark jobs")
  }
}
