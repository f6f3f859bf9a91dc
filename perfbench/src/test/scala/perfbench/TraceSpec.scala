package perfbench

import org.apache.spark.PerfbenchBus
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

class TraceSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("jobs started while a query is constructed are charged to construct") {
    val jobs = new JobListener
    val plans = new PlanListener
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    try {
      val ctx = Ctx(spark, SparkFixture.dataDir, "", trace = true)
      // q_percentile is backed by ExactQuantiles, which runs its
      // distinct-table checkpoint and routing jobs at construction
      val q = SparkEntry.all.find(_.name == "q_percentile").get
      val r = Ops.runQuery(ctx, "Aggregations", q, 7, 0, 0, Map.empty)
      PerfbenchBus.drain(spark.sparkContext)
      assert(r.digest.nonEmpty, r.error)
      assert(jobs.statsOf(Ops.constructGroup(7))("jobs") > 0)
      assert(jobs.statsOf(Ops.actionGroup(7))("jobs") > 0)
      assert(jobs.statsOf(Ops.constructGroup(7))("jobs_ended") ===
        jobs.statsOf(Ops.constructGroup(7))("jobs"))

      val spans = Spans.build(Seq(r), jobs, plans)
      val names = spans.map(_.name).toSet
      assert(Set("op", "construct", "construct.job", "action", "plan", "exec", "exec.job")
        .subsetOf(names))
      assert(plans.planEnd(Ops.ObsPrefix + 7).exists(_ >= r.act))
      val op = spans.find(_.name == "op").get
      assert(spans.forall(s => s.op == 7 && s.start >= op.start && s.end <= op.end))
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
    }
  }

  test("an untraced op sets no job group and still checks its output") {
    val ctx = Ctx(spark, SparkFixture.dataDir, "", trace = false)
    val q = SparkEntry.all.find(_.name == "q_pricing_summary").get
    val first = Ops.runQuery(ctx, "Relational", q, 1, 0, 0, Map.empty)
    assert(first.error === "no expected digest")
    val again = Ops.runQuery(ctx, "Relational", q, 2, 0, 0, Map(q.name -> first.digest))
    assert(again.ok, again.error)
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") === null)
  }
}
