package graft.tools

import java.util.concurrent.{Callable, Executors}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** Dev audit: find data-proportional broadcasts BEFORE they regress a
  * bench. The r10 trap class (q_basket_affinity / q_join_existence /
  * q_waiting_orders): a narrow projection of a FACT table compresses
  * under the 64m byte-based auto-broadcast threshold while holding
  * millions of rows, so Catalyst builds and ships a fact-sized
  * broadcast relation that only gets worse with scale. A byte
  * estimate cannot distinguish "genuinely bounded dim" from "narrow
  * slice of the biggest table" — but ROW GROWTH across two scale
  * factors can: bounded dims and aggregates hold roughly constant
  * rows, data-proportional sides grow with the corpus.
  *
  * Usage: `sbt "Test/runMain graft.tools.BroadcastAudit <dirA> <dirB>
  * [q_name,...]"` — runs every registered query at both dirs in the
  * engine's session (`Graft.session`), each through its own plan
  * (`PlanOf.runFinal`: a count would prune subtrees, hiding their
  * broadcasts), walks the FINAL post-AQE executed plan (query stages
  * + subqueries), and reports each query's largest broadcast at both
  * scales. FLAGGED = grew >4x AND exceeds 100k rows at dirB.
  */
object BroadcastAudit {
  /** Max numOutputRows over every broadcast exchange in the final
    * adaptive plan, descending into query stages and subqueries.
    * ReusedExchange references are skipped (counted at their origin).
    */
  def maxBroadcastRows(root: SparkPlan): Long = {
    def walk(p: SparkPlan): Seq[Long] = {
      val here = p match {
        case e: BroadcastExchangeExec =>
          e.metrics.get("numOutputRows").map(_.value).toSeq
        case _ => Seq.empty
      }
      val nested = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case b: BroadcastQueryStageExec => walk(b.plan)
        case q: QueryStageExec => walk(q.plan)
        case _ => Seq.empty
      }
      val subs = p.subqueries.flatMap(walk)
      here ++ nested ++ subs ++ p.children.flatMap(walk)
    }
    (walk(root) :+ 0L).max
  }

  def main(args: Array[String]): Unit = {
    val dirA = args(0); val dirB = args(1)
    val filter: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val conc = sys.env.getOrElse("SPARK_GRAFT_AUDIT_CONC", "4").toInt
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    val selected = filter.fold(graft.SparkEntry.queries)(f =>
      graft.SparkEntry.queries.view.filterKeys(f).toMap).toSeq.sortBy(_._1)

    def measure(dir: String): Map[String, Long] = {
      graft.Graft.warmAll(spark, dir)
      val pool = Executors.newFixedThreadPool(conc)
      val futures = selected.map { case (name, fn) =>
        name -> pool.submit(new Callable[Long] {
          override def call(): Long =
            try {
              maxBroadcastRows(PlanOf.runFinal(fn(spark, dir)))
            } catch {
              case e: Throwable =>
                System.err.println(s"[audit] $name at $dir FAILED: $e"); -1L
            }
        })
      }
      val out = futures.map { case (n, f) => n -> f.get() }.toMap
      pool.shutdown(); out
    }

    val a = measure(dirA)
    val b = measure(dirB)
    println(f"${"query"}%-34s ${"bcastA"}%12s ${"bcastB"}%12s ratio flag")
    var flagged = 0
    selected.map(_._1).foreach { name =>
      val ra = a.getOrElse(name, -1L); val rb = b.getOrElse(name, -1L)
      val ratio = if (ra > 0) rb.toDouble / ra else if (rb > 0) Double.PositiveInfinity else 1.0
      val flag = rb > 100000 && ratio > 4.0
      if (flag) flagged += 1
      // print every row with a non-trivial broadcast so bounded dims
      // are visible evidence, not silence
      if (rb > 0 || ra > 0 || ra < 0 || rb < 0)
        println(f"$name%-34s $ra%12d $rb%12d ${ratio}%5.1f ${if (flag) "FLAG" else ""}")
    }
    println(s"[audit] flagged=$flagged of ${selected.size} queries")
    spark.stop()
    if (flagged > 0) sys.exit(2)
  }
}
