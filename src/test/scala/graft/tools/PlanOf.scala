package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, SQLExecution}

/** Dev tool: print the FINAL (post-AQE) executed plan of one
  * registered query at any dataset dir, after running it in the
  * engine's session (`Graft.session`, the one Bench and Verify use).
  * `sbt "Test/runMain graft.tools.PlanOf <query> <dir>"` answers
  * "what plan did the bench actually run at this scale".
  */
object PlanOf {
  /** Run `df` through its own QueryExecution and return the final
    * executed plan. An action such as count or a write plans a new
    * query around `df`, which leaves `df`'s adaptive plan unexecuted
    * (isFinalPlan=false) and its metrics empty.
    */
  def runFinal(df: DataFrame): SparkPlan = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("dev-tool")) {
      qe.executedPlan.execute().foreach(_ => ())
    }
    qe.executedPlan
  }

  def main(args: Array[String]): Unit = {
    val name = args(0); val dir = args(1)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val plan = runFinal(graft.SparkEntry.queries(name)(spark, dir))
    println(f"[planof] $name ran in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    println(plan.toString)
    spark.stop()
  }
}
