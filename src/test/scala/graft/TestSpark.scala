package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (suites run sequentially
  * in the forked test JVM), built by the engine's own session builder
  * so the suites run under the configuration Bench and Verify use.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Graft.session("local[4]", Some(4))
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
