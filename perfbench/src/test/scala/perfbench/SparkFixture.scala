package perfbench

import org.apache.spark.sql.SparkSession
import graft.Graft

/** One session for the harness tests, built by the user facade. */
object SparkFixture {
  val dataDir: String = sys.props.getOrElse("perfbench.data", "data/sf0.01")
  lazy val spark: SparkSession = {
    val s = Graft.session()
    s.sparkContext.setLogLevel("ERROR")
    Graft.registerTables(s, dataDir)
    s
  }
}
