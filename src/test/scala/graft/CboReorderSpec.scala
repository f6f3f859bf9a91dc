package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ANALYZE TABLE → cost-based-optimizer surface (VERDICT r5 #5):
  * with catalog tables carrying `ANALYZE ... FOR ALL COLUMNS` stats
  * and `spark.sql.cbo.joinReorder.enabled`, Catalyst's
  * CostBasedJoinReorder picks a join order by estimated cardinality
  * instead of keeping the query's syntactic order. Pinned here: a
  * deliberately mis-ordered 3-way join (big ⋈ big ⋈ tiny-selective)
  * that the heuristic path executes as written — materializing the
  * big⋈big intermediate — while the stats-driven path pulls the
  * selective tiny table down to the innermost join. Broadcast is
  * disabled throughout so join ORDER is the only lever under test;
  * this demo is the library's documented cluster posture for ad-hoc
  * SQL over cataloged tables (broadcast hints + AQE cover the curated
  * query inventory, where PlanFingerprintSpec pins the shapes).
  *
  * Both orders must return identical results — the reorder is pure
  * optimization.
  */
class CboReorderSpec extends AnyFunSuite {
  private lazy val base = TestSpark.spark
  private val db = "graft_cbo_demo"

  /** big_a: one row per lineitem (k=orderkey, j=partkey);
    * big_b: one row per lineitem (k=orderkey) — a⋈b fans out to
    * Σ lines-per-order², ~4× |lineitem|;
    * tiny_c: 10 part keys — a⋈c keeps ~|A|·10/|part| rows.
    * Stats make the (a⋈c)-first order obviously cheaper.
    */
  private lazy val tables: Unit = {
    val warehouse = Artifacts.exitRoot("graft-cbo-")
    base.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$warehouse'")
    val li = Tables.lineitem(base, TestSpark.sf0001)
    li.select(col("l_orderkey").as("k_a"), col("l_partkey").as("j_a"))
      .write.mode("overwrite").saveAsTable(s"$db.big_a")
    li.select(col("l_orderkey").as("k_b"), col("l_suppkey").as("v_b"))
      .write.mode("overwrite").saveAsTable(s"$db.big_b")
    Tables.part(base, TestSpark.sf0001)
      .select(col("p_partkey").as("j_c")).orderBy(col("j_c")).limit(10)
      .write.mode("overwrite").saveAsTable(s"$db.tiny_c")
    Seq("big_a", "big_b", "tiny_c").foreach { t =>
      base.sql(s"ANALYZE TABLE $db.$t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
  }

  private def session(cbo: Boolean): SparkSession = {
    tables
    val s = base.newSession()
    s.conf.set("spark.sql.cbo.enabled", cbo.toString)
    s.conf.set("spark.sql.cbo.joinReorder.enabled", cbo.toString)
    // join ORDER is the only lever under test
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** The mis-ordered query: syntactically (a ⋈ b) ⋈ c. */
  private def query(s: SparkSession) = s.sql(s"""
    SELECT k_a, j_a, v_b
    FROM $db.big_a JOIN $db.big_b ON k_a = k_b
                   JOIN $db.tiny_c ON j_a = j_c
  """)

  /** Output attribute names of the INNERMOST join (TreeNode.collect is
    * pre-order, so the last Join in a linear chain is the deepest):
    * which tables were joined first is visible in whose columns the
    * node produces.
    */
  private def innermostJoinOutputs(plan: LogicalPlan): Set[String] = {
    val joins = plan.collect { case j: Join => j }
    assert(joins.nonEmpty, s"no Join in:\n$plan")
    joins.last.output.map(_.name).toSet
  }

  test("heuristic path keeps the syntactic big-by-big order") {
    val out = innermostJoinOutputs(query(session(cbo = false))
      .queryExecution.optimizedPlan)
    assert(out.contains("k_b") && !out.contains("j_c"),
      s"expected big_a-x-big_b innermost without CBO, got columns $out")
  }

  test("ANALYZE stats + CBO pull the selective table into the innermost join") {
    val out = innermostJoinOutputs(query(session(cbo = true))
      .queryExecution.optimizedPlan)
    assert(out.contains("j_c") && !out.contains("k_b") && !out.contains("v_b"),
      s"expected big_a-x-tiny_c innermost under CBO, got columns $out")
  }

  test("the reorder is pure optimization: identical results either way") {
    val a = query(session(cbo = false)).collect().map(_.toString).sorted.toSeq
    val b = query(session(cbo = true)).collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty, "probe join returned no rows — vacuous")
    assert(a == b)
  }

  test("ANALYZE stats are visible to the optimizer (EXPLAIN COST shows rowCount)") {
    val s = session(cbo = true)
    val cost = s.sql(s"EXPLAIN COST SELECT * FROM $db.big_a")
      .head().getString(0)
    assert(cost.contains("rowCount="),
      s"catalog rowCount missing from EXPLAIN COST under CBO:\n$cost")
  }
}
