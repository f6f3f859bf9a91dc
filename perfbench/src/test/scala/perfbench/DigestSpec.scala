package perfbench

import org.apache.spark.sql.Observation
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

class DigestSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private def query(name: String) = SparkEntry.queries(name)(spark, SparkFixture.dataDir)

  private def onAction(name: String, obs: String): String = {
    val o = Observation(obs)
    Digest.action(Digest.observed(query(name), o), o)
  }

  test("a query's digest is the same on two runs, and on the action and by aggregate") {
    val a = onAction("q_pricing_summary", "digest_a")
    val b = onAction("q_pricing_summary", "digest_b")
    assert(a === b)
    assert(Digest.of(query("q_pricing_summary")) === a)
  }

  test("the digest ignores row order but sees a duplicated row") {
    val df = query("q_pricing_summary")
    val d = Digest.of(df)
    assert(Digest.of(df.orderBy(df.columns.reverse.map(df.col): _*)) === d)
    assert(Digest.of(df.union(df.limit(1))) !== d)
  }

  test("a digest survives a map column and duplicate column names") {
    val df = spark.sql("SELECT map('k', r_regionkey) AS m, r_name, r_name FROM region")
    assert(Digest.of(df) === Digest.of(df))
    assert(Digest.of(df).startsWith("5:"))
  }
}
