package graft

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed expectations for the vector/text Column builders. */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("dot / norm / cosine / l2 on known vectors") {
    val df = Seq(
      (Array(1.0f, 2.0f, 2.0f), Array(2.0f, 0.0f, 1.0f))
    ).toDF("a", "b")
    val row = df.select(
      VF.dot($"a", $"b").as("dot"),
      VF.norm($"a").as("na"),
      VF.norm($"b").as("nb"),
      VF.cosine($"a", $"b").as("cos"),
      VF.l2($"a", $"b").as("l2")).head()
    assert(row.getDouble(0) === 4.0) // 2+0+2
    assert(row.getDouble(1) === 3.0) // sqrt(9)
    assert(math.abs(row.getDouble(2) - math.sqrt(5.0)) < 1e-12)
    assert(math.abs(row.getDouble(3) - 4.0 / (3.0 * math.sqrt(5.0))) < 1e-12)
    assert(math.abs(row.getDouble(4) - math.sqrt(1 + 4 + 1)) < 1e-12)
  }

  test("tokens drops empties; shingles3 are distinct ordered 3-grams") {
    val df = Seq("a b c d ").toDF("text")
    val toks = df.select(TF.tokens($"text")).as[Seq[String]].head()
    assert(toks === Seq("a", "b", "c", "d"))
    val sh = df.select(TF.shingles3(TF.tokens($"text"))).as[Seq[String]].head()
    assert(sh === Seq("a b c", "b c d"))
  }

  test("jaccard of overlapping sets") {
    val df = Seq((Array("a", "b", "c"), Array("b", "c", "d"))).toDF("x", "y")
    val j = df.select(TF.jaccard($"x", $"y")).head().getDouble(0)
    assert(j === 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("charNgrams slides over the string") {
    val df = Seq("abcd").toDF("text")
    val g = df.select(TF.charNgrams($"text", 2)).as[Seq[String]].head()
    assert(g === Seq("ab", "bc", "cd"))
  }
}
