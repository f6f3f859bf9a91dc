package graft

import graft.functions.{VectorFunctions => VF}
import graft.plans.RewriteCosineToNative
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The optimizer rule must (1) actually fire on the portable cosine
  * shape and (2) preserve results bit-for-bit.
  */
class RewriteCosineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def probe = Tables.embeddings(spark, TestSpark.sf0001)
    .filter(col("vec_id") < 30)
    .select(col("vec_id"), col("embedding").as("a"),
      reverse(col("embedding")).as("b"))

  test("rule rewrites the declarative cosine into cosine_sim") {
    spark.experimental.extraOptimizations = Seq(RewriteCosineToNative)
    try {
      val df = probe.select(col("vec_id"), VF.cosine(col("a"), col("b")).as("c"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("cosine_sim"), optimized)
      assert(!optimized.contains("aggregate("), "fold should be gone:\n" + optimized)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("rewritten plan returns bit-identical results") {
    // the shared session injects the rule through GraftExtensions, so
    // the plain side excludes it by name
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, RewriteCosineToNative.ruleName)
    val plain =
      try {
        val df = probe.select(col("vec_id"), VF.cosine(col("a"), col("b")).as("c"))
        assert(!df.queryExecution.optimizedPlan.toString.contains("cosine_sim"))
        df.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      } finally spark.conf.unset(excluded)
    spark.experimental.extraOptimizations = Seq(RewriteCosineToNative)
    val rewritten =
      try probe.select(col("vec_id"), VF.cosine(col("a"), col("b")).as("c"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      finally { spark.experimental.extraOptimizations = Nil }
    assert(plain.keySet === rewritten.keySet)
    // bit-identical, not approximately equal
    assert(plain.forall { case (k, v) =>
      java.lang.Double.doubleToLongBits(v) ==
        java.lang.Double.doubleToLongBits(rewritten(k))
    })
  }

  test("rule leaves non-cosine folds untouched") {
    spark.experimental.extraOptimizations = Seq(RewriteCosineToNative)
    try {
      val df = probe.select(VF.dot(col("a"), col("b")).as("d"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("cosine_sim"))
      assert(df.count() === 30)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("rule does not fire on non-float arrays") {
    // The cosine shape over array<int> analyzes fine (casts to double),
    // but getFloat on int storage would reinterpret bits — the rewrite
    // must leave it to the declarative (correct) form.
    spark.experimental.extraOptimizations = Seq(RewriteCosineToNative)
    try {
      val ints = spark.range(5)
        .select(transform(sequence(lit(1), lit(4)), i => i * col("id").cast("int")).as("a"))
        .select(col("a"), reverse(col("a")).as("b"))
      val df = ints.select(VF.cosine(col("a"), col("b")).as("c"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("cosine_sim"), optimized)
      assert(df.count() === 5)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("fused expression matches declarative null semantics on edge cases") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    graft.functions.expressions.CosineSimilarity.register(spark)
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      Row(0, Array[java.lang.Float](1f, 2f), Array[java.lang.Float](3f, 4f)),   // normal
      Row(1, Array[java.lang.Float](1f, 2f), Array[java.lang.Float](3f)),       // length mismatch
      Row(2, Array[java.lang.Float](1f, null), Array[java.lang.Float](3f, 4f)), // null element
      Row(3, Array[java.lang.Float](0f, 0f), Array[java.lang.Float](3f, 4f)),   // zero norm
      Row(4, Array.empty[java.lang.Float], Array.empty[java.lang.Float]),       // both empty
      Row(5, null, Array[java.lang.Float](3f, 4f)))                             // null array
    val df = spark.createDataFrame(rows, schema)
    val declarative = df.select(col("id"), VF.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    val fused = df.select(col("id"), VF.cosineFast(col("a"), col("b")).as("c"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(declarative === fused)
    assert(fused(0) != null)              // the normal row produces a value
    assert((1 to 5).forall(fused(_) == null)) // every edge case is null in BOTH forms
  }
}
