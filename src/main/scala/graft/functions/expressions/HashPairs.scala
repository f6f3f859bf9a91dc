package graft.functions.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSession

/** 128-bit set-identity kernels for the dedup verify path (r18,
  * VERDICT r17 item 4).
  *
  * The r17 hashed shingle/span sets keyed identity on ONE xxhash64 —
  * 64 bits. At the declared 100 TB scale (~10¹² distinct spans /
  * shingles) the birthday expectation is ~10¹²·10¹²/2/2⁶⁴ ≈ 2.7×10⁴
  * colliding pairs — silent wrong merges. These kernels key identity
  * on TWO INDEPENDENT xxhash64 evaluations (seeds 42 and a second
  * fixed seed): collision now needs both 64-bit hashes to collide on
  * the same pair, expectation ≈ 10²⁴/2/2¹²⁸ ≈ 1.5×10⁻¹⁵ pairs at
  * 10¹² keys — vanishing with 10¹⁵× margin. Seeds (not input
  * prefixing) keep the second hash independent: xxhash64(x, lit(k))
  * would post-mix the FIRST hash's state, so h1-collisions would
  * imply h2-collisions and the key would silently degrade to 64 bits.
  *
  * [[HashPairKernels.hashPairs]] maps an array<string> to the SORTED,
  * DISTINCT array<struct<h1,h2>> of its elements' hash pairs — one
  * compiled pass (the portable transform∘array_distinct∘array_sort
  * chain evaluates interpreted lambdas per element plus an
  * interpreted struct ordering per comparison).
  * [[HashPairKernels.sortedIntersectCount]] counts common pairs of
  * two such arrays by linear merge — no per-pair hash set, no
  * intersection array materialized (Spark's array_intersect over
  * struct elements takes the non-primitive path: a scala HashSet with
  * interpreted equality per element, allocated per PAIR on a verify
  * hot path of ~1.5M candidate pairs at 26× bench scale). BOTH sides
  * must come from hashPairs (sortedness is the contract that makes
  * the merge exact).
  */
object HashPairKernels {
  /** Spark SQL's own xxhash64 seed — h1 matches `xxhash64(x)`. */
  val Seed1 = 42L
  /** Independent second seed (arbitrary odd constant). */
  val Seed2 = 0x9747b28c31e57fb2L

  private val empty = new GenericArrayData(Array.empty[Any])

  /** Null elements are skipped: a null string has no identity, so it
    * is not a member of the set.
    */
  def hashPairs(arr: ArrayData): ArrayData = {
    val len = arr.numElements()
    val pairs = new Array[(Long, Long)](len)
    var n = 0
    var i = 0
    while (i < len) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        pairs(n) = (XXH64.hashUTF8String(s, Seed1), XXH64.hashUTF8String(s, Seed2))
        n += 1
      }
      i += 1
    }
    if (n == 0) return empty
    java.util.Arrays.sort(pairs, 0, n, new java.util.Comparator[(Long, Long)] {
      override def compare(a: (Long, Long), b: (Long, Long)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    })
    // dedupe adjacent (sorted) — set semantics like array_distinct
    val out = new Array[Any](n)
    var k = 0
    i = 0
    while (i < n) {
      if (i == 0 || pairs(i) != pairs(i - 1)) {
        out(k) = new GenericInternalRow(Array[Any](pairs(i)._1, pairs(i)._2))
        k += 1
      }
      i += 1
    }
    new GenericArrayData(if (k == n) out else out.take(k))
  }

  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val ra = a.getStruct(i, 2)
      val rb = b.getStruct(j, 2)
      val cmp1 = java.lang.Long.compare(ra.getLong(0), rb.getLong(0))
      if (cmp1 < 0) i += 1
      else if (cmp1 > 0) j += 1
      else {
        val cmp2 = java.lang.Long.compare(ra.getLong(1), rb.getLong(1))
        if (cmp2 < 0) i += 1
        else if (cmp2 > 0) j += 1
        else { c += 1; i += 1; j += 1 }
      }
    }
    c
  }
}

/** array<string> → sorted distinct array<struct<h1:bigint,h2:bigint>>;
  * null elements are skipped.
  */
case class HashPairs128(child: Expression) extends UnaryExpression {
  override def prettyName: String = HashPairs128.name

  override def dataType: DataType = HashPairs128.pairArrayType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(t: Any): Any =
    HashPairKernels.hashPairs(t.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expressions.HashPairKernels.hashPairs($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of common elements of two SORTED hash-pair arrays (both must
  * come from [[HashPairs128]]).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = SortedIntersectCount.name

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => e.dataType match {
      case ArrayType(s: StructType, _) =>
        s.fields.length == 2 && s.fields.forall(_.dataType == LongType)
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<struct<bigint,bigint>> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashPairKernels.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.HashPairKernels.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HashPairs128 {
  val name = "hash_pairs128"
  val pairArrayType: DataType = ArrayType(
    StructType(Seq(
      StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false))),
    containsNull = false)
  private lazy val identifier = FunctionIdentifier(name)
  private def info = new ExpressionInfo(classOf[HashPairs128].getName, name)
  private val builder: Seq[Expression] => Expression = { children =>
    require(children.size == 1, s"$name expects one argument")
    HashPairs128(children.head)
  }
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(identifier, info, builder)
}

object SortedIntersectCount {
  val name = "sorted_intersect_count"
  private lazy val identifier = FunctionIdentifier(name)
  private def info = new ExpressionInfo(classOf[SortedIntersectCount].getName, name)
  private val builder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, s"$name expects two arguments")
    SortedIntersectCount(children.head, children(1))
  }
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(identifier, info, builder)
}
