package graft.functions.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Native n-gram extraction kernels. The portable formulations
  * (transform ∘ sequence with substr / concat_ws — TextFunctions
  * .charNgrams / .shingles3/5) evaluate an interpreted lambda per
  * output element (~1 µs each: higher-order functions are
  * CodegenFallback), which made n-gram construction the dominant cost
  * of every shingle pipeline (1.6 s just to build the corpus's 1.5M
  * bigrams at sf0.1: NOTES.md, "Dev-probe measurements"). These
  * kernels run the loop as compiled JVM code invoked once per ROW from
  * within whole-stage codegen — identical output, order, and
  * duplicates, so every DuckDB oracle is unchanged.
  *
  * Edge semantics: fewer than n chars/tokens → EMPTY array, matching
  * DuckDB's ascending generate_series (the HOF twin's descending
  * Spark `sequence(1, 0)` quirk never fires on this corpus — inputs
  * are guaranteed ≥ 10 tokens; PropertySpec pins equivalence on the
  * non-degenerate domain).
  */
object NgramKernels {
  private val empty = new GenericArrayData(Array.empty[Any])
  private val space = UTF8String.fromString(" ")

  /** All length-n character windows of `text`, 1-char stride.
    *
    * r8 rewrite: the original called `substringSQL(i+1, n)` per
    * position, and UTF8String's CHARACTER indexing scans from the
    * start of the string to find the i-th boundary (UTF-8 is
    * variable-width) — O(len²) bytes touched per document, which at
    * 26× bench scale made n-gram construction 38 s of q_lang_id's
    * 48 s (and taxed every shingle pipeline the same way). Now: one
    * forward pass records each character's byte offset, then every
    * window is a zero-copy `fromBytes` slice over the shared byte
    * array — O(len) scanning total, identical output.
    */
  def charNgrams(text: UTF8String, n: Int): ArrayData = {
    val numChars = text.numChars()
    val count = numChars - n + 1
    if (count <= 0) return empty
    val bytes = text.getBytes // at most one copy, only for offset views
    val starts = new Array[Int](numChars + 1)
    var i = 0
    var c = 0
    while (i < bytes.length) {
      starts(c) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    starts(c) = bytes.length
    val out = new Array[Any](count)
    var k = 0
    while (k < count) {
      out(k) = UTF8String.fromBytes(bytes, starts(k), starts(k + n) - starts(k))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Space-joined length-n token windows (word shingles). Null tokens
    * are skipped within a window, mirroring concat_ws.
    */
  def wordNgrams(toks: ArrayData, n: Int): ArrayData = {
    val count = toks.numElements() - n + 1
    if (count <= 0) return empty
    val out = new Array[Any](count)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i < count) {
      var j = 0
      while (j < n) {
        window(j) = if (toks.isNullAt(i + j)) null
          else toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Shared shape of the two n-gram expressions: unary over the data
  * column with the window size a construction-time constant (the SQL
  * surface passes it as a foldable int literal).
  */
abstract class NgramExpression extends UnaryExpression {
  def n: Int
  def inputType: DataType

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName window size must be >= 1, got $n")
    else if (child.dataType == inputType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ${inputType.catalogString}, got ${child.dataType.catalogString}")
}

/** array of all n-char windows of a string column. */
case class CharNgrams(child: Expression, n: Int) extends NgramExpression {
  override def inputType: DataType = StringType
  override def prettyName: String = CharNgrams.name

  override protected def nullSafeEval(t: Any): Any =
    NgramKernels.charNgrams(t.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expressions.NgramKernels.charNgrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array of all space-joined n-token windows of an array<string>
  * column.
  */
case class WordNgrams(child: Expression, n: Int) extends NgramExpression {
  override def inputType: DataType = ArrayType(StringType)
  override def prettyName: String = WordNgrams.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName window size must be >= 1, got $n")
    else child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string>, got ${other.catalogString}")
    }

  override protected def nullSafeEval(t: Any): Any =
    NgramKernels.wordNgrams(t.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expressions.NgramKernels.wordNgrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Registry plumbing shared by the two functions: the SQL surface is
  * f(col, n) with n a foldable int literal, lowered to the
  * constant-n expression at resolution time.
  */
abstract class NgramRegistration {
  def name: String
  def make(child: Expression, n: Int): Expression
  def exprClass: Class[_]

  // lazy: `name` is supplied by the concrete object, which initializes
  // AFTER this abstract class's fields would otherwise be evaluated
  final lazy val identifier: FunctionIdentifier = FunctionIdentifier(name)
  final def info: ExpressionInfo = new ExpressionInfo(exprClass.getName, name)

  final lazy val builder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, s"$name expects (column, n) arguments")
    val n = children(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$name window size must be an int literal, got $other")
    }
    make(children.head, n)
  }

  /** Idempotent per-session registration. */
  final def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(identifier, info, builder)
}

object CharNgrams extends NgramRegistration {
  val name = "char_ngrams"
  def make(child: Expression, n: Int): Expression = CharNgrams(child, n)
  def exprClass: Class[_] = classOf[CharNgrams]
}

object WordNgrams extends NgramRegistration {
  val name = "word_ngrams"
  def make(child: Expression, n: Int): Expression = WordNgrams(child, n)
  def exprClass: Class[_] = classOf[WordNgrams]
}
