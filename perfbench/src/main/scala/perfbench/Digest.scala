package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Output check for a query result, computed on the timed action
  * itself through `Dataset.observe`: the row count plus the sums of
  * two independent row hashes (xxhash64 and murmur3). The sums are
  * order-independent, a duplicated row changes them, and they are
  * taken in DECIMAL so they cannot overflow.
  */
object Digest {
  /** `df` with positional column names, so duplicate or dotted names
    * in a result cannot make the hash inputs ambiguous.
    */
  private def positional(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"c$i"): _*)

  private def hashInputs(df: DataFrame): Seq[Column] =
    df.schema.fields.toSeq.map { f =>
      // map columns are not hashable; their JSON form is
      if (f.dataType.isInstanceOf[MapType]) to_json(col(f.name)) else col(f.name)
    }

  private def aggregates(df: DataFrame): Seq[Column] = {
    val in = hashInputs(df)
    val (h1, h2) =
      if (in.isEmpty) (lit(0L), lit(0))
      else (xxhash64(in: _*), hash(in: _*))
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(h1.cast("decimal(20,0)")), lit(BigDecimal(0))).as("h1"),
      coalesce(sum(h2.cast("decimal(20,0)")), lit(BigDecimal(0))).as("h2"))
  }

  def render(r: Row): String =
    s"${r.getAs[Any]("rows")}:${r.getAs[Any]("h1")}:${r.getAs[Any]("h2")}"

  /** The query wrapped so that an action on it also yields its digest
    * through `obs`. Named observations let a query-execution listener
    * tie the action back to its op.
    */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val p = positional(df)
    val a = aggregates(p)
    p.observe(obs, a.head, a.tail: _*)
  }

  /** The digest of `df` by a separate aggregate (for tests and data
    * checks, never on the timed path).
    */
  def of(df: DataFrame): String = {
    val p = positional(df)
    val a = aggregates(p)
    render(p.agg(a.head, a.tail: _*).head())
  }

  /** Runs `df`, wrapped by [[observed]], through the noop sink — every
    * output column is evaluated and nothing is written — and returns
    * its digest.
    */
  def action(df: DataFrame, obs: Observation): String = {
    df.write.format("noop").mode("overwrite").save()
    val m = obs.get
    s"${m("rows")}:${m("h1")}:${m("h2")}"
  }
}
