package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Value-set (point-lookup) file skipping on SnapshotTable: files
  * record their per-column distinct values at commit when under a
  * cap; a `column = value` probe opens only the files whose set holds
  * the value, with results identical to the unpruned filter; over-cap
  * files record OVERFLOW and are conservatively kept.
  */
class SnapshotSetsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(tag: String): String =
    Artifacts.exitRoot(s"graft-sets-$tag")

  test("point probe opens only the files holding the key; results identical") {
    val root = freshRoot("point")
    // hash-partition on the key → each key value lives in exactly 1 file
    val orders = Tables.orders(spark, TestSpark.sf0001)
      .repartition(8, col("o_orderkey"))
    SnapshotTable.commit(spark, root, orders, setCols = Seq("o_orderkey"))

    val someKey = Tables.orders(spark, TestSpark.sf0001)
      .agg(min("o_orderkey")).head().getLong(0)
    val kept = SnapshotTable.pruneFilesEq(spark, root, "o_orderkey", someKey.toString)
    assert(kept.size === 1,
      s"hash-partitioned key must live in exactly 1 file, probe kept ${kept.size}")

    val point = SnapshotTable.readPoint(spark, root, "o_orderkey", someKey.toString)
    val full = SnapshotTable.read(spark, root).filter(col("o_orderkey") === someKey)
    assert(point.exceptAll(full).isEmpty && full.exceptAll(point).isEmpty)
    assert(point.count() === full.count() && full.count() > 0)
  }

  test("a value present nowhere prunes every file; result is empty with the schema") {
    val root = freshRoot("miss")
    SnapshotTable.commit(spark, root,
      Tables.nation(spark, TestSpark.sf0001).repartition(4, col("n_nationkey")),
      setCols = Seq("n_nationkey"))
    val kept = SnapshotTable.pruneFilesEq(spark, root, "n_nationkey", "9999")
    assert(kept.isEmpty)
    val df = SnapshotTable.readPoint(spark, root, "n_nationkey", "9999")
    assert(df.count() === 0)
    assert(df.columns.contains("n_name"))
  }

  test("values with manifest framing chars (tab/newline/\\u0001) never mis-prune") {
    // a newline inside a value used to split its manifest line in two,
    // leaving a VALID-looking truncated set — the probe then wrongly
    // pruned a file that holds the value (pruning became a correctness
    // filter). The frame-escape makes the round trip injective.
    import spark.implicits._
    val root = freshRoot("frame")
    val nasty = Seq(
      (1L, "plain"),
      (2L, "tab\there"),
      (3L, "line\nbreak"),
      (4L, "sep\u0001char"),
      (5L, "back\\slash"),
      (6L, "\\0N"), // collides with the null sentinel unescaped
      (7L, null.asInstanceOf[String]))
      .toDF("id", "s")
      .repartition(3, col("id"))
    SnapshotTable.commit(spark, root, nasty,
      statsCols = Seq("s"), setCols = Seq("s"))
    for (probe <- Seq("tab\there", "line\nbreak", "sep\u0001char",
        "back\\slash", "\\0N", "plain")) {
      val point = SnapshotTable.readPoint(spark, root, "s", probe)
      assert(point.count() === 1, s"probe for ${probe.replace("\n", "\\n")} lost its row")
      // and the kept-file set is genuinely pruned, not keep-everything
      val kept = SnapshotTable.pruneFilesEq(spark, root, "s", probe)
      assert(kept.nonEmpty && kept.size < 3)
    }
    // stats manifest round-trips the same values (min/max are strings here)
    val st = SnapshotTable.statsTable(spark, root).filter(col("column") === "s")
    val mins = st.select("min").collect().map(_.getString(0)).toSet
    assert(mins.exists(_.contains("\n")) || mins.exists(_.contains("\t")) ||
      mins.exists(_.contains("\\")),
      s"escaped stats failed to round-trip: $mins")
  }

  test("over-cap columns record OVERFLOW and keep every file (still correct)") {
    val root = freshRoot("overflow")
    val orders = Tables.orders(spark, TestSpark.sf0001).repartition(4)
    // cap of 3: every file has far more distinct keys → all OVERFLOW
    SnapshotTable.commit(spark, root, orders,
      setCols = Seq("o_orderkey"), setCap = 3)
    val someKey = Tables.orders(spark, TestSpark.sf0001)
      .agg(max("o_orderkey")).head().getLong(0)
    val kept = SnapshotTable.pruneFilesEq(spark, root, "o_orderkey", someKey.toString)
    assert(kept.size === 4, "overflowed sets must keep every file")
    val point = SnapshotTable.readPoint(spark, root, "o_orderkey", someKey.toString)
    val full = SnapshotTable.read(spark, root).filter(col("o_orderkey") === someKey)
    assert(point.exceptAll(full).isEmpty && full.exceptAll(point).isEmpty)
  }

  test("no-sets table keeps every file; deletion vectors apply to point reads") {
    val root = freshRoot("dv")
    SnapshotTable.commit(spark, root,
      Tables.orders(spark, TestSpark.sf0001).repartition(4, col("o_orderkey")),
      setCols = Seq("o_orderkey"))
    // a low-cardinality second column committed WITHOUT sets: kept
    assert(SnapshotTable.pruneFilesEq(spark, root, "o_orderstatus", "F").size === 4)

    // delete some rows; the point read must subtract the vector
    // (sets copied forward by the DV link-commit)
    val someKey = Tables.orders(spark, TestSpark.sf0001)
      .filter(col("o_orderstatus") === "F")
      .agg(min("o_orderkey")).head().getLong(0)
    SnapshotTable.deleteWhere(spark, root, "o_orderstatus = 'F'")
    assert(SnapshotTable.pruneFilesEq(spark, root, "o_orderkey", someKey.toString).size === 1)
    assert(SnapshotTable.readPoint(spark, root, "o_orderkey", someKey.toString).count() === 0)
  }
}
