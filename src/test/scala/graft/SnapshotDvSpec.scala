package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deletion vectors on SnapshotTable: a row-level delete commits a
  * new version whose data files are hard links of the previous
  * version's (no bytes rewritten) plus a `_dv` position list; reads
  * subtract the vector; time travel to the pre-delete version still
  * sees every row; a full rewrite commit ends the merge-on-read debt.
  */
class SnapshotDvSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(tag: String): String =
    Artifacts.exitRoot(s"graft-dv-$tag")

  private def dataFiles(root: String, v: Int): Map[String, Object] = {
    val dir = java.nio.file.Paths.get(root, s"v=$v")
    val s = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) && {
          val n = p.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        })
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.getAttribute(p, "unix:ino"))
        .toMap
    } finally s.close()
  }

  test("deleteWhere removes rows without rewriting data files") {
    val root = freshRoot("basic")
    val orders = Tables.orders(spark, TestSpark.sf0001)
    val v1 = SnapshotTable.commit(spark, root, orders)
    val before = SnapshotTable.read(spark, root).count()
    val expectDeleted = SnapshotTable.read(spark, root)
      .filter(col("o_orderstatus") === "F").count()
    assert(expectDeleted > 0)

    val v2 = SnapshotTable.deleteWhere(spark, root, "o_orderstatus = 'F'")
    assert(v2 === v1 + 1)

    // reads subtract the vector
    val after = SnapshotTable.read(spark, root)
    assert(after.count() === before - expectDeleted)
    assert(after.filter(col("o_orderstatus") === "F").count() === 0)

    // the data files were NOT rewritten: same names, same inodes
    val f1 = dataFiles(root, v1)
    val f2 = dataFiles(root, v2)
    assert(f1 === f2, "v2 must hard-link v1's data files, not rewrite them")

    // time travel to v1 still sees every row
    assert(SnapshotTable.read(spark, root, v1).count() === before)

    // the vector is exactly the deleted row count
    assert(SnapshotTable.deletionVectors(spark, root).count() === expectDeleted)
  }

  test("deletes accumulate across deleteWhere commits and stay live-row-scoped") {
    val root = freshRoot("accum")
    val orders = Tables.orders(spark, TestSpark.sf0001)
    SnapshotTable.commit(spark, root, orders)
    val total = orders.count()
    val nF = orders.filter(col("o_orderstatus") === "F").count()
    val nLow = orders.filter(col("o_totalprice") < 50000).count()
    val nBoth = orders.filter(col("o_orderstatus") === "F" && col("o_totalprice") < 50000).count()

    SnapshotTable.deleteWhere(spark, root, "o_orderstatus = 'F'")
    // second predicate overlaps the first; overlap rows are already
    // dead and must not double-enter the vector
    SnapshotTable.deleteWhere(spark, root, "o_totalprice < 50000")

    val live = SnapshotTable.read(spark, root)
    assert(live.count() === total - nF - nLow + nBoth)
    assert(SnapshotTable.deletionVectors(spark, root).count() === nF + nLow - nBoth)
    // vector has no duplicate positions
    val dv = SnapshotTable.deletionVectors(spark, root)
    assert(dv.distinct().count() === dv.count())
  }

  test("readPruned subtracts the vector; CDC reports DV deletes; rewrite clears DVs") {
    val root = freshRoot("integ")
    val orders = Tables.orders(spark, TestSpark.sf0001)
      .repartitionByRange(4, col("o_orderkey"))
    val v1 = SnapshotTable.commit(spark, root, orders, statsCols = Seq("o_orderkey"))
    val v2 = SnapshotTable.deleteWhere(spark, root, "o_orderkey % 10 = 3")

    // pruned read ≡ DV-applied full read + filter
    val loHi = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val lo = loHi.getLong(0); val hi = lo + (loHi.getLong(1) - lo) / 4
    val pruned = SnapshotTable.readPruned(spark, root, "o_orderkey",
      lo.toString, hi.toString)
    val full = SnapshotTable.read(spark, root)
      .filter(col("o_orderkey").between(lo, hi))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)

    // the change feed derives the delete rows from the vector
    val ch = SnapshotTable.changes(spark, root, v1, v2)
    val expectDeleted = orders.filter(col("o_orderkey") % 10 === 3).count()
    assert(ch.filter(col("_change_type") === "delete").count() === expectDeleted)
    assert(ch.filter(col("_change_type") === "insert").count() === 0)

    // a full rewrite commit (e.g. OPTIMIZE-style) materializes the
    // subtraction: fresh files, no _dv, same live rows
    val live = SnapshotTable.read(spark, root).localCheckpoint()
    val v3 = SnapshotTable.commit(spark, root, live, readVersion = v2)
    assert(SnapshotTable.deletionVectors(spark, root, v3).count() === 0)
    assert(SnapshotTable.read(spark, root, v3).count() === live.count())
  }

  test("vacuum of the linked-from version leaves the DV version readable") {
    val root = freshRoot("vacuum")
    val nation = Tables.nation(spark, TestSpark.sf0001)
    val v1 = SnapshotTable.commit(spark, root, nation)
    val v2 = SnapshotTable.deleteWhere(spark, root, "n_nationkey >= 20")
    val v3 = SnapshotTable.deleteWhere(spark, root, "n_nationkey >= 15")
    val liveCount = SnapshotTable.read(spark, root).count()
    assert(liveCount === 15)

    // drop v1 and v2; v3's data files are hard links into v1's
    // inodes, which survive the unlink — merge-on-read must still work
    val dropped = SnapshotTable.vacuum(root, keepLast = 1)
    assert(dropped.contains(v1) && dropped.contains(v2))
    assert(SnapshotTable.read(spark, root, v3).count() === liveCount)
    assert(SnapshotTable.deletionVectors(spark, root, v3).count() === 10)
  }
}
