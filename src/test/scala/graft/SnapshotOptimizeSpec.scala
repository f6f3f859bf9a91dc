package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** OPTIMIZE compaction and CHECK constraints on SnapshotTable:
  * compaction collapses a many-small-files version into few
  * target-size files with identical rows (and materializes deletion
  * vectors); constraints reject a violating commit before anything
  * becomes readable.
  */
class SnapshotOptimizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(tag: String): String =
    Artifacts.exitRoot(s"graft-opt-$tag")

  private def dataFileCount(root: String, v: Int): Int = {
    val dir = java.nio.file.Paths.get(root, s"v=$v")
    val s = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.count(p => java.nio.file.Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      })
    } finally s.close()
  }

  test("compactFiles collapses small files into target-size files, same rows") {
    val root = freshRoot("compact")
    // a deliberately fragmented commit: 16 small files
    val orders = Tables.orders(spark, TestSpark.sf001).repartition(16)
    val v1 = SnapshotTable.commit(spark, root, orders)
    assert(dataFileCount(root, v1) === 16)
    val before = SnapshotTable.read(spark, root)

    // generous target → one output file
    val v2 = SnapshotTable.compactFiles(spark, root, targetFileBytes = 1L << 30)
    assert(dataFileCount(root, v2) < 16)
    val after = SnapshotTable.read(spark, root)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
    // time travel to the fragmented version still works
    assert(SnapshotTable.read(spark, root, v1).count() === after.count())
  }

  test("compactFiles materializes deletion vectors") {
    val root = freshRoot("dv")
    SnapshotTable.commit(spark, root,
      Tables.orders(spark, TestSpark.sf0001).repartition(8))
    SnapshotTable.deleteWhere(spark, root, "o_orderstatus = 'F'")
    val live = SnapshotTable.read(spark, root).localCheckpoint()

    val v3 = SnapshotTable.compactFiles(spark, root, targetFileBytes = 1L << 30)
    assert(SnapshotTable.deletionVectors(spark, root, v3).count() === 0)
    val after = SnapshotTable.read(spark, root, v3)
    assert(after.exceptAll(live).isEmpty && live.exceptAll(after).isEmpty)
  }

  test("compaction sizes output file count from live bytes") {
    val root = freshRoot("sizing")
    val orders = Tables.orders(spark, TestSpark.sf001).repartition(16)
    val v1 = SnapshotTable.commit(spark, root, orders)
    val dir = java.nio.file.Paths.get(root, s"v=$v1")
    val bytes = {
      val s = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p) && {
          val n = p.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        }).map(java.nio.file.Files.size).sum
      } finally s.close()
    }
    // target ~ quarter of the data → ~4-5 output files, never 16
    val v2 = SnapshotTable.compactFiles(spark, root, targetFileBytes = bytes / 4)
    val n = dataFileCount(root, v2)
    assert(n >= 2 && n <= 8, s"expected 2..8 compacted files, saw $n")
  }

  test("CHECK constraint rejects a violating commit and leaves no version behind") {
    val root = freshRoot("check")
    SnapshotTable.addConstraint(root, "qty_positive", "o_totalprice > 0")
    SnapshotTable.addConstraint(root, "status_known", "o_orderstatus IN ('O','F','P')")
    val orders = Tables.orders(spark, TestSpark.sf0001)
    val v1 = SnapshotTable.commit(spark, root, orders)
    assert(v1 === 1)

    val bad = orders.withColumn("o_totalprice",
      when(col("o_orderkey") % 100 === 0, lit(-1.0)).otherwise(col("o_totalprice")))
    val e = intercept[SnapshotTable.ConstraintViolation] {
      SnapshotTable.commit(spark, root, bad)
    }
    assert(e.getMessage.contains("qty_positive"))
    // nothing published, no staging debris poisoning the next commit
    assert(SnapshotTable.currentVersion(root) === v1)
    val v2 = SnapshotTable.commit(spark, root, orders)
    assert(v2 === 2)
  }

  test("null CHECK result counts as violation; dropConstraint lifts it") {
    val root = freshRoot("null")
    SnapshotTable.addConstraint(root, "name_present", "n_name IS NOT NULL AND length(n_name) > 0")
    val nation = Tables.nation(spark, TestSpark.sf0001)
    val withNull = nation.withColumn("n_name",
      when(col("n_nationkey") === 0, lit(null).cast("string"))
        .otherwise(col("n_name")))
    intercept[SnapshotTable.ConstraintViolation] {
      SnapshotTable.commit(spark, root, withNull)
    }
    SnapshotTable.dropConstraint(root, "name_present")
    assert(SnapshotTable.commit(spark, root, withNull) === 1)
    assert(SnapshotTable.constraints(root).isEmpty)
  }
}
