package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Log compaction and schema evolution on SnapshotTable — the last
  * two gaps vs the real transactional formats' metadata layer.
  */
class SnapshotLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(tag: String): String =
    Artifacts.exitRoot(s"graft-log-$tag")

  import scala.jdk.CollectionConverters._

  private def markerCount(root: String): Int = {
    val ld = java.nio.file.Paths.get(root, "_log")
    val s = java.nio.file.Files.list(ld)
    try s.iterator().asScala.count(p =>
      p.getFileName.toString.forall(_.isDigit))
    finally s.close()
  }

  test("compactLog folds markers into one checkpoint; OCC still sees history") {
    val root = freshRoot("compact")
    val nation = Tables.nation(spark, TestSpark.sf0001)
    // five partition-scoped commits
    (1 to 5).foreach { i =>
      SnapshotTable.commit(spark, root, nation, partitions = Seq(s"p$i"))
    }
    assert(markerCount(root) === 5)
    val folded = SnapshotTable.compactLog(root)
    assert(folded === 5 && markerCount(root) === 0)

    // version numbering continues above the checkpoint
    val v6 = SnapshotTable.commit(spark, root, nation, partitions = Seq("p6"))
    assert(v6 === 6)

    // conflict detection still answers from the checkpoint: a commit
    // derived from v1 that overlaps v3's partition must abort ...
    val stale = intercept[SnapshotTable.SnapshotConflict] {
      SnapshotTable.commit(spark, root, nation,
        partitions = Seq("p3"), readVersion = 1)
    }
    assert(stale.getMessage.contains("v3"))
    // ... while a disjoint one rebases and lands
    val v7 = SnapshotTable.commit(spark, root, nation,
      partitions = Seq("zz"), readVersion = 1)
    assert(v7 === 7)

    // second compaction folds the new markers into the same checkpoint
    assert(SnapshotTable.compactLog(root) === 2)
    assert(markerCount(root) === 0)
    intercept[SnapshotTable.SnapshotConflict] {
      SnapshotTable.commit(spark, root, nation,
        partitions = Seq("p6"), readVersion = 5)
    }
  }

  test("compaction is idempotent and a no-op on empty/uncommitted logs") {
    val root = freshRoot("noop")
    assert(SnapshotTable.compactLog(root) === 0)
    SnapshotTable.commit(spark, root, Tables.region(spark, TestSpark.sf0001))
    assert(SnapshotTable.compactLog(root) === 1)
    assert(SnapshotTable.compactLog(root) === 0)
    assert(SnapshotTable.read(spark, root).count() === 5)
  }

  test("schema evolution: later commits may add columns; time travel keeps old schema") {
    val root = freshRoot("schema")
    val base = Tables.region(spark, TestSpark.sf0001)
    SnapshotTable.commit(spark, root, base)
    // v2 adds a column — full-version snapshots make this a plain
    // commit; no merge-on-read machinery needed
    SnapshotTable.commit(spark, root,
      base.withColumn("r_tier", (col("r_regionkey") % 2).cast("long")))
    val latest = SnapshotTable.read(spark, root)
    assert(latest.columns.contains("r_tier"))
    assert(latest.count() === base.count())
    // time travel reproduces the PRE-evolution schema exactly
    val old = SnapshotTable.read(spark, root, version = 1)
    assert(!old.columns.contains("r_tier"))
    assert(old.exceptAll(base).isEmpty && base.exceptAll(old).isEmpty)
    // stats skipping composes with the evolved schema
    SnapshotTable.commit(spark, root,
      latest.repartitionByRange(2, col("r_regionkey")),
      statsCols = Seq("r_regionkey"))
    val pruned = SnapshotTable.readPruned(spark, root, "r_regionkey", "0", "1")
    assert(pruned.columns.contains("r_tier"))
    assert(pruned.count() ===
      latest.filter(col("r_regionkey").between(0, 1)).count())
  }
}
