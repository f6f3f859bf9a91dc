package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batch MERGE INTO and the commit-history metadata table on
  * SnapshotTable.
  */
class SnapshotMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(tag: String): String =
    Artifacts.exitRoot(s"graft-merge-$tag")

  test("mergeByKey updates matched keys, inserts new ones, carries the rest") {
    import spark.implicits._
    val root = freshRoot("basic")
    val nation = Tables.nation(spark, TestSpark.sf0001)
    SnapshotTable.commit(spark, root, nation)

    // update nation 0's name, insert a new key 99
    val source = Seq((0L, "RENAMED", 0L), (99L, "NEWLAND", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val v2 = SnapshotTable.mergeByKey(spark, root, source, Seq("n_nationkey"))
    assert(v2 === 2)

    val after = SnapshotTable.read(spark, root)
    assert(after.count() === nation.count() + 1)
    assert(after.filter(col("n_nationkey") === 0)
      .head().getAs[String]("n_name") === "RENAMED")
    assert(after.filter(col("n_nationkey") === 99).count() === 1)
    // untouched rows carried byte-identically
    assert(after.filter(col("n_nationkey") === 5)
      .exceptAll(nation.filter(col("n_nationkey") === 5)).isEmpty)
    // pre-merge version intact
    assert(SnapshotTable.read(spark, root, 1).count() === nation.count())
  }

  test("mergeByKey rejects a source with duplicate keys") {
    import spark.implicits._
    val root = freshRoot("dups")
    SnapshotTable.commit(spark, root, Tables.nation(spark, TestSpark.sf0001))
    val bad = Seq((1L, "A", 0L), (1L, "B", 0L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.mergeByKey(spark, root, bad, Seq("n_nationkey"))
    }
    assert(e.getMessage.contains("duplicate keys"))
  }

  test("restore rolls back as a new hard-link commit; history intact") {
    val root = freshRoot("restore")
    val nation = Tables.nation(spark, TestSpark.sf0001)
    SnapshotTable.commit(spark, root, nation)                       // v1 good
    SnapshotTable.deleteWhere(spark, root, "n_nationkey >= 10")     // v2 oops
    assert(SnapshotTable.read(spark, root).count() === 10)

    val v3 = SnapshotTable.restore(spark, root, 1)
    assert(v3 === 3)
    val restored = SnapshotTable.read(spark, root)
    assert(restored.count() === nation.count())
    assert(restored.exceptAll(nation).isEmpty && nation.exceptAll(restored).isEmpty)
    // the bad version is still time-travelable (history never rewritten)
    assert(SnapshotTable.read(spark, root, 2).count() === 10)

    // restoring TO a DV version carries its vector (same live rows)
    val v4 = SnapshotTable.restore(spark, root, 2)
    assert(SnapshotTable.read(spark, root, v4).count() === 10)
    assert(SnapshotTable.deletionVectors(spark, root, v4).count() === 15)
  }

  test("restore cannot bypass a CHECK constraint added after the target version") {
    import spark.implicits._
    val root = freshRoot("restore-check")
    val seedDir = freshRoot("restore-check-seed")
    Seq((1L, -5.0), (2L, 3.0)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(seedDir)
    val seed = spark.read.parquet(seedDir)
    SnapshotTable.commit(spark, root, seed)                          // v1: has v<0
    SnapshotTable.commit(spark, root, seed.filter(col("v") >= 0))    // v2 clean
    SnapshotTable.addConstraint(root, "nonneg", "v >= 0")
    // v1 violates the (later-added) constraint: restoring to it must
    // abort — no violating version can ever become the readable head
    intercept[SnapshotTable.ConstraintViolation] {
      SnapshotTable.restore(spark, root, 1)
    }
    assert(SnapshotTable.currentVersion(root) === 2)
    // but restoring to a DV version whose LIVE rows satisfy it works:
    // delete the negative row in a fresh v3, restore to v3 is legal
    SnapshotTable.dropConstraint(root, "nonneg")
    SnapshotTable.restore(spark, root, 1)                            // v3: has v<0
    SnapshotTable.deleteWhere(spark, root, "v < 0")                  // v4: live rows clean
    SnapshotTable.addConstraint(root, "nonneg", "v >= 0")
    val v5 = SnapshotTable.restore(spark, root, 4)
    assert(SnapshotTable.read(spark, root, v5).count() === 1)
  }

  test("commit rejects schemas using the reserved DV helper column names") {
    import spark.implicits._
    val root = freshRoot("reserved")
    val bad = Seq((1L, "x")).toDF("__dv_file", "payload")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commit(spark, root, bad)
    }
    assert(e.getMessage.contains("reserved"))
    val bad2 = Seq((1L, "x")).toDF("__idx", "payload")
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(spark, root, bad2)
    }
  }

  test("historyTable reports every live version with its metadata") {
    import spark.implicits._
    val root = freshRoot("history")
    SnapshotTable.commit(spark, root,
      Tables.nation(spark, TestSpark.sf0001).repartition(3))
    SnapshotTable.deleteWhere(spark, root, "n_nationkey >= 20")
    SnapshotTable.mergeByKey(spark, root,
      Seq((0L, "X", 0L)).toDF("n_nationkey", "n_name", "n_regionkey"),
      Seq("n_nationkey"))

    val h = SnapshotTable.historyTable(spark, root).collect()
    assert(h.map(_.getInt(0)).toSeq === Seq(3, 2, 1), "newest first")
    val byV = h.map(r => r.getInt(0) -> r).toMap
    assert(byV(1).getAs[Int]("n_files") === 3)
    assert(byV(2).getAs[Boolean]("has_dv"), "v2 is the DV commit")
    assert(!byV(3).getAs[Boolean]("has_dv"), "the merge rewrite clears DVs")
    assert(h.forall(_.getAs[String]("partitions") === "*"))

    // vacuumed versions drop out of the history
    SnapshotTable.vacuum(root, keepLast = 1)
    assert(SnapshotTable.historyTable(spark, root)
      .collect().map(_.getInt(0)).toSeq === Seq(3))
  }
}
