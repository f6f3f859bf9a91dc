package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.sources.SnapshotTable
import org.scalatest.funsuite.AnyFunSuite

/** commitPartitions' atomic partition-DROP (`dropValues`, r13): the
  * LSM-OPTIMIZE primitive. One committed version both rewrites the
  * slice's own partitions and removes the dropped ones — no
  * duplicated-rows window; untouched partitions hard-link forward;
  * dropped partitions conflict concurrent writers like rewritten
  * ones; prior versions still time-travel to the dropped rows.
  */
class SnapshotDropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def table(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("p", "v")
  }

  private def inode(root: String, v: Int): Map[String, Object] = {
    val dir = Paths.get(root, s"v=$v")
    val s = Files.list(dir)
    try s.iterator().asScala.filter(p => {
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
    }).map(p => p.getFileName.toString ->
      Files.getAttribute(p, "unix:ino")).toMap
    finally s.close()
  }

  test("dropValues removes partitions atomically, links the rest, keeps history") {
    val root = Artifacts.exitRoot("snapdrop")
    SnapshotTable.commitPartitions(spark, root,
      table(Seq((1L, "a"), (2L, "b"), (3L, "c"))), "p")
    // rewrite p=9 (new) and drop p=1 and p=2 in ONE version
    SnapshotTable.commitPartitions(spark, root,
      table(Seq((9L, "z"))), "p", readVersion = 1,
      dropValues = Seq(1L, 2L))
    val v2 = SnapshotTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(v2 === Seq((3L, "c"), (9L, "z")),
      "dropped partitions gone, untouched + fresh present")
    // time travel still sees the dropped rows
    assert(SnapshotTable.read(spark, root, version = 1).count() === 3L)
    // untouched partition p=3's file is the same inode (fast path)
    val f1 = inode(root, 1); val f2 = inode(root, 2)
    val carried = f2.keySet.intersect(f1.keySet)
    assert(carried.nonEmpty, "untouched partition must carry by hard link")
    carried.foreach(f => assert(f2(f) === f1(f), s"$f was rewritten"))
    assert(Files.exists(Paths.get(root, "v=2", "_partmap")),
      "drop commit must stay partmap-mapped")
  }

  test("a drop claims its partitions: concurrent writer of a dropped value conflicts") {
    val root = Artifacts.exitRoot("snapdrop-occ")
    SnapshotTable.commitPartitions(spark, root,
      table(Seq((1L, "a"), (2L, "b"))), "p")
    SnapshotTable.commitPartitions(spark, root,
      table(Seq((3L, "c"))), "p", readVersion = 1, dropValues = Seq(1L))
    // a writer based on v1 that touches the DROPPED partition must abort
    intercept[SnapshotTable.SnapshotConflict] {
      SnapshotTable.commitPartitions(spark, root,
        table(Seq((1L, "stale"))), "p", readVersion = 1)
    }
    // a v1-based writer of an untouched partition lands fine
    SnapshotTable.commitPartitions(spark, root,
      table(Seq((5L, "e"))), "p", readVersion = 1)
    assert(SnapshotTable.read(spark, root)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L, 5L))
  }

  test("guards: drop on CREATE and overlapping dropValues are rejected") {
    val root = Artifacts.exitRoot("snapdrop-guards")
    intercept[IllegalArgumentException] {
      SnapshotTable.commitPartitions(spark, root,
        table(Seq((1L, "a"))), "p", dropValues = Seq(2L))
    }
    SnapshotTable.commitPartitions(spark, root,
      table(Seq((1L, "a"), (2L, "b"))), "p")
    intercept[IllegalArgumentException] {
      SnapshotTable.commitPartitions(spark, root,
        table(Seq((1L, "x"))), "p", readVersion = 1, dropValues = Seq(1L))
    }
  }

  test("slow path (no partmap) drops by value too") {
    val root = Artifacts.exitRoot("snapdrop-slow")
    // flat commit: table born WITHOUT a partmap → compose slow path
    SnapshotTable.commit(spark, root, table(Seq((1L, "a"), (2L, "b"), (3L, "c"))))
    SnapshotTable.commitPartitions(spark, root,
      table(Seq((9L, "z"))), "p", readVersion = 1, dropValues = Seq(1L))
    assert(SnapshotTable.read(spark, root)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L, 9L))
  }
}
