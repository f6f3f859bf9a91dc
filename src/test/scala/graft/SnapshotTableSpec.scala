package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SnapshotTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("commits are versioned; time travel reads exact old snapshots") {
    val root = Artifacts.exitRoot("graft-snap")
    val base = Tables.nation(spark, TestSpark.sf0001)

    assert(SnapshotTable.currentVersion(root) === 0)
    val v1 = SnapshotTable.commit(spark, root, base)
    assert(v1 === 1)
    val v2 = SnapshotTable.commit(spark, root,
      base.withColumn("n_name", upper(col("n_name"))))
    assert(v2 === 2 && SnapshotTable.currentVersion(root) === 2)

    // latest sees the transformed data
    val latest = SnapshotTable.read(spark, root)
    assert(latest.filter(col("n_name") === upper(col("n_name"))).count()
      === base.count())
    // time travel reproduces version 1 exactly (full-row equality)
    val old = SnapshotTable.read(spark, root, version = 1)
    assert(old.exceptAll(base).isEmpty && base.exceptAll(old).isEmpty)
  }

  test("old versions are immutable across later commits (byte-identical)") {
    val root = Artifacts.exitRoot("graft-snap2")
    SnapshotTable.commit(spark, root, Tables.region(spark, TestSpark.sf0001))
    def bytesOfV1: Map[String, Long] = {
      val dir = java.nio.file.Paths.get(root, "v=1")
      val out = scala.collection.mutable.Map[String, Long]()
      val walk = java.nio.file.Files.walk(dir)
      try walk.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p))
          out(dir.relativize(p).toString) = java.nio.file.Files.size(p)
      } finally walk.close()
      out.toMap
    }
    val before = bytesOfV1
    SnapshotTable.commit(spark, root,
      Tables.region(spark, TestSpark.sf0001).limit(2))
    SnapshotTable.commit(spark, root,
      Tables.region(spark, TestSpark.sf0001).limit(1))
    assert(bytesOfV1 === before, "v=1 files changed after later commits")
    assert(SnapshotTable.read(spark, root).count() === 1)
    assert(SnapshotTable.read(spark, root, version = 2).count() === 2)
  }

  test("racing writers: every commit wins a distinct version, losers retry cleanly") {
    val root = Artifacts.exitRoot("graft-snap-race")
    val r = Tables.region(spark, TestSpark.sf0001)
    SnapshotTable.commit(spark, root, r) // v1 base
    // 6 concurrent blind writers race the CAS; each must land on its
    // own version (the loop rebases losers onto the new head).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    import scala.jdk.CollectionConverters._
    val tasks = (1 to 6).map { i =>
      new java.util.concurrent.Callable[Int] {
        override def call(): Int = SnapshotTable.commit(spark, root, r.limit(i))
      }
    }
    val versions = pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSet
    pool.shutdown()
    assert(versions === (2 to 7).toSet, s"expected versions 2..7, got $versions")
    assert(SnapshotTable.currentVersion(root) === 7)
    // every committed version is fully readable (no half-published dirs)
    (2 to 7).foreach(v => SnapshotTable.read(spark, root, version = v).count())
    // no staging directories leaked
    val staging = java.nio.file.Paths.get(root, "_staging")
    if (java.nio.file.Files.isDirectory(staging)) {
      val s = java.nio.file.Files.list(staging)
      try assert(!s.iterator().hasNext, "leaked staging dirs") finally s.close()
    }
  }

  test("read-modify-write conflicts on overlapping partitions; disjoint rebases") {
    val root = Artifacts.exitRoot("graft-snap-occ")
    val r = Tables.region(spark, TestSpark.sf0001)
    SnapshotTable.commit(spark, root, r, partitions = Seq("p=1", "p=2")) // v1
    val readV = SnapshotTable.currentVersion(root)
    // A commits p=1 on top of v1
    assert(SnapshotTable.commit(spark, root, r.limit(3),
      partitions = Seq("p=1"), readVersion = readV) === 2)
    // B also derived from v1 and touches p=1 → stale inputs → conflict
    val err = intercept[SnapshotTable.SnapshotConflict] {
      SnapshotTable.commit(spark, root, r.limit(2),
        partitions = Seq("p=1"), readVersion = readV)
    }
    assert(err.getMessage.contains("conflicts with v2"))
    // C derived from v1 but touches only p=3 → disjoint → rebase + commit
    assert(SnapshotTable.commit(spark, root, r.limit(1),
      partitions = Seq("p=3"), readVersion = readV) === 3)
    // a full-table (blind-partition) commit overlaps everything
    assert(SnapshotTable.commit(spark, root, r) === 4)
    val err2 = intercept[SnapshotTable.SnapshotConflict] {
      SnapshotTable.commit(spark, root, r.limit(1),
        partitions = Seq("p=9"), readVersion = 3)
    }
    assert(err2.getMessage.contains("conflicts with v4"))
  }

  test("vacuum drops old versions but never the retained window") {
    val root = Artifacts.exitRoot("graft-snap3")
    val r = Tables.region(spark, TestSpark.sf0001)
    (1 to 4).foreach(i => SnapshotTable.commit(spark, root, r.limit(i)))
    val dropped = SnapshotTable.vacuum(root, keepLast = 2)
    assert(dropped === Seq(1, 2))
    // retained versions still readable; vacuumed one fails loudly
    assert(SnapshotTable.read(spark, root, version = 3).count() === 3)
    assert(SnapshotTable.read(spark, root, version = 4).count() === 4)
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, root, version = 1)
    }
    assert(err.getMessage.contains("vacuumed or never committed"))
  }
}
