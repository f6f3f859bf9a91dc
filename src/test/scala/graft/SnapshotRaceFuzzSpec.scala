package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Randomized CONCURRENT-WRITER races over the snapshot layer's
  * partition-sliced commit path ([[SnapshotTable.commitPartitions]]) —
  * the concurrency companion to SnapshotFuzzSpec's single-writer
  * schema/type battery. Found-by-construction bug this pins: the raw
  * `commit(partitions, readVersion)` path rebases METADATA only, so a
  * disjoint writer re-publishing its full staged snapshot silently
  * reverts a concurrent commit's rows (the lost-update scenario in
  * test 1); commitPartitions recomposes content on rebase and must
  * never lose an update.
  *
  * Model: per scenario, replay the commits that SUCCEEDED in version
  * order over a Map[partition, writerRows]; the final table must equal
  * the replay, and every intermediate version must equal its prefix
  * replay (time travel is the forensic tool after a race, so it must
  * agree with the serialization order, not with wall-clock).
  */
class SnapshotRaceFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  // every table this suite creates, deleted when the suite ends
  private val tables = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def tmp(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-race-").toString
    tables.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try tables.forEach(d => SnapshotTable.deleteTree(java.nio.file.Paths.get(d)))
    finally super.afterAll()

  private def rowsFor(p: Int, writer: Int, rev: Int) = {
    import spark.implicits._
    (0 until 3).map(k => (p, k, writer * 1000 + rev * 10 + k))
      .toDF("p", "k", "value")
  }

  test("raw commit(partitions) disjoint rebase loses updates — the hazard commitPartitions closes") {
    import spark.implicits._
    val root = tmp()
    val base = Seq((0, 0, 0), (1, 0, 0)).toDF("p", "k", "value")
    SnapshotTable.commit(spark, root, base) // v1, full table
    val v1 = SnapshotTable.currentVersion(root)
    // writer A rewrites partition 0 on top of v1 (stages a FULL table)
    val aTable = Seq((0, 0, 111), (1, 0, 0)).toDF("p", "k", "value")
    SnapshotTable.commit(spark, root, aTable, partitions = Seq("p=0"), readVersion = v1)
    // writer B also derived from v1, touches only partition 1 —
    // disjoint, so the metadata rebase admits it… with B's stale copy
    // of partition 0
    val bTable = Seq((0, 0, 0), (1, 0, 222)).toDF("p", "k", "value")
    SnapshotTable.commit(spark, root, bTable, partitions = Seq("p=1"), readVersion = v1)
    val got = SnapshotTable.read(spark, root).orderBy("p", "k")
      .collect().map(r => (r.getInt(0), r.getInt(2))).toSeq
    // A's update is GONE — this is why partition-sliced RMW must use
    // commitPartitions (doc contract pinned here so a future "fix"
    // of commit() shows up as this assertion flipping)
    assert(got === Seq((0, 0), (1, 222)), s"raw-commit hazard changed shape: $got")

    // the same interleaving through commitPartitions keeps BOTH
    val root2 = tmp()
    SnapshotTable.commit(spark, root2, base)
    val w1 = SnapshotTable.currentVersion(root2)
    SnapshotTable.commitPartitions(spark, root2,
      Seq((0, 0, 111)).toDF("p", "k", "value"), "p", readVersion = w1)
    SnapshotTable.commitPartitions(spark, root2,
      Seq((1, 0, 222)).toDF("p", "k", "value"), "p", readVersion = w1)
    val got2 = SnapshotTable.read(spark, root2).orderBy("p", "k")
      .collect().map(r => (r.getInt(0), r.getInt(2))).toSeq
    assert(got2 === Seq((0, 111), (1, 222)), s"commitPartitions lost an update: $got2")
  }

  test("commitPartitions conflicts overlapping writers and rejects nulls") {
    import spark.implicits._
    val root = tmp()
    SnapshotTable.commitPartitions(spark, root,
      rowsFor(0, 0, 0).union(rowsFor(1, 0, 0)), "p")
    val v = SnapshotTable.currentVersion(root)
    SnapshotTable.commitPartitions(spark, root, rowsFor(0, 1, 1), "p", readVersion = v)
    intercept[SnapshotTable.SnapshotConflict] {
      SnapshotTable.commitPartitions(spark, root, rowsFor(0, 2, 1), "p", readVersion = v)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.commitPartitions(spark, root,
        Seq((Option.empty[Int], 0, 1)).toDF("p", "k", "value"), "p")
    }
    // a slice whose same-name column TYPE differs is rejected loudly —
    // a name-only check would let unionByName widen the table column
    // table-wide on compose (review finding)
    intercept[IllegalArgumentException] {
      SnapshotTable.commitPartitions(spark, root,
        Seq((0, 0, 1.5)).toDF("p", "k", "value"), "p",
        readVersion = SnapshotTable.currentVersion(root))
    }
    // reserved DV-machinery names are rejected at this gate too
    intercept[IllegalArgumentException] {
      SnapshotTable.commitPartitions(spark, tmp(),
        Seq((0, "x")).toDF("p", "__file"), "p")
    }
    // a NULL-partition row in the PRIOR table survives any slice
    val root2 = tmp()
    SnapshotTable.commit(spark, root2,
      Seq((Option.empty[Int], 0, 7), (Option(0), 0, 0)).toDF("p", "k", "value"))
    SnapshotTable.commitPartitions(spark, root2,
      Seq((0, 0, 1)).toDF("p", "k", "value"), "p",
      readVersion = SnapshotTable.currentVersion(root2))
    val kept = SnapshotTable.read(spark, root2)
      .filter(col("p").isNull).count()
    assert(kept === 1L, "null-partition row clobbered by a slice commit")
  }

  test("newline-bearing partition values stay one manifest token — overlap still detected") {
    import spark.implicits._
    val root = tmp()
    // "a\nb" written raw would split into two bogus manifest lines and
    // a same-partition re-writer would sail past the conflict check
    SnapshotTable.commitPartitions(spark, root,
      Seq(("a\nb", 0, 0), ("z", 0, 0)).toDF("p", "k", "value"), "p")
    val v = SnapshotTable.currentVersion(root)
    SnapshotTable.commitPartitions(spark, root,
      Seq(("a\nb", 0, 1)).toDF("p", "k", "value"), "p", readVersion = v)
    intercept[SnapshotTable.SnapshotConflict] {
      SnapshotTable.commitPartitions(spark, root,
        Seq(("a\nb", 0, 2)).toDF("p", "k", "value"), "p", readVersion = v)
    }
    // and the disjoint partition still rebases through
    SnapshotTable.commitPartitions(spark, root,
      Seq(("z", 0, 3)).toDF("p", "k", "value"), "p", readVersion = v)
    val got = SnapshotTable.read(spark, root).orderBy("p")
      .collect().map(r => (r.getString(0), r.getInt(2))).toSeq
    assert(got === Seq(("a\nb", 1), ("z", 3)), s"escaped-token overlap broke: $got")
  }

  test("randomized concurrent writers: final + every version equals the serialized replay") {
    val scenarios = (1 to 6).map(seed => (seed, new scala.util.Random(1000 + seed)))
    for ((seed, r) <- scenarios) {
      val root = tmp()
      val nParts = 3 + r.nextInt(2) // 3-4 partitions
      val seedDf = (0 until nParts).map(p => rowsFor(p, 0, 0))
        .reduce(_ union _)
      SnapshotTable.commitPartitions(spark, root, seedDf, "p")
      val nWriters = 3 + r.nextInt(3) // 3-5 writers
      // each writer picks its partition set up front (so the model
      // can be rebuilt from the committed markers deterministically)
      val picks = (1 to nWriters).map { w =>
        val sz = 1 + r.nextInt(2)
        w -> r.shuffle((0 until nParts).toList).take(sz).sorted
      }
      val landed = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Seq[Int])]()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = picks.map { case (w, parts) =>
        new Thread(() => {
          try {
            var done = false
            var tries = 0
            while (!done && tries < 12) {
              val v = SnapshotTable.currentVersion(root)
              val df = parts.map(p => rowsFor(p, w, tries)).reduce(_ union _)
              try {
                val cv = SnapshotTable.commitPartitions(
                  spark, root, df, "p", readVersion = v)
                landed.put(cv, (w, parts)); done = true
              } catch {
                case _: SnapshotTable.SnapshotConflict => tries += 1
              }
            }
            if (!done) errs.add(new RuntimeException(s"writer $w starved"))
          } catch { case e: Throwable => errs.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty,
        s"seed $seed: ${Option(errs.peek()).map(_.getMessage)}")
      assert(landed.size === nWriters, s"seed $seed: ${landed.size}/$nWriters landed")

      // replay the committed sequence over a per-(p,k) model; the
      // writer's `tries` at success is recoverable from the value row
      import scala.jdk.CollectionConverters._
      val head = SnapshotTable.currentVersion(root)
      var model = Map.empty[(Int, Int), Int]
      (0 until nParts).foreach(p => (0 until 3).foreach(k => model += (p, k) -> k))
      for (v <- 2 to head) {
        landed.asScala.get(v).foreach { case (w, parts) =>
          // read the committed version itself to learn the rev the
          // writer landed with (its value encodes writer*1000+rev*10+k)
          val sample = SnapshotTable.read(spark, root, v)
            .filter(col("p") === parts.head && col("k") === 0)
            .collect().head.getInt(2)
          val rev = (sample % 1000) / 10
          parts.foreach(p => (0 until 3).foreach(k =>
            model += (p, k) -> (w * 1000 + rev * 10 + k)))
        }
        val got = SnapshotTable.read(spark, root, v)
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getInt(2)).toMap
        assert(got === model,
          s"seed $seed v$v diverged from serialized replay")
      }
    }
  }
}
