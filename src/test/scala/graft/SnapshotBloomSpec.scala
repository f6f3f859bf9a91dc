package graft

import graft.sources.{BloomSidecar, SnapshotTable}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom-filter file skipping on SnapshotTable — the high-cardinality
  * complement of the value-set sidecar: files whose distinct count
  * overflows the set cap still prune point probes through a
  * fixed-size per-(file, column) bloom with NO false negatives.
  * Pruning must stay an optimization: every probe's result is
  * identical to the unpruned filter, for present and absent keys,
  * across every write path: each keeps the table's manifests.
  */
class SnapshotBloomSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(tag: String): String =
    Artifacts.exitRoot(s"graft-bloom-$tag")

  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(500) } // job-start events post async
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  test("bloom kernel: sizing, no false negatives, bounded false positives") {
    val (m, k) = BloomSidecar.size(10000, 0.01)
    assert(m % 64 == 0 && m >= 10000 * 9 && k >= 5 && k <= 16)
    val bits = new Array[Long](m / 64)
    val present = (0 until 10000).map(i => s"key-$i")
    present.foreach(v => BloomSidecar.add(bits, m, k, v))
    // no false negatives — structural property, checked exhaustively
    assert(present.forall(v => BloomSidecar.mightContain(bits, m, k, v)))
    // realized fpp within ~3x of the request on a disjoint probe set
    val fp = (0 until 10000).count(i =>
      BloomSidecar.mightContain(bits, m, k, s"absent-$i"))
    assert(fp < 300, s"false-positive rate too high: $fp/10000")
    // round trip through the sidecar payload encoding
    val Some((m2, k2, bits2)) = BloomSidecar.decode(BloomSidecar.encode(bits, m, k))
    assert(m2 == m && k2 == k && bits2.sameElements(bits))
    assert(BloomSidecar.decode("garbage").isEmpty)
    assert(BloomSidecar.decode("64:1:AAA").isEmpty) // wrong byte length
    // a committed filter, sized from its file's ROW count: each key
    // repeats 4x, and 10,000 absent keys may keep the file at most at
    // the requested rate plus 3 sigma of binomial slack
    val root = freshRoot("fpp")
    SnapshotTable.commit(spark, root,
      spark.range(40000).select((col("id") / 4).cast("long").as("k")).coalesce(1),
      bloomCols = Seq("k"))
    val Array(_, _, payload) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "v=1", "_bloom.json")).trim.split('\t')
    val Some((fm, fk, fbits)) = BloomSidecar.decode(payload)
    val keptAbsent = (0 until 10000).count(i =>
      BloomSidecar.mightContain(fbits, fm, fk, s"${1000000 + i}"))
    val p = BloomSidecar.Fpp
    assert(keptAbsent <= 10000 * p + 3 * math.sqrt(10000 * p * (1 - p)),
      s"committed bloom kept $keptAbsent of 10000 absent keys")
  }

  test("one manifest pass: stats, sets and blooms start no more jobs than stats alone") {
    val orders = Tables.orders(spark, TestSpark.sf0001)
      .repartition(4, col("o_orderkey"))
    def commitJobs(setCols: Seq[String], bloomCols: Seq[String]): (Int, String) = {
      val root = freshRoot("jobs")
      val n = jobsDuring(SnapshotTable.commit(spark, root, orders,
        statsCols = Seq("o_orderdate"), setCols = setCols, bloomCols = bloomCols))
      (n, root)
    }
    commitJobs(Nil, Nil) // warm-up: the measured commits are repeats
    val (statsOnly, _) = commitJobs(Nil, Nil)
    val (all, root) = commitJobs(Seq("o_orderstatus"), Seq("o_orderkey"))
    assert(all <= statsOnly,
      s"stats+sets+blooms ran $all jobs, stats alone $statsOnly")
    Seq("_stats.json", "_sets.json", "_bloom.json").foreach(f =>
      assert(java.nio.file.Files.size(java.nio.file.Paths.get(root, "v=1", f)) > 0, f))
  }

  test("over-cap column: sets alone keep everything, bloom prunes, results identical") {
    val root = freshRoot("overflow")
    // orderkey is high-cardinality: with setCap=4 every file overflows
    val orders = Tables.orders(spark, TestSpark.sf0001)
      .repartition(8, col("o_orderkey"))
    SnapshotTable.commit(spark, root, orders,
      setCols = Seq("o_orderkey"), setCap = 4,
      bloomCols = Seq("o_orderkey"))

    val keys = Tables.orders(spark, TestSpark.sf0001)
      .select("o_orderkey").distinct().limit(50)
      .collect().map(_.getLong(0))
    var totalKept = 0
    keys.foreach { key =>
      val kept = SnapshotTable.pruneFilesEq(spark, root, "o_orderkey", key.toString)
      assert(kept.nonEmpty, s"bloom false negative for $key — forbidden")
      totalKept += kept.size
      val point = SnapshotTable.readPoint(spark, root, "o_orderkey", key.toString)
      val full = SnapshotTable.read(spark, root).filter(col("o_orderkey") === key)
      assert(point.exceptAll(full).isEmpty && full.exceptAll(point).isEmpty,
        s"pruned probe diverged for $key")
    }
    // hash-partitioned: each key lives in 1 file; fpp=1% over 8 files
    // leaves the average kept-count near 1, far below "all 8"
    assert(totalKept < keys.length * 3,
      s"bloom pruned nothing: kept $totalKept files for ${keys.length} probes")
    // an absent key prunes every file (sets say OVERFLOW, bloom says no)
    val miss = SnapshotTable.pruneFilesEq(spark, root, "o_orderkey", "999999999")
    assert(miss.size < 8, "absent key kept every file — bloom not consulted")
  }

  test("bloom-only table (no sets sidecar) prunes point probes") {
    val root = freshRoot("bloomonly")
    SnapshotTable.commit(spark, root,
      Tables.customer(spark, TestSpark.sf0001).repartition(6, col("c_custkey")),
      bloomCols = Seq("c_custkey"))
    val key = Tables.customer(spark, TestSpark.sf0001)
      .agg(min("c_custkey")).head().getLong(0)
    val kept = SnapshotTable.pruneFilesEq(spark, root, "c_custkey", key.toString)
    assert(kept.nonEmpty && kept.size < 6)
    val point = SnapshotTable.readPoint(spark, root, "c_custkey", key.toString)
    val full = SnapshotTable.read(spark, root).filter(col("c_custkey") === key)
    assert(point.exceptAll(full).isEmpty && full.exceptAll(point).isEmpty)
  }

  test("partition-sliced commits carry kept files' blooms and scan only the slice") {
    import spark.implicits._
    val root = freshRoot("carry")
    val v1 = (1L to 400L).map(i => (i % 4, i, s"val-$i")).toDF("p", "id", "s")
    SnapshotTable.commitPartitions(spark, root, v1, "p",
      bloomCols = Seq("id"))
    // rewrite ONLY partition 2 with new ids; partitions 0,1,3 carry
    val v2 = (1000L to 1100L).map(i => (2L, i, s"val-$i")).toDF("p", "id", "s")
    SnapshotTable.commitPartitions(spark, root, v2, "p",
      readVersion = 1, bloomCols = Seq("id"))

    // an id from an untouched partition reads through its CARRIED bloom
    val kept1 = SnapshotTable.pruneFilesEq(spark, root, "id", "5")
    assert(kept1.nonEmpty, "carried bloom lost id=5 (false negative)")
    assert(SnapshotTable.readPoint(spark, root, "id", "5").count() == 1)
    // the new slice's ids resolve through the FRESH bloom
    assert(SnapshotTable.readPoint(spark, root, "id", "1050").count() == 1)
    // partition 2's OLD ids (2, 6, ...) are gone with the rewrite
    assert(SnapshotTable.readPoint(spark, root, "id", "2").count() == 0)
    // pruning effectiveness survives the carry: a single id keeps few files
    val keptNew = SnapshotTable.pruneFilesEq(spark, root, "id", "1050")
    assert(keptNew.size <= 2, s"carried table stopped pruning: ${keptNew.size}")
  }

  test("every write path keeps the table's stats, sets and blooms") {
    import graft.sources.{SnapshotTransaction, TableWrite}
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    def rows(ids: Long*) = ids.map(i => (i % 4, i, s"new-$i")).toDF("p", "id", "s")
    val txn = freshRoot("paths-txn")
    // (name, write on a v1 committed with manifests, a key it touched)
    val paths: Seq[(String, String => Unit, Long)] = Seq(
      ("mergeByKey", r => SnapshotTable.mergeByKey(spark, r, rows(5, 1001), Seq("id")), 5L),
      ("compactFiles", r => SnapshotTable.compactFiles(spark, r, targetFileBytes = 1), 7L),
      ("deleteWhere", r => SnapshotTable.deleteWhere(spark, r, "id = 9"), 9L),
      ("restore", { r =>
        SnapshotTable.deleteWhere(spark, r, "id = 9")
        SnapshotTable.restore(spark, r, 1)
      }, 9L),
      ("commitPartitions fast path", r => SnapshotTable.commitPartitions(spark, r,
        rows(2002, 2006), "p", readVersion = 1), 2002L),
      // a slice on another column than the partmap's takes the slow path
      ("commitPartitions slow path", r => SnapshotTable.commitPartitions(spark, r,
        rows(13), "id", readVersion = 1), 13L),
      ("commitAll appendFiles", r => SnapshotTransaction.commitAll(spark, txn,
        Seq(TableWrite(r, rows(3000), appendFiles = true))), 3000L),
      ("sliced TableWrite", r => SnapshotTransaction.commitAll(spark, txn,
        Seq(TableWrite(r, rows(3003, 3007), sliceCol = Some("p")))), 3003L))
    val want = Map("_stats.json" -> "id", "_sets.json" -> "p", "_bloom.json" -> "id")
    for ((name, write, key) <- paths) {
      val root = freshRoot("paths")
      SnapshotTable.commitPartitions(spark, root, rows(1L to 400L: _*), "p",
        statsCols = Seq("id"), setCols = Seq("p"), bloomCols = Seq("id"))
      write(root)
      val dir = Paths.get(root, s"v=${SnapshotTable.currentVersion(root)}")
      val files = {
        val s = Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSet
        finally s.close()
      }
      for ((manifest, column) <- want) {
        val named = if (!Files.exists(dir.resolve(manifest))) Set.empty
          else Files.readString(dir.resolve(manifest)).linesIterator
            .filter(_.nonEmpty).map(_.split("\t", 3).take(2).toSeq).toSet
        assert(named === files.map(f => Seq(f, column)),
          s"$name: $manifest does not name every data file for $column")
      }
      val point = SnapshotTable.readPoint(spark, root, "id", key.toString)
      val full = SnapshotTable.read(spark, root).filter(col("id") === key)
      assert(point.collect().map(_.toString).sorted.toSeq ===
        full.collect().map(_.toString).sorted.toSeq, s"$name: readPoint($key) diverged")
      val kept = SnapshotTable.pruneFilesEq(spark, root, "id", key.toString)
      assert(kept.size < files.size,
        s"$name: a point probe kept ${kept.size} of ${files.size} files")
    }
  }

  test("building a readPoint or readPruned frame starts no Spark job") {
    import spark.implicits._
    val root = freshRoot("zerojob")
    SnapshotTable.commit(spark, root,
      (1L to 400L).map(i => (i, s"v-$i")).toDF("id", "s").repartition(4, col("id")),
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val n = jobsDuring {
      SnapshotTable.readPoint(spark, root, "id", "7")
      SnapshotTable.readPruned(spark, root, "id", "7", "9")
    }
    assert(n === 0, s"building the frames started $n jobs")
  }

  test("deleting the bloom sidecar only widens reads, never changes results") {
    val root = freshRoot("advisory")
    SnapshotTable.commit(spark, root,
      Tables.nation(spark, TestSpark.sf0001).repartition(4, col("n_nationkey")),
      bloomCols = Seq("n_nationkey"))
    val before = SnapshotTable.readPoint(spark, root, "n_nationkey", "7").collect()
    val v = SnapshotTable.currentVersion(root)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, s"v=$v", "_bloom.json"))
    val after = SnapshotTable.readPoint(spark, root, "n_nationkey", "7").collect()
    assert(before.toSeq == after.toSeq)
    // without the sidecar every file is kept — pruning was optional
    assert(SnapshotTable.pruneFilesEq(spark, root, "n_nationkey", "7").size == 4)
  }
}
