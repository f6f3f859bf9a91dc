package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.sources.{BandHistory, SnapshotTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The production history band table (r13): bucket-capped candidate
  * semantics identical to the windowed `HAVING count(*) <= cap`
  * reference, saturation maintained at append time across batches,
  * replay idempotency, and the no-full-history-scan probe contract
  * (bucket-pruned file reads, no Window over history in the plan).
  */
class BandHistorySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Synthetic band rows: (doc_id, band, sig). Sigs drawn from a
    * small pool per band so buckets collide and some saturate.
    */
  private def syntheticBands(rnd: scala.util.Random, docs: Range,
      sigPool: Int): DataFrame = {
    import spark.implicits._
    docs.flatMap { d =>
      (0 until 8).map(b => (d.toLong, b, s"s${rnd.nextInt(sigPool)}"))
    }.toDF("doc_id", "band", "sig")
  }

  /** The windowed reference the table replaces: batch × (history
    * buckets holding ≤ cap rows), distinct doc pairs.
    */
  private def reference(hist: DataFrame, batch: DataFrame): Seq[(Long, Long)] = {
    val wB = Window.partitionBy(col("band"), col("sig"))
    val histOk = hist.withColumn("n", count(lit(1)).over(wB))
      .filter(col("n") <= BandHistory.BucketCap).drop("n")
    batch.as("b").join(histOk.as("h"),
        col("b.band") === col("h.band") && col("b.sig") === col("h.sig"))
      .select(col("b.doc_id"), col("h.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
  }

  private def probe(root: String, batch: DataFrame, before: Long): Seq[(Long, Long)] =
    BandHistory.candidates(spark, root, batch, before)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("candidates match the windowed reference across growing history") {
    val rnd = new scala.util.Random(717L)
    val root = Artifacts.exitRoot("bandhist")
    // three appends; sigPool small enough that buckets saturate only
    // by ACCUMULATION (per band per batch ≈ 40/6 ≈ 6.7 rows/bucket —
    // under the cap; two batches in ≈ 13.3 — over it)
    val b0 = syntheticBands(rnd, 0 until 40, sigPool = 6)
    val b1 = syntheticBands(rnd, 40 until 80, sigPool = 6)
    val b2 = syntheticBands(rnd, 80 until 120, sigPool = 6)
    BandHistory.append(spark, root, b0, 0L)
    assert(probe(root, b1, 1L) === reference(b0, b1), "batch 1 vs 1-batch history")
    BandHistory.append(spark, root, b1, 1L)
    assert(probe(root, b2, 2L) === reference(b0.union(b1), b2),
      "batch 2 vs 2-batch history — saturation must accumulate ACROSS appends")
    // sanity: the corpus actually exercises the cap
    val satCount = SnapshotTable.read(spark, BandHistory.satRoot(root)).count()
    assert(satCount > 0, "test corpus must saturate at least one bucket")
  }

  test("a bucket crossing the cap only via accumulation is excluded after, not before") {
    import spark.implicits._
    val root = Artifacts.exitRoot("bandhist-acc")
    def bucketRows(ids: Range) =
      ids.map(i => (i.toLong, 0, "hot")).toDF("doc_id", "band", "sig")
    // 6 rows in batch 0, 6 more in batch 1: size 6 → 12 across appends
    BandHistory.append(spark, root, bucketRows(0 until 6), 0L)
    // batch 1 probes BEFORE its append: history size 6 ≤ 10 → paired
    assert(probe(root, bucketRows(100 until 106), 1L).size === 36)
    BandHistory.append(spark, root, bucketRows(100 until 106), 1L)
    // batch 2: history size 12 > 10 → bucket saturated, no candidates
    assert(probe(root, bucketRows(200 until 201), 2L).isEmpty)
    assert(SnapshotTable.read(spark, BandHistory.satRoot(root))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((0, "hot")))
  }

  test("append is replay-idempotent for bands and sat") {
    val rnd = new scala.util.Random(99L)
    val root = Artifacts.exitRoot("bandhist-replay")
    val b0 = syntheticBands(rnd, 0 until 40, sigPool = 8) // saturates
    val b1 = syntheticBands(rnd, 40 until 50, sigPool = 8)
    BandHistory.append(spark, root, b0, 0L)
    BandHistory.append(spark, root, b1, 1L)
    def snap(tr: String): Seq[String] =
      SnapshotTable.read(spark, tr).collect().map(_.toString).sorted.toSeq
    val before = (snap(BandHistory.bandsRoot(root)), snap(BandHistory.satRoot(root)))
    BandHistory.append(spark, root, b1, 1L) // at-least-once redelivery
    val after = (snap(BandHistory.bandsRoot(root)), snap(BandHistory.satRoot(root)))
    assert(before === after, "replayed append must converge to identical tables")
  }

  test("optimize consolidates sealed batches, shrinks files, changes no probe result") {
    val rnd = new scala.util.Random(42L)
    val root = Artifacts.exitRoot("bandhist-opt")
    val b0 = syntheticBands(rnd, 0 until 30, sigPool = 8)
    val b1 = syntheticBands(rnd, 30 until 60, sigPool = 8)
    val b2 = syntheticBands(rnd, 60 until 70, sigPool = 8)
    BandHistory.append(spark, root, b0, 0L)
    BandHistory.append(spark, root, b1, 1L)
    val before2 = probe(root, b2, 2L)
    val before1 = probe(root, b2, 1L) // replay-depth probe
    def files(): Int = {
      val broot = BandHistory.bandsRoot(root)
      val v = SnapshotTable.currentVersion(broot)
      val s = Files.list(Paths.get(broot, s"v=$v"))
      try s.iterator().asScala.count { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_")
      } finally s.close()
    }
    val preFiles = files()
    // seal both batches: 2 batches × per-batch slices → ≤ Buckets
    BandHistory.optimize(spark, root, sealedBelowBatchId = 2L)
    assert(files() < preFiles,
      s"optimize must shrink the file count ($preFiles -> ${files()})")
    // probes identical at full depth AND at replay depth (batch_id
    // residual, not slice decode, carries the visibility contract)
    assert(probe(root, b2, 2L) === before2)
    assert(probe(root, b2, 1L) === before1)
    // appends continue on the fast path after optimize; new batch visible
    BandHistory.append(spark, root, b2, 2L)
    val b3 = syntheticBands(rnd, 70 until 80, sigPool = 8)
    assert(probe(root, b3, 3L) === reference(b0.union(b1).union(b2), b3),
      "post-optimize probe must equal the windowed reference on full history")
    // idempotent re-run with the same watermark
    BandHistory.optimize(spark, root, sealedBelowBatchId = 2L)
    assert(probe(root, b3, 3L) === reference(b0.union(b1).union(b2), b3))
  }

  test("probe opens only hit-bucket files and plans no Window over history") {
    val rnd = new scala.util.Random(5L)
    val root = Artifacts.exitRoot("bandhist-prune")
    // wide history: many distinct sigs → many bkt slices on disk
    BandHistory.append(spark, root,
      syntheticBands(rnd, 0 until 200, sigPool = 5000), 0L)
    val broot = BandHistory.bandsRoot(root)
    val v = SnapshotTable.currentVersion(broot)
    val allFiles = {
      val s = Files.list(Paths.get(broot, s"v=$v"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .count(n => n.endsWith(".parquet") && !n.startsWith("_"))
      finally s.close()
    }
    // a 1-doc batch hits ≤ 8 buckets of the Buckets-way layout
    import spark.implicits._
    val batch = (0 until 8).map(b => (9999L, b, s"s${b * 7}"))
      .toDF("doc_id", "band", "sig")
    val bktSet = batch
      .withColumn("bkt", pmod(xxhash64(col("band"), col("sig")),
        lit(BandHistory.Buckets)).cast("int"))
      .select("bkt").distinct().collect().map(_.getInt(0)).toSet
    val opened = BandHistory.probeFiles(spark, broot, bktSet, 1L)
    // ≤ 8 of the 64 hash buckets hit → at most ~1/8 of the files
    // opened (each slice may span a few part files; the ratio holds)
    assert(opened.nonEmpty && opened.size * 4 <= allFiles,
      s"probe opened ${opened.size} of $allFiles files — full-history scan")
    // and the candidate plan never windows over history
    val plan = BandHistory.candidates(spark, root, batch, 1L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "candidates must not plan a history-wide window")
  }
}
