package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.sources.SnapshotTable
import graft.streaming.NearDupSink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming incremental near-dup ingest (NearDupSink): per
  * micro-batch banding, batch-vs-history LSH pair discovery with
  * Jaccard verification, and batch_id-partitioned snapshot commits.
  * Pins: cross-batch pairs found (never self/same-batch), replay
  * convergence of all three tables, and the band table riding the
  * commitPartitions file-link fast path (earlier batches' files are
  * the same inode across versions — per-batch commit cost ∝ batch).
  */
class StreamingNearDupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val textA = "the quick brown fox jumps over the lazy dog near the old river bank today"
  private val textB = "completely different words describing an unrelated subject matter entirely alien here"
  private val textC = "short text with three tokens only just enough for one shingle window here now"

  private def inode(p: java.nio.file.Path): Object =
    Files.getAttribute(p, "unix:ino")

  private def dataFiles(root: String, v: Int): Map[String, Object] = {
    val dir = Paths.get(root, s"v=$v")
    val s = Files.list(dir)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) && {
      val n = p.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".")
    }).map(p => p.getFileName.toString -> inode(p)).toMap
    finally s.close()
  }

  test("cross-batch near-dups found, replay converges, history files hard-link") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Artifacts.exitRoot("neardup")

    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(NearDupSink.ingestBatch(root) _)
      .start()
    try {
      // batch 0: the history seed
      input.addData((1L, textA), (2L, textB))
      q.processAllAvailable()
      // batch 1: doc 11 is an exact copy of history doc 1 (all 8
      // bands match, jaccard 1.0 — a guaranteed pair); doc 12 is
      // unrelated; doc 13 duplicates doc 11 WITHIN the batch (must
      // NOT pair — the contract is batch-vs-history only)
      input.addData((11L, textA), (12L, textC), (13L, textA))
      q.processAllAvailable()
    } finally q.stop()

    // pairs: both batch-1 copies pair with history doc 1, and only
    // with history (no (11,13) same-batch pair, no self-pairs)
    val pairs = SnapshotTable.read(spark, NearDupSink.pairsRoot(root))
      .orderBy("batch_doc", "hist_doc")
      .collect().map(r => (r.getAs[Long]("batch_doc"),
        r.getAs[Long]("hist_doc"), r.getAs[Double]("jaccard")))
    assert(pairs.toSeq === Seq((11L, 1L, 1.0), (13L, 1L, 1.0)),
      s"expected exactly the two batch-vs-history pairs: ${pairs.toSeq}")

    // docs + bands tables carry both batches
    assert(SnapshotTable.read(spark, NearDupSink.docsRoot(root)).count() === 5L)
    assert(SnapshotTable.read(spark, NearDupSink.bandsRoot(root))
      .select("doc_id").distinct().count() === 5L)

    // fast path: the bands table's v2 must hard-link v1's (batch-0)
    // files — same inode, metadata-only carry
    val bandsRoot = NearDupSink.bandsRoot(root)
    assert(Files.exists(Paths.get(bandsRoot, "v=2", "_partmap")),
      "band history must stay partmap-mapped (fast-path capable)")
    val v1 = dataFiles(bandsRoot, 1)
    val v2 = dataFiles(bandsRoot, 2)
    val carried = v2.keySet.intersect(v1.keySet)
    assert(carried.nonEmpty, "batch-0 band files must carry into v2")
    carried.foreach(f => assert(v2(f) === v1(f),
      s"$f was rewritten, not hard-linked — per-batch cost is not ∝ batch"))

    // replay batch 1 verbatim (at-least-once redelivery): every table
    // converges to identical contents
    def snapshot(tr: String): Seq[String] =
      SnapshotTable.read(spark, tr).collect().map(_.toString).sorted.toSeq
    val before = Seq(NearDupSink.docsRoot(root), bandsRoot,
      NearDupSink.pairsRoot(root)).map(snapshot)
    NearDupSink.ingestBatch(root)(
      Seq((11L, textA), (12L, textC), (13L, textA)).toDF("doc_id", "text"), 1L)
    val after = Seq(NearDupSink.docsRoot(root), bandsRoot,
      NearDupSink.pairsRoot(root)).map(snapshot)
    assert(before === after, "replay must converge to identical contents")

    // r13: the per-batch probe must never scan full history — no
    // history-wide window in the plan (the old bucket-cap count), and
    // the file read is bucket-pruned (BandHistorySpec pins the
    // strict-subset property on a wide layout)
    val probePlan = graft.sources.BandHistory
      .candidates(spark, root,
        graft.queries.Dedup.bandDocs(Seq((99L, textA)).toDF("doc_id", "text")),
        beforeBatchId = 2L)
      .queryExecution.executedPlan.toString
    assert(!probePlan.contains("Window"),
      "per-batch probe must not plan a history-wide window")
  }

  test("in-stream optimize consolidates history and pairs still converge") {
    import spark.implicits._
    val root = Artifacts.exitRoot("neardup-opt")
    val ingest = NearDupSink.ingestBatch(root, optimizeEvery = 2) _
    ingest(Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"), 0L)
    ingest(Seq((3L, textC)).toDF("doc_id", "text"), 1L)
    // batch 2 triggers optimize(sealedBelow=2) BEFORE probing, then
    // must still find its pair against the CONSOLIDATED history
    ingest(Seq((11L, textA)).toDF("doc_id", "text"), 2L)
    val pairs = SnapshotTable.read(spark, NearDupSink.pairsRoot(root))
      .collect().map(r => (r.getAs[Long]("batch_doc"), r.getAs[Long]("hist_doc")))
    assert(pairs.toSeq === Seq((11L, 1L)),
      s"pair must survive consolidation: ${pairs.toSeq}")
    // consolidated layout: every sealed slice is negative
    val bands = SnapshotTable.read(spark, NearDupSink.bandsRoot(root))
    assert(bands.filter($"batch_id" < 2 && $"slice" >= 0).count() === 0,
      "sealed batches must live in consolidated (negative) slices")
    assert(bands.select("doc_id").distinct().count() === 4L)
  }

  test("a batch with no history pairs commits docs+bands and no pairs table rows") {
    import spark.implicits._
    val root = Artifacts.exitRoot("neardup-none")
    NearDupSink.ingestBatch(root)(Seq((1L, textA)).toDF("doc_id", "text"), 0L)
    NearDupSink.ingestBatch(root)(Seq((2L, textB)).toDF("doc_id", "text"), 1L)
    assert(SnapshotTable.read(spark, NearDupSink.docsRoot(root)).count() === 2L)
    // pairs table was never created (zero pairs found anywhere)
    assert(SnapshotTable.currentVersion(NearDupSink.pairsRoot(root)) === 0)
  }
}
