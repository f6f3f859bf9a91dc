package graft

import graft.sources.{SnapshotTable, SnapshotTransaction, TextIndex}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Transactional streaming maintenance of the inverted text index:
  * each micro-batch appends postings + doc lengths + the batch marker
  * in ONE SnapshotTransaction, so replay is idempotent by construction
  * across both crash classes (undecided → rollback + reapply once;
  * decided → roll forward + skip), and OPTIMIZE folds the per-batch
  * rows back without changing any search result.
  */
class StreamingTextIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(tag: String): (String, String) = (
    Artifacts.exitRoot(s"graft-sti-$tag"),
    Artifacts.exitRoot(s"graft-sti-txn-$tag"))

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("batches apply exactly once; replays are no-ops") {
    val (root, txn) = fresh("once")
    TextIndex.init(root, buckets = 8)
    assert(TextIndex.lastAppliedBatch(spark, root) == -1L)
    assert(TextIndex.ingestBatch(spark,
      docs(1L -> "red fish", 2L -> "blue fish"), root, txn, 0L))
    assert(!TextIndex.ingestBatch(spark,
      docs(1L -> "red fish", 2L -> "blue fish"), root, txn, 0L),
      "replayed batch must be a no-op")
    assert(TextIndex.ingestBatch(spark, docs(3L -> "red red sky"), root, txn, 1L))
    assert(TextIndex.lastAppliedBatch(spark, root) == 1L)
    val red = TextIndex.search(spark, root, Seq("red"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(red == Seq((3L, 2L), (1L, 1L)), s"got $red")
  }

  test("undecided crash rolls back; the redelivered batch applies once") {
    val (root, txn) = fresh("rollback")
    TextIndex.init(root, buckets = 8)
    TextIndex.ingestBatch(spark, docs(1L -> "alpha beta"), root, txn, 0L)
    SnapshotTransaction.failpoint =
      at => if (at == "after-intent") throw SnapshotTransaction.SimulatedCrash(at)
    try intercept[SnapshotTransaction.SimulatedCrash] {
      TextIndex.ingestBatch(spark, docs(2L -> "alpha gamma"), root, txn, 1L)
    } finally SnapshotTransaction.failpoint = _ => ()
    SnapshotTransaction.recover(txn)
    assert(TextIndex.lastAppliedBatch(spark, root) == 0L,
      "undecided batch must roll back entirely")
    // redelivery applies exactly once
    assert(TextIndex.ingestBatch(spark, docs(2L -> "alpha gamma"), root, txn, 1L))
    val alpha = TextIndex.search(spark, root, Seq("alpha"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(alpha == Seq((1L, 1L), (2L, 1L)), s"got $alpha")
  }

  test("decided crash rolls forward; the redelivered batch skips") {
    val (root, txn) = fresh("forward")
    TextIndex.init(root, buckets = 8)
    TextIndex.ingestBatch(spark, docs(1L -> "alpha beta"), root, txn, 0L)
    SnapshotTransaction.failpoint =
      at => if (at == "mid-publish") throw SnapshotTransaction.SimulatedCrash(at)
    try intercept[SnapshotTransaction.SimulatedCrash] {
      TextIndex.ingestBatch(spark, docs(2L -> "alpha gamma"), root, txn, 1L)
    } finally SnapshotTransaction.failpoint = _ => ()
    SnapshotTransaction.recover(txn)
    assert(TextIndex.lastAppliedBatch(spark, root) == 1L,
      "decided batch must roll forward to visibility")
    assert(!TextIndex.ingestBatch(spark, docs(2L -> "alpha gamma"), root, txn, 1L),
      "redelivery of a rolled-forward batch must skip")
    val alpha = TextIndex.search(spark, root, Seq("alpha"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(alpha == Seq((1L, 1L), (2L, 1L)), s"exactly-once violated: $alpha")
  }

  test("optimize folds batch rows, restores pruning, changes no result") {
    val (root, txn) = fresh("opt")
    TextIndex.init(root, buckets = 8)
    TextIndex.ingestBatch(spark,
      docs(1L -> "red fish blue fish", 2L -> "one red fish"), root, txn, 0L)
    // doc 1 revision in a later batch: ends/starts tokens must never
    // phrase-match across the segment boundary
    TextIndex.ingestBatch(spark, docs(1L -> "fish tales"), root, txn, 1L)
    TextIndex.ingestBatch(spark, docs(3L -> "red sky red fish"), root, txn, 2L)

    def snap() = (
      TextIndex.search(spark, root, Seq("red", "fish"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq,
      TextIndex.searchPhrase(spark, root, Seq("red", "fish"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq,
      TextIndex.searchRanked(spark, root, Seq("red", "fish"), 10)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq)
    val before = snap()
    // doc 1's "fish" tf merged across batches: 2 + 1 = 3
    assert(before._1.head == ((1L, 4L)), s"got ${before._1}")
    // phrase "red fish": doc 1 once (in batch 0), doc 2 once, doc 3 once —
    // and NOT a phantom from doc 1's "...blue fish" + "fish tales" seam
    assert(before._2.toSet == Set((1L, 1L), (2L, 1L), (3L, 1L)),
      s"phrase wrong: ${before._2}")

    // streaming appends set the multirow flag (read paths fold);
    // optimize clears it (reads go direct) — results identical either way
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_multirow")))
    val vOpt = TextIndex.optimize(spark, root)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_multirow")))
    val after = snap()
    assert(after == before, "OPTIMIZE changed a search result")
    // folded: one row per (token, doc)
    val dup = SnapshotTable.read(spark, root)
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    assert(dup == 0, "optimize left multi-row postings")
    // pruning sidecars kept: every append carried them, and the
    // optimize recommit keeps them too
    val dir = java.nio.file.Paths.get(root, s"v=$vOpt")
    assert(java.nio.file.Files.exists(dir.resolve("_sets.json")))
    assert(java.nio.file.Files.exists(dir.resolve("_bloom.json")))
    // the ingest log compacted to its max marker; the stream continues
    assert(TextIndex.lastAppliedBatch(spark, root) == 2L)
    assert(TextIndex.ingestBatch(spark, docs(4L -> "red dawn"), root, txn, 3L))
    assert(!TextIndex.ingestBatch(spark, docs(4L -> "red dawn"), root, txn, 3L))
    assert(TextIndex.search(spark, root, Seq("dawn"), 5).count() == 1)
  }

  test("long positions carry a stream past the old ~2000-batch int ceiling") {
    // r16 (VERDICT r15 item 5): positions are longs; segment index
    // 2501 × the 2^31 stride would have wrapped int arithmetic into
    // negative/colliding segments (false phrase matches). Drive a
    // batch id past the old ceiling, then optimize, and pin phrase
    // semantics unchanged on both sides of the fold.
    val (root, txn) = fresh("ceiling")
    TextIndex.init(root, buckets = 8)
    TextIndex.ingestBatch(spark,
      docs(1L -> "big red fish", 2L -> "ends with big"), root, txn, 0L)
    // a long-lived stream arrives at batch 2500 (> the old 2000 guard);
    // doc 2's revision STARTS with "red" — the segment gap must still
    // hold at the huge segment index (no phantom "big red" seam)
    assert(TextIndex.ingestBatch(spark,
      docs(2L -> "red herring", 3L -> "big red sky"), root, txn, 2500L))
    def phrase() = TextIndex.searchPhrase(spark, root, Seq("big", "red"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = phrase()
    assert(before.toSet == Set((1L, 1L), (3L, 1L)),
      s"phrase across the big-segment boundary wrong: $before")
    // positions in the far segment are genuinely past Int.MaxValue
    val maxPos = SnapshotTable.read(spark, root)
      .select(explode(col("positions")).as("p"))
      .agg(max(col("p"))).head().getLong(0)
    assert(maxPos > Int.MaxValue.toLong, s"far segment not long-ranged: $maxPos")
    TextIndex.optimize(spark, root)
    assert(phrase() == before, "optimize changed phrase semantics")
    // the stream continues past the fold at its own batch numbering
    assert(TextIndex.ingestBatch(spark, docs(4L -> "big red"), root, txn, 2501L))
    assert(phrase().toSet == Set((1L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("a real foreachBatch stream maintains the index across a restart") {
    implicit val sqlCtx = spark.sqlContext
    val (root, txn) = fresh("stream")
    TextIndex.init(root, buckets = 8)
    val ckpt = Artifacts.exitRoot("graft-sti-ckpt")
    // the packaged sink: self-healing recover + exactly-once ingest +
    // in-stream OPTIMIZE every 2nd batch
    def start(input: MemoryStream[(Long, String)]) =
      input.toDF().toDF("doc_id", "text").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(TextIndex.sink(root, txn, optimizeEvery = 2) _)
        .start()
    val in1 = MemoryStream[(Long, String)]
    val q1 = start(in1)
    try { in1.addData(1L -> "red fish", 2L -> "blue fish"); q1.processAllAvailable() }
    finally q1.stop()
    // restart at the same checkpoint: a real source replays batch 0's
    // OFFSET RANGE with the same records (MemoryStream is rebuilt, so
    // re-add them first to align offsets) — ingestBatch must skip the
    // replay and apply only the new batch
    SnapshotTransaction.recover(txn)
    val in2 = MemoryStream[(Long, String)]
    in2.addData(1L -> "red fish", 2L -> "blue fish") // batch 0 replay data
    val q2 = start(in2)
    try { in2.addData(3L -> "red sky"); q2.processAllAvailable() }
    finally q2.stop()
    val red = TextIndex.search(spark, root, Seq("red"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(red.toSet == Set((1L, 1L), (3L, 1L)), s"stream result wrong: $red")
  }
}
