package graft

import graft.sources.{SnapshotTable, SnapshotTransaction}
import graft.sources.bus.InMemoryLog
import graft.streaming.BusTxnSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once bus ingest BY CONSTRUCTION (VERDICT r14 item 3): the
  * batch's rows and its offset row commit in ONE cross-table
  * transaction, so replay after a crash at ANY protocol point yields
  * no loss and no duplication — provable from the version history,
  * with no content dedup anywhere.
  */
class BusTxnSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def busBatch(ids: Range, batchTag: String) = {
    import spark.implicits._
    ids.map(i => (i % 2, i.toLong, s"k$i", s"$batchTag-$i"))
      .toDF("partition", "offset", "key", "value")
  }

  private def dataRows(root: String): Seq[(Long, String)] =
    SnapshotTable.read(spark, BusTxnSink.dataRoot(root))
      .select(col("batch_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  test("normal batches + replay: idempotent, version history one commit per batch") {
    val root = Artifacts.exitRoot("graft-bustxn")
    BusTxnSink.ingestBatch(root)(busBatch(0 until 4, "b0"), 0L)
    BusTxnSink.ingestBatch(root)(busBatch(4 until 7, "b1"), 1L)
    assert(BusTxnSink.lastCommittedBatch(spark, root) === 1L)
    val vData = SnapshotTable.currentVersion(BusTxnSink.dataRoot(root))
    val vOff = SnapshotTable.currentVersion(BusTxnSink.offsetsRoot(root))
    assert(vData === 2 && vOff === 2, "one version per batch per table")

    // REPLAY batch 1: a no-op — versions unchanged, rows unchanged
    BusTxnSink.ingestBatch(root)(busBatch(4 until 7, "b1"), 1L)
    assert(SnapshotTable.currentVersion(BusTxnSink.dataRoot(root)) === vData)
    assert(SnapshotTable.currentVersion(BusTxnSink.offsetsRoot(root)) === vOff)
    assert(dataRows(root).size === 7)
  }

  test("crash BEFORE decision: rollback, redelivery lands the batch exactly once") {
    val root = Artifacts.exitRoot("graft-bustxn-pre")
    BusTxnSink.ingestBatch(root)(busBatch(0 until 3, "b0"), 0L)

    SnapshotTransaction.failpoint =
      at => if (at == "after-intent") throw SnapshotTransaction.SimulatedCrash(at)
    try intercept[SnapshotTransaction.SimulatedCrash] {
      BusTxnSink.ingestBatch(root)(busBatch(3 until 6, "b1"), 1L)
    } finally SnapshotTransaction.failpoint = _ => ()

    // nothing visible from the dead transaction
    assert(BusTxnSink.lastCommittedBatch(spark, root) === 0L)
    assert(SnapshotTable.currentVersion(BusTxnSink.dataRoot(root)) === 1)

    // redelivery (same batch id, same rows) lands it ONCE
    BusTxnSink.ingestBatch(root)(busBatch(3 until 6, "b1"), 1L)
    assert(BusTxnSink.lastCommittedBatch(spark, root) === 1L)
    val rows = dataRows(root)
    assert(rows.size === 6 && rows.distinct.size === 6,
      s"no loss, no duplication: $rows")
    assert(SnapshotTable.currentVersion(BusTxnSink.dataRoot(root)) === 2)
  }

  test("crash MID-PUBLISH (decided): roll-forward, redelivery skips — no duplication") {
    val root = Artifacts.exitRoot("graft-bustxn-mid")
    BusTxnSink.ingestBatch(root)(busBatch(0 until 3, "b0"), 0L)

    SnapshotTransaction.failpoint =
      at => if (at == "mid-publish") throw SnapshotTransaction.SimulatedCrash(at)
    try intercept[SnapshotTransaction.SimulatedCrash] {
      BusTxnSink.ingestBatch(root)(busBatch(3 until 8, "b1"), 1L)
    } finally SnapshotTransaction.failpoint = _ => ()

    // the decision fell: the batch is logically committed even though
    // the crash hit between the two tables' publishes. Redelivery
    // first RECOVERS (roll-forward), then reads its batch_id as
    // committed and skips.
    BusTxnSink.ingestBatch(root)(busBatch(3 until 8, "b1"), 1L)
    assert(BusTxnSink.lastCommittedBatch(spark, root) === 1L)
    val rows = dataRows(root)
    assert(rows.size === 8 && rows.distinct.size === 8,
      s"roll-forward + skip must not duplicate: $rows")
    val offs = SnapshotTable.read(spark, BusTxnSink.offsetsRoot(root))
      .select("batch_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(offs === Seq(0L, 1L), s"offsets table: $offs")
  }

  test("end-to-end: gbus stream → txn sink across a restart, exactly once") {
    val log = "bus_txn_e2e"
    InMemoryLog.create(log, 2)
    (0 until 12).foreach(i => InMemoryLog.append(log, s"k$i", s"v$i", i % 2))
    val root = Artifacts.exitRoot("graft-bustxn-e2e")
    val ckpt = Artifacts.exitRoot("graft-bustxn-ckpt")

    def run(): Unit = {
      val q = spark.readStream.format("gbus").option("log", log)
        .option("maxPerTrigger", "5").load()
        .writeStream.foreachBatch(BusTxnSink.ingestBatch(root, optimizeEvery = 2) _)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    // more records arrive while the stream is DOWN; restart drains them
    (12 until 20).foreach(i => InMemoryLog.append(log, s"k$i", s"v$i", i % 2))
    run()

    val got = SnapshotTable.read(spark, BusTxnSink.dataRoot(root))
      .select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got.size === 20 && got.distinct.size === 20,
      s"every bus record exactly once: ${got.size}/${got.distinct.size}")

    // the offsets table is self-describing: per-partition ranges
    // recorded for every committed batch
    val ranges = SnapshotTable.read(spark, BusTxnSink.offsetsRoot(root))
      .orderBy("batch_id").collect().map(r => Option(r.getString(2)))
    assert(ranges.nonEmpty && ranges.forall(_.exists(_.contains(":"))),
      s"per-partition offset ranges must be recorded: ${ranges.toSeq}")

    // in-stream OPTIMIZE bounds the hard-linked file count: far fewer
    // data files than one-per-batch-per-partition accumulation
    val dataDir = new java.io.File(s"${BusTxnSink.dataRoot(root)}/v=" +
      SnapshotTable.currentVersion(BusTxnSink.dataRoot(root)))
    val nFiles = dataDir.listFiles().count(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(nFiles < 20, s"optimizeEvery must bound file growth: $nFiles files")
    InMemoryLog.drop(log)
  }
}
