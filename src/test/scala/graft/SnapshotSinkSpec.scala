package graft

import java.sql.Timestamp
import graft.sources.SnapshotTable
import graft.streaming.{Event, SnapshotSink}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming upsert into SnapshotTable: each micro-batch is one
  * transactional keyed-merge commit, so the table gains a version per
  * batch, converges to last-writer-wins per key under at-least-once
  * re-delivery, and keeps time travel + the change feed across the
  * stream's life.
  */
class SnapshotSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def t(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("stream of upsert batches converges to latest row per key with a version per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Artifacts.exitRoot("snapsink")

    val input = MemoryStream[Event]
    val q = input.toDS().toDF()
      .writeStream
      .foreachBatch(SnapshotSink.upsertBatch(root, "event_id", "ts") _)
      .start()
    try {
      // batch 1: three fresh keys, one of them duplicated in-batch
      // (key 2 arrives twice; the later ts must win)
      input.addData(
        Event(1, t(1), 1, "click", 10.0),
        Event(2, t(2), 1, "view", 20.0),
        Event(2, t(3), 1, "view", 21.0),
        Event(3, t(3), 2, "click", 30.0))
      q.processAllAvailable()
      // batch 2: re-deliver key 2's winning row (at-least-once replay)
      // and update key 3
      input.addData(
        Event(2, t(3), 1, "view", 21.0),
        Event(3, t(4), 2, "click", 35.0))
      q.processAllAvailable()
    } finally q.stop()

    assert(SnapshotTable.currentVersion(root) === 2, "one commit per non-empty batch")
    val rows = SnapshotTable.read(spark, root)
      .orderBy("event_id")
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value")))
    assert(rows.toSeq === Seq((1L, 10.0), (2L, 21.0), (3L, 35.0)),
      s"latest row per key: ${rows.toSeq}")

    // the stream kept the table's history: v1 holds batch 1's view
    val v1 = SnapshotTable.read(spark, root, 1)
      .orderBy("event_id")
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value")))
    assert(v1.toSeq === Seq((1L, 10.0), (2L, 21.0), (3L, 30.0)))

    // and the change feed shows batch 2's effect: key 3 updated,
    // key 2's replay was a no-op content-wise (delete+insert of an
    // identical row cancels in the bag diff)
    val ch = SnapshotTable.changesByKey(spark, root, 1, 2, Seq("event_id"))
    val updated = ch.filter(col("_change_type") === "update_postimage")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(updated === Set(3L))
  }

  test("concurrent upserters serialize through conflict-retry, no lost update") {
    import spark.implicits._
    val root = Artifacts.exitRoot("snapsink-occ")
    // seed
    SnapshotSink.upsertBatch(root, "event_id", "ts")(
      Seq(Ev3(0L, t(0), 0.0)).toDF(), 0L)

    // 4 upserters race; each names ONE key but every upsert commit is
    // a full-table read-modify-write, so concurrent commits always
    // overlap and the losers must conflict-retry. A lost update would
    // show as a missing key or a stale version count.
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { k =>
      new Thread(() => {
        try
          SnapshotSink.upsertBatch(root, "event_id", "ts")(
            Seq(Ev3(k.toLong, t(k), k * 10.0)).toDF(), k.toLong)
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"upserter failed: ${Option(errs.peek()).map(_.getMessage)}")

    // every upsert landed exactly once: 1 seed + 4 upserts = 5 versions
    assert(SnapshotTable.currentVersion(root) === 5)
    val rows = SnapshotTable.read(spark, root)
      .orderBy("event_id")
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value")))
    assert(rows.toSeq === Seq((0L, 0.0), (1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)),
      s"no update may be lost: ${rows.toSeq}")
  }
}

/** Top-level so Spark derives an Encoder. */
case class Ev3(event_id: Long, ts: java.sql.Timestamp, value: Double)
