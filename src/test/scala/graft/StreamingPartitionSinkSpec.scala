package graft

import java.sql.Timestamp
import graft.sources.SnapshotTable
import graft.streaming.{Event, SnapshotSink}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming dynamic partition overwrite into SnapshotTable
  * (SnapshotSink.overwritePartitionsBatch): each micro-batch replaces
  * exactly the partitions it carries, other partitions survive, replay
  * converges, and two streams on disjoint partitions never revert each
  * other (the commitPartitions contract driven from foreachBatch).
  */
class StreamingPartitionSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def t(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("micro-batches overwrite only the partitions they carry; replay converges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Artifacts.exitRoot("snappart")

    // partition key = user_id (the per-entity shard of a re-stated feed)
    val input = MemoryStream[Event]
    val q = input.toDS().toDF()
      .writeStream
      .foreachBatch(SnapshotSink.overwritePartitionsBatch(root, "user_id") _)
      .start()
    try {
      // batch 1 states partitions 1 and 2
      input.addData(
        Event(1, t(1), 1, "click", 10.0),
        Event(2, t(2), 1, "view", 20.0),
        Event(3, t(3), 2, "click", 30.0))
      q.processAllAvailable()
      // batch 2 RE-STATES partition 1 only (fewer rows than before —
      // an overwrite, not a merge: event 2 must disappear)
      input.addData(Event(9, t(4), 1, "click", 99.0))
      q.processAllAvailable()
      // batch 3 replays batch 2 verbatim (at-least-once redelivery)
      input.addData(Event(9, t(4), 1, "click", 99.0))
      q.processAllAvailable()
    } finally q.stop()

    assert(SnapshotTable.currentVersion(root) === 3, "one commit per non-empty batch")
    val rows = SnapshotTable.read(spark, root)
      .orderBy("event_id")
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Double]("value")))
    // partition 1 = exactly batch 2's statement; partition 2 untouched
    assert(rows.toSeq === Seq((3L, 2L, 30.0), (9L, 1L, 99.0)),
      s"partition overwrite shape: ${rows.toSeq}")
    // the replayed batch was a no-op content-wise
    val v2 = SnapshotTable.read(spark, root, 2).orderBy("event_id")
      .collect().map(_.getAs[Long]("event_id")).toSeq
    val v3 = SnapshotTable.read(spark, root, 3).orderBy("event_id")
      .collect().map(_.getAs[Long]("event_id")).toSeq
    assert(v2 === v3, "replay must converge to identical contents")
  }

  test("concurrent batches on disjoint partitions both survive") {
    import spark.implicits._
    val root = Artifacts.exitRoot("snappart-race")
    // seed both partitions
    SnapshotSink.overwritePartitionsBatch(root, "user_id")(
      Seq(Event(1, t(0), 1, "click", 1.0), Event(2, t(0), 2, "view", 2.0)).toDF(), 0L)
    // two "streams" re-state one partition each, racing
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(1L, 2L).map { p =>
      new Thread(() => {
        try
          SnapshotSink.overwritePartitionsBatch(root, "user_id")(
            Seq(Event(p * 10, t(p.toInt), p, "click", p * 100.0)).toDF(), p)
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"sink writer failed: ${Option(errs.peek()).map(_.getMessage)}")
    val rows = SnapshotTable.read(spark, root)
      .orderBy("event_id")
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value")))
    assert(rows.toSeq === Seq((10L, 100.0), (20L, 200.0)),
      s"both disjoint restatements must survive: ${rows.toSeq}")
  }
}
