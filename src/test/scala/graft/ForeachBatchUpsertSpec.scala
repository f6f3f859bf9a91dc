package graft

import java.sql.Timestamp
import graft.sources.ParquetDml
import graft.streaming.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Streaming upsert capstone: a stream drains into a partitioned
  * parquet table via foreachBatch + ParquetDml.merge — the idiomatic
  * open-format stand-in for `writeStream.toTable` MERGE on a
  * transactional format. Each micro-batch dedups on the key and
  * merges; re-delivered events (at-least-once sources) overwrite
  * instead of duplicating, so the table converges to exactly-once
  * contents. Only partitions named by each batch are rewritten (the
  * ParquetDml contract), so a day's stream touches a day's partitions.
  */
class ForeachBatchUpsertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def t(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("foreachBatch + ParquetDml.merge converges re-delivered events to exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Artifacts.exitRoot("fbmerge") + "/events_tbl"
    // seed the table so merge has a target (one row that will be
    // UPDATED by the stream: same event_id, older value)
    Seq(Ev2(1L, t(0), 1L, "click", -1.0))
      .toDF().write.partitionBy("event_type").parquet(dir)

    val input = MemoryStream[Event]
    val q = input.toDS().toDF()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // at-least-once sources can repeat keys within a batch too:
        // keep the latest (ts, value) per event_id deterministically
        val deduped = batch
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("event_id"))
              .orderBy(col("ts").desc, col("value").desc)))
          .filter(col("rn") === 1).drop("rn")
        ParquetDml.merge(spark, dir, "event_type", deduped, "event_id")
      }
      .start()
    try {
      // batch 1: update event 1, insert events 2 and 3 (two partitions)
      input.addData(
        Event(1, t(1), 1, "click", 10.0),
        Event(2, t(2), 1, "view", 20.0),
        Event(3, t(3), 2, "click", 30.0))
      q.processAllAvailable()
      // batch 2: re-deliver event 2 (same content) and event 3 with a
      // newer value — the at-least-once replay case
      input.addData(
        Event(2, t(2), 1, "view", 20.0),
        Event(3, t(4), 2, "click", 35.0))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.read.parquet(dir)
      .orderBy("event_id")
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value")))
    assert(rows.toSeq === Seq((1L, 10.0), (2L, 20.0), (3L, 35.0)),
      s"table must hold exactly one latest row per event: ${rows.toSeq}")
  }
}

/** Top-level so Spark derives an Encoder; schema matches Event. */
case class Ev2(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)
