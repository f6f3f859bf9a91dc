package graft

import java.sql.Timestamp
import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end file-sink round trip for the streaming twins: MemoryStream
  * → transform → writeStream(parquet + checkpoint) → read the files
  * back — the deployment shape from EventStreams' Scaladoc, including
  * a stop/restart over the same checkpoint to prove exactly-once
  * resume. (EventStreamsSpec covers semantics via the memory sink;
  * this covers the durable-sink contract.)
  */
class StreamingFileSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def t(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  private val sample = Seq(
    Ev(1, t("10:00"), 1, "click", 1.0),
    Ev(2, t("10:04"), 1, "click", 2.0),
    Ev(3, t("10:12"), 1, "view", 3.0),
    Ev(1, t("10:00"), 1, "click", 1.0), // duplicate event_id
    Ev(4, t("10:55"), 2, "click", 4.0))

  test("tumblingCounts parquet sink: append emits closed windows; checkpoint resumes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Artifacts.exitRoot("graft_sink_tumbling")
    val out = s"$dir/out"
    val chk = s"$dir/chk"
    val input = MemoryStream[Ev]
    def start() = EventStreams.tumblingCounts(input.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append").start()

    val q = start()
    try {
      input.addData(sample: _*)
      q.processAllAvailable() // watermark still at 09:55 — nothing closed
      // advance the watermark past the 10:xx windows
      input.addData(Ev(90, t("13:00"), 9, "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()

    val firstPass = spark.read.parquet(out)
    // the three 10-minute windows from 10:00/10:10/10:50 are closed and on disk
    assert(firstPass.count() === 3, firstPass.collect().mkString(","))
    assert(firstPass.filter($"event_type" === "click").count() === 2)
    // duplicate event_id 1 is NOT deduped by a window agg: 10:00 window counts 3 clicks
    assert(firstPass.orderBy($"bucket_start").head().getAs[Long]("cnt") === 3)

    // restart over the same checkpoint: only NEW windows emit (exactly-once)
    val q2 = start()
    try {
      input.addData(Ev(91, t("15:00"), 9, "click", 0.0)) // closes the 13:00 window
      q2.processAllAvailable()
    } finally q2.stop()
    val secondPass = spark.read.parquet(out)
    assert(secondPass.count() === 4,
      "restart must append exactly the newly-closed window, not reprocess: " +
        secondPass.collect().mkString(","))
  }

  test("dedupEvents parquet sink round-trip drops duplicates durably") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Artifacts.exitRoot("graft_sink_dedup")
    val input = MemoryStream[Ev]
    val q = EventStreams.dedupEvents(input.toDF())
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    try {
      input.addData(sample: _*)
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() === 4) // 5 events, one duplicate event_id
    assert(back.select("event_id").distinct().count() === 4)
  }
}
