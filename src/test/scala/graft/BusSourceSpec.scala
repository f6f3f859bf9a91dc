package graft

import graft.sources.bus.InMemoryLog
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The gbus message-bus micro-batch seam (Kafka-shaped, proven
  * against the in-memory log fake): offset-range batches deliver
  * every record exactly once including across a query restart,
  * per-partition ordering survives into the output, consumption
  * parallelism equals the bus partition count, and maxPerTrigger
  * paces admission relative to consumed progress.
  */
class BusSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(tag: String): String = Artifacts.exitRoot(s"gbus_$tag")

  test("exactly-once across restart; per-partition order preserved") {
    val log = "bus_once"
    InMemoryLog.create(log, 3)
    val ckpt = tmp("once_ckpt")
    val out = tmp("once_out")
    (0 until 30).foreach(i => InMemoryLog.append(log, s"k$i", s"v$i", i % 3))

    def start() = spark.readStream.format("gbus").option("log", log).load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(spark.read.parquet(out).count() === 30)
    } finally q1.stop()

    // records produced while the query is down arrive once on restart
    (30 until 40).foreach(i => InMemoryLog.append(log, s"k$i", s"v$i", i % 3))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val rows = spark.read.parquet(out)
      assert(rows.count() === 40)
      assert(rows.select(countDistinct(concat_ws(":", col("partition"), col("offset"))))
        .head().getLong(0) === 40, "duplicate (partition, offset) pairs")
      // per-partition ordering: offsets are dense 0..n-1 and each
      // (partition, offset) carries the value produced at that slot
      val mismatches = rows.collect().count { r =>
        val p = r.getAs[Int]("partition")
        val o = r.getAs[Long]("offset")
        InMemoryLog.read(log, p, o, o + 1).head.value != r.getAs[String]("value")
      }
      assert(mismatches === 0)
    } finally q2.stop()
    InMemoryLog.drop(log)
  }

  test("consumption parallelism = bus partition count") {
    val log = "bus_par"
    InMemoryLog.create(log, 4)
    (0 until 40).foreach(i => InMemoryLog.append(log, s"k$i", s"v$i", i % 4))
    val ckpt = tmp("par_ckpt")
    var partitionCounts = Seq.empty[Int]
    val q = spark.readStream.format("gbus").option("log", log).load()
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        partitionCounts = partitionCounts :+ df.rdd.getNumPartitions
      }.option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    assert(partitionCounts.exists(_ === 4),
      s"expected a 4-way batch, got $partitionCounts")
    InMemoryLog.drop(log)
  }

  test("bus records feed the streaming near-dup ingest end to end") {
    import graft.streaming.NearDupSink
    import graft.sources.SnapshotTable
    val log = "bus_ingest"
    InMemoryLog.create(log, 2)
    val ckpt = tmp("ingest_ckpt")
    val root = tmp("ingest_root")
    val textA = "the quick brown fox jumps over the lazy dog near the old river bank today"
    val textB = "completely different words describing an unrelated subject matter entirely alien here"

    InMemoryLog.append(log, "1", textA, 0)
    InMemoryLog.append(log, "2", textB, 1)
    val q = spark.readStream.format("gbus").option("log", log).load()
      .select(col("key").cast("long").as("doc_id"), col("value").as("text"))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(NearDupSink.ingestBatch(root) _)
      .start()
    try {
      q.processAllAvailable()
      InMemoryLog.append(log, "11", textA, 0) // dup of history doc 1
      q.processAllAvailable()
    } finally q.stop()

    val pairs = SnapshotTable.read(spark, NearDupSink.pairsRoot(root))
      .select("batch_doc", "hist_doc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs === Seq((11L, 1L)), s"expected (11 vs history 1): $pairs")
    assert(SnapshotTable.read(spark, NearDupSink.docsRoot(root)).count() === 3L)
    InMemoryLog.drop(log)
  }

  test("maxPerTrigger paces each partition relative to consumed progress") {
    val log = "bus_pace"
    InMemoryLog.create(log, 2)
    (0 until 20).foreach(i => InMemoryLog.append(log, s"k$i", s"v$i", i % 2))
    val ckpt = tmp("pace_ckpt")
    val q = spark.readStream.format("gbus").option("log", log)
      .option("maxPerTrigger", "3").load()
      .writeStream.format("memory").queryName("gbus_pace")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("gbus_pace").count() === 20)
      // 10 records per partition, 3 admitted per batch → ≥4 non-empty batches
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 4, s"expected ≥4 paced batches, got $nonEmpty")
    } finally q.stop()
    InMemoryLog.drop(log)
  }

  test("engine-passed ReadLimit binds globally, distributed by backlog, and always drains") {
    import graft.sources.bus.{BusMicroBatchStream, BusOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val log = "bus_limit"
    InMemoryLog.create(log, 2)
    // skewed backlog: 9 records on p0, 3 on p1
    (0 until 9).foreach(i => InMemoryLog.append(log, s"a$i", s"a$i", 0))
    (0 until 3).foreach(i => InMemoryLog.append(log, s"b$i", s"b$i", 1))
    val stream = new BusMicroBatchStream(log, maxPerTrigger = 0L)
    val start = stream.initialOffset().asInstanceOf[BusOffset]

    // ADVICE r14 pin: maxRows is a GLOBAL row budget (Kafka's
    // maxOffsetsPerTrigger contract), not per-partition
    val end = stream.latestOffset(start, ReadLimit.maxRows(4L))
      .asInstanceOf[BusOffset]
    val admitted = end.next.map { case (p, o) => o - start.next(p) }
    assert(admitted.sum <= 4L, s"global cap exceeded: ${end.next}")
    // proportional to backlog: p0 (9 lag) gets 3, p1 (3 lag) gets 1
    assert(end.next(0) === 3L && end.next(1) === 1L, s"${end.next}")

    // starvation guard: a budget below the partition count still
    // admits one record from the largest backlog
    val tiny = stream.latestOffset(start, ReadLimit.maxRows(1L))
      .asInstanceOf[BusOffset]
    val tinyAdmits = tiny.next.map { case (p, o) => o - start.next(p) }.sum
    assert(tinyAdmits === 1L, s"must drain under tiny budgets: ${tiny.next}")

    // allAvailable admits everything
    val all = stream.latestOffset(start, ReadLimit.allAvailable())
      .asInstanceOf[BusOffset]
    assert(all.next === Map(0 -> 9L, 1 -> 3L))
    InMemoryLog.drop(log)
  }
}
