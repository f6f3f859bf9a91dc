package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming read of an Avro landing directory (gavro MICRO_BATCH_READ):
  * files dropped into the dir arrive exactly once, progress survives a
  * query restart (the checkpointed manifest, not the memory sink, is
  * what's under test), and maxFilesPerTrigger paces admission.
  */
class AvroStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(tag: String): String = Artifacts.exitRoot(s"gavro_stream_$tag")

  private def drop(dir: String, from: Int, until: Int): Unit =
    Sources.writeAvro(
      spark.range(from, until).select(col("id"), lit("doc").as("tag")),
      dir, mode = "append")

  test("landing files arrive exactly once, including across a restart") {
    val dir = tmp("once")
    val ckpt = tmp("once_ckpt")
    val out = tmp("once_out")
    drop(dir, 0, 10)

    def start() = spark.readStream.format("gavro").load(dir).select("id")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(spark.read.parquet(out).count() === 10)
      drop(dir, 10, 25)
      q1.processAllAvailable()
      assert(spark.read.parquet(out).count() === 25)
    } finally q1.stop()

    // restart from the same checkpoint (parquet sink supports
    // recovery): files dropped while down arrive, nothing re-emits
    drop(dir, 25, 30)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val ids = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
      assert(ids === (0L until 30L).toArray,
        s"restart re-emitted or dropped files: n=${ids.length}")
    } finally q2.stop()
  }

  test("maxFilesPerTrigger paces admission without losing rows") {
    val dir = tmp("pace")
    val ckpt = tmp("pace_ckpt")
    // 6 files of 5 rows each (repartition → one file per task)
    spark.range(30).select(col("id"), lit("x").as("tag"))
      .repartition(6).write.format("gavro").mode("append").save(dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".avro")) === 6)

    val q = spark.readStream.format("gavro").option("maxFilesPerTrigger", "2")
      .load(dir).select("id")
      .writeStream.format("memory").queryName("gavro_pace")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("gavro_pace").count() === 30)
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3, s"expected ≥3 paced batches, got $nonEmpty")
    } finally q.stop()
  }

  test("streaming scan prunes columns like the batch scan") {
    val dir = tmp("prune")
    val ckpt = tmp("prune_ckpt")
    drop(dir, 0, 5)
    val q = spark.readStream.format("gavro").load(dir)
      .select(col("id")) // tag never needed
      .writeStream.format("memory").queryName("gavro_prune")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("gavro_prune").columns === Array("id"))
      assert(spark.table("gavro_prune").count() === 5)
    } finally q.stop()
  }

  test("manifest compaction bounds the checkpoint dir; restart stays exactly-once") {
    val dir = tmp("compact")
    val ckpt = tmp("compact_ckpt")
    val out = tmp("compact_out")
    // one file per batch (maxFilesPerTrigger=1), compact every 3
    // committed batches: the per-batch manifests fold into a
    // `_compact_` seen-set snapshot and are deleted
    (0 until 9).foreach(i => drop(dir, i * 10, i * 10 + 10))

    def start() = spark.readStream.format("gavro")
      .option("maxFilesPerTrigger", "1").option("manifestCompactEvery", "3")
      .load(dir).select("id")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).count() === 90)

    // the engine hands the source a per-source checkpoint subdir
    // (sources/0/...): locate the manifest dir by name
    def findManifestDir(f: java.io.File): Option[java.io.File] =
      if (f.isDirectory && f.getName == "graft-avro-manifest") Some(f)
      else Option(f.listFiles()).toSeq.flatten
        .filter(_.isDirectory).flatMap(findManifestDir).headOption
    val manifestDir = findManifestDir(new java.io.File(ckpt))
      .getOrElse(fail(s"no manifest dir under $ckpt"))
    val names = manifestDir.list().toSeq.sorted
    val compacts = names.filter(_.startsWith("_compact_"))
    val perBatch = names.filterNot(_.startsWith("_compact_"))
    assert(compacts.size === 1, s"exactly one snapshot survives: $names")
    assert(perBatch.size < 9,
      s"folded per-batch manifests must be deleted: $names")

    // restart rebuilds seen from snapshot + tail manifests (one
    // listing): nothing re-emits, late files arrive once
    drop(dir, 90, 95)
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val ids = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    assert(ids === (0L until 95L).toArray,
      s"restart after compaction re-emitted or dropped: n=${ids.length}")
  }
}
