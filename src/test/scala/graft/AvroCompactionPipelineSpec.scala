package graft

import graft.sources.{SnapshotTable, TableStats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The INGEST COMPACTION composite (VERDICT r14 item 5): Avro landing
  * dir → gavro micro-batch tail (with schema merge) → partition-sliced
  * snapshot commits → OPTIMIZE into pruned, stats-bearing parquet —
  * the "land Avro, query parquet" pipeline the connector doc
  * prescribes (AvroDataSource scale posture), driven end-to-end with
  * exactly-once file accounting across a stream restart.
  */
class AvroCompactionPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def landAvro(dir: String, ids: Range, withScore: Boolean): Unit = {
    import spark.implicits._
    val df =
      if (withScore)
        ids.map(i => (i.toLong, s"doc$i", i * 1.5)).toDF("id", "name", "score")
      else ids.map(i => (i.toLong, s"doc$i")).toDF("id", "name")
    df.coalesce(1).write.format("gavro").mode("append").save(dir)
  }

  test("Avro landing → streamed snapshot ingest → OPTIMIZE: exactly once, pruned, stats-bearing") {
    val landing = Artifacts.exitRoot("graft-avro-land")
    val table = Artifacts.exitRoot("graft-avro-tbl") + "/docs"
    val ckpt = Artifacts.exitRoot("graft-avro-ck")
    TableStats.enroll(table, "name", Seq("name"))

    // generation A (id, name) and generation B (+score) land BEFORE
    // the stream starts: mergeSchema must union them
    landAvro(landing, 0 until 40, withScore = false)
    landAvro(landing, 40 until 70, withScore = true)

    def ingest(batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      if (batch.isEmpty) return
      Artifacts.pinned(batch.withColumn("batch_id", lit(batchId)), eager = true) { slice =>
        SnapshotTable.restatePartitions(spark, table, slice, "batch_id",
          statsCols = Seq("id"))
      }
    }

    def run(): Unit = {
      val q = spark.readStream.format("gavro")
        .option("mergeSchema", "true").option("maxFilesPerTrigger", "1")
        .load(landing)
        .writeStream.foreachBatch(ingest _)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    // late generation-B files land while the stream is DOWN; the
    // restarted query re-infers the (same) merged schema and its
    // manifest guarantees already-ingested files are not re-read
    landAvro(landing, 70 until 90, withScore = true)
    run()

    val got = SnapshotTable.read(spark, table)
    assert(got.count() === 90L, "every landed row exactly once")
    assert(got.select("id").distinct().count() === 90L, "no file ingested twice")
    assert(got.columns.toSet === Set("id", "name", "score", "batch_id"),
      s"merged schema: ${got.columns.mkString(",")}")
    // generation-A rows resolve the merged-only column to null
    assert(got.filter(col("id") < 40 && col("score").isNotNull).count() === 0L)
    assert(got.filter(col("id") >= 40 && col("score").isNull).count() === 0L)

    // many per-batch files before OPTIMIZE, few after; rows unchanged
    val before = SnapshotTable.historyTable(spark, table)
      .orderBy(col("version").desc).select("n_files").head().getInt(0)
    SnapshotTable.compactFiles(spark, table, targetFileBytes = 1L << 30,
      statsCols = Seq("id"))
    val after = SnapshotTable.historyTable(spark, table)
      .orderBy(col("version").desc).select("n_files").head().getInt(0)
    assert(after < before && after <= 2,
      s"OPTIMIZE must collapse the per-batch files: $before -> $after")
    assert(SnapshotTable.read(spark, table).count() === 90L)

    // stats-bearing on both axes: min/max pruning answers a range
    // read, and the ENROLLED routing stat survived the OPTIMIZE
    // commit (maintained by the commit path itself, r15)
    val pruned = SnapshotTable.readPruned(spark, table, "id", "10", "19")
    assert(pruned.count() === 10L)
    val stat = TableStats.stored(table, "name")
    assert(stat.exists(_.maxKeyRows == 1L),
      s"enrolled stat must be current after OPTIMIZE: $stat")
  }
}
