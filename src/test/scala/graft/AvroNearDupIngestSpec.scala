package graft

import graft.sources.{SnapshotTable, Sources}
import graft.streaming.NearDupSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end ingest-edge composition: collectors drop Avro container
  * files into a landing directory; the pipeline tails it with the
  * gavro micro-batch stream and runs streaming incremental near-dup
  * (NearDupSink) into snapshot tables. This is the full 100 TB crawl
  * ingest story wired from the repo's own parts — Avro source →
  * exactly-once file admission → batch-vs-history LSH dedup →
  * partition-sliced snapshot commits.
  */
class AvroNearDupIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val textA = "the quick brown fox jumps over the lazy dog near the old river bank today"
  private val textB = "completely different words describing an unrelated subject matter entirely alien here"

  test("avro landing dir → streaming near-dup ingest finds cross-file dups") {
    import spark.implicits._
    val landing = Artifacts.exitRoot("avro_landing")
    val ckpt = Artifacts.exitRoot("avro_landing_ckpt")
    val root = Artifacts.exitRoot("avro_neardup")

    def dropFile(rows: Seq[(Long, String)]): Unit =
      Sources.writeAvro(rows.toDF("doc_id", "text").coalesce(1), landing, mode = "append")

    // file 1: history seed
    dropFile(Seq((1L, textA), (2L, textB)))

    val q = Sources.avroStream(spark, landing)
      .select(col("doc_id"), col("text"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(NearDupSink.ingestBatch(root) _)
      .start()
    try {
      q.processAllAvailable()
      // file 2 arrives later: doc 11 duplicates history doc 1
      dropFile(Seq((11L, textA)))
      q.processAllAvailable()
    } finally q.stop()

    val pairs = SnapshotTable.read(spark, NearDupSink.pairsRoot(root))
      .select("batch_doc", "hist_doc").as[(Long, Long)].collect().toSeq
    assert(pairs === Seq((11L, 1L)),
      s"expected the cross-file dup (11 vs history 1): $pairs")
    assert(SnapshotTable.read(spark, NearDupSink.docsRoot(root)).count() === 3L)
  }
}
