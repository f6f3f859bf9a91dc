package graft

import graft.multimodal.BinaryPipeline
import graft.sources.Sources
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("binary payload pipeline: attach → decode stub → deterministic metadata") {
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(20)
    val withBin = BinaryPipeline.withPayload(docs, "text")
    assert(withBin.schema("payload").dataType === BinaryType)
    val meta = BinaryPipeline.decodeMeta(withBin)
    val rows = meta.collect()
    assert(rows.length === 20)
    assert(rows.forall(m => m.n_bytes > 0 && m.width >= 1 && m.width <= 64
      && m.height >= 1 && m.height <= 64 && m.format == "stub/raw"))
    // deterministic: same input → same metadata
    val again = BinaryPipeline.decodeMeta(withBin).collect()
    assert(rows.sortBy(_.id).toSeq === again.sortBy(_.id).toSeq)
  }

  test("frame sampling yields n frames per document with bounded size") {
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(5)
    val frames = BinaryPipeline.sampleFrames(
      BinaryPipeline.withPayload(docs, "text"), nFrames = 4, frameBytes = 16)
    val rows = frames.collect()
    assert(rows.length === 20) // 5 docs × 4 frames
    assert(rows.forall(_.getAs[Array[Byte]]("frame_payload").length <= 16))
  }

  test("feature extraction yields normalized fixed-dim vectors usable by similarity ops") {
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(20)
    val feats = BinaryPipeline.extractFeatures(
      BinaryPipeline.withPayload(docs, "text"), dim = 16)
    val rows = feats.collect()
    assert(rows.length === 20)
    assert(rows.forall(_.features.length === 16))
    // L1-normalized histogram: sums to ~1
    assert(rows.forall(f => math.abs(f.features.map(_.toDouble).sum - 1.0) < 1e-3))
    // the array<float> output plugs into the native cosine directly
    graft.functions.expressions.CosineSimilarity.register(spark)
    val df = feats.toDF()
    val sim = df.as("a").crossJoin(df.as("b"))
      .filter(col("a.id") < col("b.id")).limit(5)
      .select(graft.functions.VectorFunctions
        .cosineFast(col("a.features"), col("b.features")).as("c"))
      .collect()
    assert(sim.forall(r => !r.isNullAt(0) && r.getDouble(0) <= 1.0 + 1e-9))
  }

  test("resizePayload bounds output bytes and keeps small payloads intact") {
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(20)
    val withBin = BinaryPipeline.withPayload(docs, "text")
    val resized = BinaryPipeline.resizePayload(withBin, maxBytes = 64)
    val sizes = resized.select(col("doc_id"),
      octet_length(col("payload")).as("n")).collect()
    assert(sizes.length === 20)
    assert(sizes.forall(_.getAs[Int]("n") <= 64))
    // payloads already under the cap pass through unchanged
    val small = BinaryPipeline.resizePayload(
      withBin.withColumn("payload", substr(col("payload"), lit(1), lit(10))), 64)
    assert(small.select(octet_length(col("payload")).as("n"))
      .collect().forall(_.getAs[Int]("n") <= 10))
  }

  test("csv and json sources round-trip a table slice") {
    val tmp = Artifacts.exitRoot("graft-src")
    val slice = Tables.nation(spark, TestSpark.sf0001)
    val schema = slice.schema

    slice.write.mode("overwrite").option("header", "true").csv(s"$tmp/nation_csv")
    val fromCsv = Sources.csv(spark, s"$tmp/nation_csv", schema)
    assert(fromCsv.count() === slice.count())
    assert(fromCsv.agg(sum("n_nationkey")).head().getLong(0)
      === slice.agg(sum("n_nationkey")).head().getLong(0))

    slice.write.mode("overwrite").json(s"$tmp/nation_json")
    val fromJson = Sources.jsonLines(spark, s"$tmp/nation_json", schema)
    assert(fromJson.count() === slice.count())
  }

  test("orc source/sink round-trip with partition layout") {
    val tmp = Artifacts.exitRoot("graft-orc")
    val slice = Tables.orders(spark, TestSpark.sf0001)
    Sources.writeOrc(slice, s"$tmp/orders_orc", partitionBy = Seq("o_orderstatus"))
    val back = Sources.orc(spark, s"$tmp/orders_orc")
    assert(back.count() === slice.count())
    // partitioned layout reorders rows → double-sum ulp drift is expected
    val sumBack = back.agg(sum("o_totalprice")).head().getDouble(0)
    val sumOrig = slice.agg(sum("o_totalprice")).head().getDouble(0)
    assert(math.abs(sumBack - sumOrig) / sumOrig < 1e-12)
    // pushdown reaches the ORC scan like parquet
    val plan = back.filter(col("o_totalprice") > 100000)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("pushed"), plan.take(800))
  }

  test("xml source/sink round-trip (Spark 4 built-in)") {
    val tmp = Artifacts.exitRoot("graft-xml")
    // XML has no timestamp-precision contract like parquet; use the
    // integer/string dim table for an exact round-trip
    val slice = Tables.nation(spark, TestSpark.sf0001)
    Sources.writeXml(slice, s"$tmp/nation_xml", rowTag = "nation")
    val back = Sources.xml(spark, s"$tmp/nation_xml", slice.schema, rowTag = "nation")
    assert(back.count() === slice.count())
    assert(back.agg(sum("n_nationkey")).head().getLong(0)
      === slice.agg(sum("n_nationkey")).head().getLong(0))
    // full-row equality, not just counts
    assert(back.exceptAll(slice).isEmpty && slice.exceptAll(back).isEmpty)
  }

  test("line-text source reads a raw corpus one line per row") {
    val tmp = Artifacts.exitRoot("graft-txt")
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(50)
      .select(regexp_replace(col("text"), "[\\r\\n]", " ").as("value"))
    docs.write.mode("overwrite").text(s"$tmp/corpus")
    val back = Sources.textLines(spark, s"$tmp/corpus")
    assert(back.columns.toSeq === Seq("value"))
    assert(back.count() === 50)
    // the raw-ingest shape feeds tokenization directly
    val toks = back.select(org.apache.spark.sql.functions.size(
      split(col("value"), "\\s+")).as("n"))
    assert(toks.agg(org.apache.spark.sql.functions.min("n")).head().getInt(0) >= 1)
  }

  test("binaryFile source ingests raw files with glob pruning") {
    val dir = java.nio.file.Paths.get(Artifacts.exitRoot("graft-bin"))
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(dir.resolve(name), bytes)
    put("a.img", Array[Byte](1, 2, 3, 4))
    put("b.img", Array[Byte](5, 6))
    put("skip.txt", Array[Byte](9, 9, 9))

    val all = Sources.binaryFiles(spark, dir.toString)
    assert(all.count() === 3)
    assert(all.columns.toSet ===
      Set("path", "modificationTime", "length", "content"))

    // glob prunes at listing time — the .txt never enters the scan
    val imgs = Sources.binaryFiles(spark, dir.toString, glob = "*.img")
    val rows = imgs.select(col("path"), col("length"), col("content"))
      .collect().map(r => (r.getString(0).split('/').last,
        r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq("a.img", "b.img"))
    assert(rows.map(_._2).toSeq === Seq(4L, 2L))
    assert(rows.head._3 === Seq[Byte](1, 2, 3, 4))

    // the content column feeds the multimodal pipeline directly
    val meta = graft.multimodal.BinaryPipeline.decodeMeta(
      imgs.select(crc32(col("path")).as("doc_id"), col("content").as("payload")))
    assert(meta.count() === 2)
  }

  test("in-memory source and partitioned parquet sink") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("part", StringType)))
    val df = Sources.inMemory(spark,
      Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "a")), schema)
    val tmp = Artifacts.exitRoot("graft-sink")
    Sources.writeParquet(df, s"$tmp/out", partitionBy = Seq("part"))
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.count() === 3)
    // partition pruning: only one directory read when filtering on part
    val pruned = back.filter(col("part") === "a")
    assert(pruned.count() === 2)
  }
}
