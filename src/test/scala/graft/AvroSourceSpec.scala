package graft

import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import graft.sources.Sources
import graft.sources.avro.AvroSchemas
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The gavro DSv2 connector: roundtrip fidelity over the full mapped
  * type surface, split-aware reads (one big container file must fan
  * out to multiple input partitions, each block decoded exactly
  * once), reader-schema column pruning visible in the scan, atomic
  * overwrite/append semantics, and Avro schema-resolution reads
  * across files with differing writer schemas.
  */
class AvroSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(tag: String): String = Artifacts.exitRoot(s"gavro_$tag")

  private val fullSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("flag", BooleanType, nullable = false),
    StructField("score", DoubleType, nullable = true),
    StructField("small", IntegerType, nullable = false),
    StructField("ratio", FloatType, nullable = false),
    StructField("blob", BinaryType, nullable = true),
    StructField("d", DateType, nullable = true),
    StructField("ts", TimestampType, nullable = true),
    StructField("amount", DecimalType(12, 2), nullable = true),
    StructField("tags", ArrayType(StringType, containsNull = true), nullable = true),
    StructField("props", MapType(StringType, LongType, valueContainsNull = true), nullable = true),
    StructField("nested", StructType(Seq(
      StructField("a", IntegerType, nullable = false),
      StructField("b", StringType, nullable = true))), nullable = true)))

  private def fullRows = Seq(
    Row(1L, "alpha", true, 1.5, 7, 0.25f, Array[Byte](1, 2, 3),
      Date.valueOf("2024-03-01"), Timestamp.valueOf("2024-03-01 12:34:56.789123"),
      BigDecimal("12345.67").bigDecimal, Seq("x", null, "y"),
      Map("k1" -> 10L, "k2" -> null), Row(42, "inner")),
    Row(2L, null, false, null, -3, -1.5f, null, null, null, null, null, null, null),
    Row(3L, "gamma", true, 2.25, 0, 3.5f, Array[Byte](),
      Date.valueOf("1969-12-31"), Timestamp.valueOf("1969-12-31 23:59:59.0"),
      BigDecimal("-0.01").bigDecimal, Seq.empty[String], Map.empty[String, Long],
      Row(0, null)))

  private def fullDf = spark.createDataFrame(
    spark.sparkContext.parallelize(fullRows, 2), fullSchema)

  test("roundtrip over the full mapped type surface") {
    val dir = tmpDir("roundtrip")
    Sources.writeAvro(fullDf, dir)
    val back = Sources.avro(spark, dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      fullSchema.fields.map(f => (f.name, f.dataType)).toSeq)
    val a = fullDf.orderBy("id").collect().map(normalize)
    val b = back.orderBy("id").collect().map(normalize)
    assert(b === a)
  }

  /** Binary/array/map fields compare by value, not reference. */
  private def normalize(r: Row): Seq[Any] = r.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case m: scala.collection.Map[_, _] => m.toSeq.sortBy(_._1.toString)
    case x => x
  }

  test("one large file fans out to multiple split partitions, rows exactly once") {
    val dir = tmpDir("splits")
    val n = 200000L
    val df = spark.range(n).select(col("id"),
      concat(lit("payload_"), col("id")).as("text"),
      (col("id") % 97).cast("double").as("v"))
    // one task → one container file; null codec keeps it large enough to split
    df.coalesce(1).write.format("gavro").option("compression", "null")
      .mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.length === 1)
    assert(files.head.length() > (2L << 20), "file too small to exercise splitting")

    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (1L << 20).toString)
      val back = spark.read.format("gavro").load(dir)
      assert(back.rdd.getNumPartitions > 1,
        s"expected >1 split partitions, got ${back.rdd.getNumPartitions}")
      assert(back.count() === n)
      assert(back.select(countDistinct(col("id"))).head().getLong(0) === n)
      assert(back.agg(sum(col("id"))).head().getLong(0) === n * (n - 1) / 2)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("many small files pack into few partitions (open-cost bin packing)") {
    val dir = tmpDir("pack")
    spark.range(1000).select(col("id"), lit("t").as("tag"))
      .repartition(20).write.format("gavro").mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles().count(_.getName.endsWith(".avro"))
    assert(files === 20)
    // defaults: 128MB partitions, 4MB open cost → 20 tiny files ≪ one partition's budget
    val back = spark.read.format("gavro").load(dir)
    assert(back.rdd.getNumPartitions <= 2,
      s"small files not packed: ${back.rdd.getNumPartitions} partitions for 20 tiny files")
    assert(back.count() === 1000)
  }

  test("column pruning reaches the scan's reader schema") {
    val dir = tmpDir("prune")
    Sources.writeAvro(fullDf, dir)
    val pruned = Sources.avro(spark, dir).select(col("id"), col("name"))
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.output.map(_.name).toSet === Set("id", "name"))
    assert(pruned.orderBy("id").collect().map(_.toSeq) ===
      Array(Seq(1L, "alpha"), Seq(2L, null), Seq(3L, "gamma")))
  }

  test("append adds files; overwrite truncates prior output atomically") {
    val dir = tmpDir("modes")
    val df1 = spark.range(10).select(col("id"), lit("a").as("tag"))
    val df2 = spark.range(10, 25).select(col("id"), lit("b").as("tag"))
    Sources.writeAvro(df1, dir, mode = "append")
    Sources.writeAvro(df2, dir, mode = "append")
    assert(Sources.avro(spark, dir).count() === 25)
    Sources.writeAvro(df1, dir, mode = "overwrite")
    val after = Sources.avro(spark, dir)
    assert(after.count() === 10)
    assert(after.agg(max(col("id"))).head().getLong(0) === 9L)
    // no staging residue
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith("_staging_")))
  }

  test("schema resolution reads files with differing writer schemas") {
    val dir = tmpDir("evolve")
    // older writer: (id, name); newer writer: (id, name, extra)
    val oldDf = spark.range(3).select(col("id"), lit("old").as("name"))
    val newDf = spark.range(3, 6).select(col("id"), lit("new").as("name"),
      lit(7L).as("extra"))
    Sources.writeAvro(oldDf, dir, mode = "append")
    Sources.writeAvro(newDf, dir, mode = "append")
    // table schema comes from one file header; the other file resolves
    // against it by field name (extra skipped, or absent→null default)
    val back = Sources.avro(spark, dir).select(col("id"), col("name"))
    assert(back.count() === 6)
    assert(back.filter(col("name") === "old").count() === 3)
    assert(back.filter(col("name") === "new").count() === 3)
  }

  test("the real corpus round-trips: documents through avro ≡ parquet") {
    val dir = tmpDir("corpus")
    val viaParquet = Tables.documents(spark, TestSpark.sf0001)
    Sources.writeAvro(viaParquet, dir)
    val viaAvro = Sources.avro(spark, dir)
    assert(viaAvro.schema.map(f => (f.name, f.dataType)) ===
      viaParquet.schema.map(f => (f.name, f.dataType)))
    // same rows AND a real query computes identically over either path
    assert(viaAvro.count() === viaParquet.count())
    def langStats(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("lang")).agg(count(lit(1)).as("n"),
        sum(length(col("text"))).as("chars")).orderBy("lang").collect().toSeq
    assert(langStats(viaAvro) === langStats(viaParquet))
  }

  test("mergeSchema unions evolving writer schemas; missing fields read null") {
    val dir = tmpDir("merge")
    Sources.writeAvro(spark.range(3).select(col("id"), lit("old").as("name")),
      dir, mode = "append")
    Sources.writeAvro(spark.range(3, 5).select(col("id"), lit("new").as("name"),
      (col("id") * 10).as("extra")), dir, mode = "append")
    val merged = spark.read.format("gavro").option("mergeSchema", "true").load(dir)
    assert(merged.schema.fieldNames.toSet === Set("id", "name", "extra"))
    // 'extra' absent from the old file → must come back nullable + null
    assert(merged.schema("extra").nullable)
    assert(merged.count() === 5)
    assert(merged.filter(col("extra").isNull).count() === 3)
    assert(merged.filter(col("extra") === 40L).count() === 1)
    // pruning to the merged-only column still resolves every file
    assert(merged.select(sum(col("extra"))).head().getLong(0) === 70L)
  }

  test("empty directory reads as an empty frame with the declared schema") {
    val dir = tmpDir("empty")
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    val df = spark.read.format("gavro").schema(schema).load(dir)
    assert(df.schema === schema)
    assert(df.count() === 0)
  }

  test("concurrent appends from two write jobs both land (isolated staging)") {
    val dir = tmpDir("conc")
    val dfs = Seq(
      spark.range(0, 50).select(col("id"), lit("a").as("tag")),
      spark.range(50, 120).select(col("id"), lit("b").as("tag")))
    val threads = dfs.map { d =>
      new Thread(() => Sources.writeAvro(d, dir, mode = "append"))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val back = Sources.avro(spark, dir)
    assert(back.count() === 120)
    assert(back.select(countDistinct(col("id"))).head().getLong(0) === 120)
  }

  test("SQL DDL surface: CREATE TABLE USING gavro, INSERT INTO / OVERWRITE") {
    val dir = tmpDir("sql")
    spark.sql(s"CREATE TABLE gavro_sql_t (id BIGINT, name STRING) USING gavro " +
      s"OPTIONS (path '$dir')")
    try {
      spark.sql("INSERT INTO gavro_sql_t VALUES (1, 'a'), (2, 'b')")
      assert(spark.sql("SELECT count(*) FROM gavro_sql_t").head().getLong(0) === 2)
      spark.sql("INSERT OVERWRITE gavro_sql_t VALUES (9, 'z')")
      val rows = spark.sql("SELECT id, name FROM gavro_sql_t").collect().map(_.toSeq)
      assert(rows === Array(Seq(9L, "z")))
    } finally spark.sql("DROP TABLE gavro_sql_t")
  }

  test("avro schema conversion is stable both ways; prune keeps writer field types") {
    val avro = AvroSchemas.toAvro(fullSchema)
    val back = AvroSchemas.toSpark(avro)
    assert(back.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq ===
      fullSchema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq)
    val pruned = AvroSchemas.prune(avro, Seq("ts", "id"))
    assert(pruned.getFields.asScala.map(_.name()).toSeq === Seq("ts", "id"))
    assert(AvroSchemas.toSpark(pruned).fields.map(_.dataType).toSeq ===
      Seq(TimestampType, LongType))
  }

  test("append with reordered column names aligns by NAME, never positionally") {
    // ADVICE r14 regression pin: a DataFrame whose columns are the
    // table's set in a different ORDER must land under its own names
    // (read-side Avro name resolution aligns), never be silently
    // relabeled by position
    val dir = tmpDir("reorder")
    import spark.implicits._
    Seq((1L, "one"), (2L, "two")).toDF("id", "name")
      .write.format("gavro").mode("append").save(dir)
    // reversed order: (name, id)
    Seq(("three", 3L)).toDF("name", "id")
      .write.format("gavro").mode("append").save(dir)
    val got = spark.read.format("gavro").load(dir)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "one"), (2L, "two"), (3L, "three")),
      s"positional relabeling corrupted the append: ${got.toSeq}")
  }

  test("append with same-arity DIFFERENT names keeps the query's names") {
    val dir = tmpDir("diffnames")
    import spark.implicits._
    Seq((1L, "one")).toDF("id", "name").write.format("gavro").mode("append").save(dir)
    Seq((9L, "x")).toDF("id", "extra")
      .write.format("gavro").mode("append").save(dir)
    // reading under the declared (id, name) schema: the second file's
    // `extra` field is skipped, its missing `name` resolves to null —
    // the honest name-resolution outcome, NOT a silent relabel of
    // extra→name (which would surface "x" below)
    val got = spark.read.format("gavro")
      .schema(StructType(Seq(
        StructField("id", LongType), StructField("name", StringType))))
      .load(dir)
      .orderBy("id").collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got.toSeq === Seq((1L, Some("one")), (9L, None)), s"${got.toSeq}")
  }

  test("mergeSchema widens along Avro promotions; real conflicts fail at planning") {
    val dir = tmpDir("widen")
    import spark.implicits._
    Seq((1, 1.0f)).toDF("n", "v").write.format("gavro").mode("append").save(dir)
    Seq((2L, 2.0d)).toDF("n", "v").write.format("gavro").mode("append").save(dir)
    val merged = spark.read.format("gavro").option("mergeSchema", "true").load(dir)
    assert(merged.schema("n").dataType === LongType)
    assert(merged.schema("v").dataType === DoubleType)
    assert(merged.select(sum("n")).head().getLong(0) === 3L)

    val bad = tmpDir("conflict")
    Seq((1, "text")).toDF("n", "v").write.format("gavro").mode("append").save(bad)
    Seq((2, 9L)).toDF("n", "v").write.format("gavro").mode("append").save(bad)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("gavro").option("mergeSchema", "true").load(bad).schema
    }
    assert(e.getMessage.contains("'v'") && e.getMessage.contains(".avro"),
      s"planning error must name the field and the files: ${e.getMessage}")
  }
}
