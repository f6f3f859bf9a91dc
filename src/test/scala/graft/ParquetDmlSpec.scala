package graft

import graft.sources.ParquetDml
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DELETE / UPDATE / MERGE on directory-partitioned parquet, including
  * the scale contract: untouched partitions' files are byte-identical
  * (never rewritten) after every operation.
  */
class ParquetDmlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Fresh partitioned copy of orders (partitioned by o_orderstatus:
    * values F, O, P) in a temp dir.
    */
  private def freshTable(): String = {
    val dir = Artifacts.exitRoot("graft_dml")
    val path = s"$dir/orders"
    Tables.orders(spark, TestSpark.sf0001)
      .write.partitionBy("o_orderstatus").parquet(path)
    path
  }

  /** (file path → modification time) for every data file of one partition. */
  private def partitionFiles(path: String, status: String): Map[String, Long] = {
    val d = new java.io.File(s"$path/o_orderstatus=$status")
    if (!d.exists()) Map.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("delete removes matching rows and leaves other partitions' files untouched") {
    val path = freshTable()
    val before = spark.read.parquet(path)
    val total = before.count()
    val doomed = before.filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100000).count()
    assert(doomed > 0)
    val oFiles = partitionFiles(path, "O")

    ParquetDml.delete(spark, path, "o_orderstatus",
      col("o_orderstatus") === "F" && col("o_totalprice") > 100000)

    val after = spark.read.parquet(path)
    assert(after.count() === total - doomed)
    assert(after.filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100000).count() === 0)
    assert(partitionFiles(path, "O") === oFiles, "partition O was rewritten but not affected")
  }

  test("delete drops a fully-emptied partition's directory") {
    val path = freshTable()
    ParquetDml.delete(spark, path, "o_orderstatus", col("o_orderstatus") === "P")
    val after = spark.read.parquet(path)
    assert(after.filter(col("o_orderstatus") === "P").count() === 0)
    assert(!new java.io.File(s"$path/o_orderstatus=P").exists(),
      "stale directory left after full-partition delete")
  }

  test("update rewrites only affected partitions and applies the set exprs") {
    val path = freshTable()
    val oFiles = partitionFiles(path, "O")
    val fBefore = spark.read.parquet(path)
      .filter(col("o_orderstatus") === "F")
      .agg(sum(col("o_totalprice"))).head().getDouble(0)

    ParquetDml.update(spark, path, "o_orderstatus",
      col("o_orderstatus") === "F" && col("o_totalprice") < 50000,
      Map("o_totalprice" -> (col("o_totalprice") * 2),
        "o_orderpriority" -> lit("1-URGENT")))

    val after = spark.read.parquet(path)
    val bumped = after.filter(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
    assert(bumped.count() > 0)
    // every row that matched now has doubled price ⇒ none below 50000*2 kept original
    val fAfter = after.filter(col("o_orderstatus") === "F")
      .agg(sum(col("o_totalprice"))).head().getDouble(0)
    assert(fAfter > fBefore, "update did not change the affected partition")
    assert(partitionFiles(path, "O") === oFiles, "partition O was rewritten but not affected")
    // partition column update is rejected
    intercept[IllegalArgumentException] {
      ParquetDml.update(spark, path, "o_orderstatus",
        lit(true), Map("o_orderstatus" -> lit("X")))
    }
  }

  test("update binds cond and every set expr to the ORIGINAL row (SQL UPDATE semantics)") {
    val path = freshTable()
    val cond = col("o_orderstatus") === "F" && col("o_totalprice") < 50000
    val origMatched = spark.read.parquet(path).filter(cond).count()
    assert(origMatched > 0)
    // If sets were applied as a sequential fold, the o_comment set would
    // re-evaluate cond against the already-doubled price and skip every
    // row whose original price was in [25000, 50000).
    ParquetDml.update(spark, path, "o_orderstatus", cond,
      Map("o_totalprice" -> (col("o_totalprice") * 2),
        "o_orderpriority" -> lit("UPDATED")))
    val after = spark.read.parquet(path)
    assert(after.filter(col("o_orderpriority") === "UPDATED").count() === origMatched,
      "a set expression saw post-update values of an earlier set")
  }

  test("update set expressions referencing each other's columns swap, not chain") {
    val path = freshTable()
    val t = spark.read.parquet(path)
    val cond = col("o_orderstatus") === "P"
    val pairsBefore = t.filter(cond).select("o_orderkey", "o_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsBefore.nonEmpty)
    ParquetDml.update(spark, path, "o_orderstatus", cond,
      Map("o_orderkey" -> col("o_custkey"), "o_custkey" -> col("o_orderkey")))
    val pairsAfter = spark.read.parquet(path).filter(cond)
      .select("o_orderkey", "o_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsAfter === pairsBefore.map(_.swap), "set exprs chained instead of swapping")
  }

  test("delete handles NULL and special-character partition values (escaped dirs)") {
    import spark.implicits._
    val dir = Artifacts.exitRoot("graft_dml_esc")
    val path = s"$dir/t"
    Seq((1, "a:b c", 10), (2, null, 20), (3, "plain", 30))
      .toDF("id", "part", "v").write.partitionBy("part").parquet(path)
    assert(new java.io.File(s"$path/part=a%3Ab c").exists() ||
      new java.io.File(path).listFiles().exists(_.getName.startsWith("part=a%3A")),
      "precondition: writer escapes ':' in partition dir")
    ParquetDml.delete(spark, path, "part", col("id") =!= 3)
    val after = spark.read.parquet(path)
    assert(after.count() === 1 && after.select("id").head().getInt(0) === 3)
    val leftoverDirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(!leftoverDirs.exists(_.startsWith("part=a%3A")), "escaped partition dir left stale")
    assert(!leftoverDirs.contains("part=__HIVE_DEFAULT_PARTITION__"), "null partition dir left stale")
  }

  test("merge rejects duplicate source keys and type-mismatched source columns") {
    val path = freshTable()
    val t = spark.read.parquet(path)
    val one = t.filter(col("o_orderstatus") === "F").limit(1)
      .select(t.columns.map(col).toSeq: _*).localCheckpoint()
    intercept[IllegalArgumentException] {
      ParquetDml.merge(spark, path, "o_orderstatus", one.unionByName(one), "o_orderkey")
    }
    intercept[IllegalArgumentException] {
      ParquetDml.merge(spark, path, "o_orderstatus",
        one.withColumn("o_totalprice", col("o_totalprice").cast("string")), "o_orderkey")
    }
  }

  test("merge upserts: matched rows replaced, new rows inserted, other partitions untouched") {
    val path = freshTable()
    val t = spark.read.parquet(path)
    val total = t.count()
    val oFiles = partitionFiles(path, "O")
    // source: 3 updates of existing F-keys (price zeroed) + 2 brand-new F-keys
    val updates = t.filter(col("o_orderstatus") === "F").limit(3)
      .withColumn("o_totalprice", lit(0.0))
    val inserts = updates.limit(2)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("o_totalprice", lit(42.0))
    val source = updates.unionByName(inserts)
      .select(t.columns.map(col).toSeq: _*).localCheckpoint()
    val updatedKeys = updates.select("o_orderkey").collect().map(_.getLong(0)).toSeq

    ParquetDml.merge(spark, path, "o_orderstatus", source, "o_orderkey")

    val after = spark.read.parquet(path)
    assert(after.count() === total + 2, "2 inserts expected")
    // matched rows carry the source version
    assert(after.filter(col("o_orderkey").isin(updatedKeys: _*))
      .agg(sum(col("o_totalprice"))).head().getDouble(0) === 0.0)
    assert(after.filter(col("o_totalprice") === 42.0).count() === 2)
    // key uniqueness preserved
    assert(after.select("o_orderkey").distinct().count() === after.count())
    assert(partitionFiles(path, "O") === oFiles, "partition O was rewritten but not affected")
  }
}
