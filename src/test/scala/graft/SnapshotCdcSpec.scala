package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Change data feed between snapshot versions: row-level (bag
  * semantics) and keyed (insert/delete/update pre+post images).
  */
class SnapshotCdcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshTable(): String = {
    val root = Artifacts.exitRoot("graft-cdc")
    val v1 = Tables.nation(spark, TestSpark.sf0001)
    SnapshotTable.commit(spark, root, v1)
    // v2: update nation 0's name, delete nation 1, insert key 99
    val v2 = v1
      .withColumn("n_name",
        when(col("n_nationkey") === 0, lit("RENAMED")).otherwise(col("n_name")))
      .filter(col("n_nationkey") =!= 1)
      .unionByName(v1.filter(col("n_nationkey") === 2)
        .withColumn("n_nationkey", lit(99).cast("int"))
        .withColumn("n_name", lit("NEWLAND")))
    SnapshotTable.commit(spark, root, v2)
    root
  }

  test("row-level changes: update reads as delete+insert; counts exact") {
    val root = freshTable()
    val ch = SnapshotTable.changes(spark, root, 1, 2)
    val byType = ch.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // inserts: renamed nation 0 + new key 99; deletes: old nation 0 + nation 1
    assert(byType("insert") === 2 && byType("delete") === 2)
    assert(ch.filter(col("n_name") === "RENAMED")
      .select("_change_type").head().getString(0) === "insert")
  }

  test("keyed changes classify insert / delete / update pre+post") {
    val root = freshTable()
    val ch = SnapshotTable.changesByKey(spark, root, 1, 2, Seq("n_nationkey"))
    val byType = ch.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map(
      "insert" -> 1L, "delete" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L))
    val pre = ch.filter(col("_change_type") === "update_preimage").head()
    val post = ch.filter(col("_change_type") === "update_postimage").head()
    assert(pre.getAs[Int]("n_nationkey") === 0 && post.getAs[Int]("n_nationkey") === 0)
    assert(post.getAs[String]("n_name") === "RENAMED")
    assert(ch.filter(col("_change_type") === "insert").head()
      .getAs[Int]("n_nationkey") === 99)
    assert(ch.filter(col("_change_type") === "delete").head()
      .getAs[Int]("n_nationkey") === 1)
  }

  test("identical versions produce an empty feed") {
    val root = Artifacts.exitRoot("graft-cdc-id")
    val v = Tables.region(spark, TestSpark.sf0001)
    SnapshotTable.commit(spark, root, v)
    SnapshotTable.commit(spark, root, v)
    assert(SnapshotTable.changes(spark, root, 1, 2).count() === 0)
    assert(SnapshotTable.changesByKey(spark, root, 1, 2, Seq("r_regionkey"))
      .count() === 0)
  }
}
