package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Regression pin for the mergeByKey column-order bug the streaming
  * capstone flushed out: the using-columns `left_anti` join form moves
  * the key columns to the FRONT of its output, so a merge whose key
  * was not already the first column used to commit a version with a
  * DIFFERENT physical column order than v1 — and `changes()`
  * (positional exceptAll) then mis-paired columns across versions:
  * a runtime cast error when types differ, silently-wrong change rows
  * when they don't. mergeByKey now restores the table's column order
  * on every merge, and changes() aligns versions by NAME before
  * diffing (defense in depth for pre-fix tables on disk).
  */
class SnapshotMergeOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("mergeByKey with a non-leading key keeps one column order; CDC stays typed") {
    import spark.implicits._
    val root = Artifacts.exitRoot("graft-mo-")
    def batch(rows: (Long, Long, Double, Long)*) =
      rows.toSeq.toDF("user_id", "events", "total_value", "last_event_us")
        .withColumn("session_key",
          concat_ws(":", col("user_id"), col("last_event_us")))

    SnapshotTable.mergeByKey(spark, root, batch((2L, 1L, 2.0, 100L)), Seq("session_key"))
    SnapshotTable.mergeByKey(spark, root,
      batch((1L, 3L, 7.0, 200L), (2L, 2L, 9.0, 100L)), Seq("session_key"))

    val s1 = SnapshotTable.read(spark, root, 1).schema.map(f => (f.name, f.dataType))
    val s2 = SnapshotTable.read(spark, root, 2).schema.map(f => (f.name, f.dataType))
    assert(s1 === s2, "merge changed the physical column order across versions")

    SnapshotTable.publishChanges(spark, root)
    val cdc = SnapshotTable.readChanges(spark, root)
      .select("user_id", "events", "total_value", "last_event_us", "_change_type")
      .as[(Long, Long, Double, Long, String)].collect().toSet
    // v1: insert of the first row; v2: key 2:100 replaced (delete old
    // bag row, insert new) + key 1:200 inserted
    assert(cdc === Set(
      (2L, 1L, 2.0, 100L, "insert"),
      (2L, 1L, 2.0, 100L, "delete"),
      (2L, 2L, 9.0, 100L, "insert"),
      (1L, 3L, 7.0, 200L, "insert")))
  }
}
