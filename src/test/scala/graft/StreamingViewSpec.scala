package graft

import graft.sources.{IncrementalView, SnapshotTable}
import graft.streaming.StreamingView
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming materialized view capstone: a readStream over the
  * snapshot change feed maintains a versioned sum/count view table
  * that equals recomputation from the latest base snapshot after
  * every feed drain — across plain commits, updates, and
  * deletion-vector deletes.
  */
class StreamingViewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val keys = Seq("o_orderpriority")
  private val value = "o_totalprice"

  private def assertViewEqualsRecompute(viewRoot: String, tableRoot: String): Unit = {
    val got = SnapshotTable.read(spark, viewRoot)
      .select(col(keys.head), round(col("view_sum"), 2).as("s"), col("view_count"))
    val want = IncrementalView.sumView(
        SnapshotTable.read(spark, tableRoot), keys, value)
      .select(col(keys.head), round(col("view_sum"), 2).as("s"), col("view_count"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streamed change feed maintains a versioned view ≡ recompute") {
    val tableRoot = Artifacts.exitRoot("graft-sv-base")
    val viewRoot = Artifacts.exitRoot("graft-sv-view")
    val base = Tables.orders(spark, TestSpark.sf0001)

    SnapshotTable.commit(spark, tableRoot, base)
    SnapshotTable.publishChanges(spark, tableRoot)

    val q = SnapshotTable.streamChanges(spark, tableRoot)
      .writeStream
      .foreachBatch(StreamingView.maintainSumView(viewRoot, keys, value) _)
      .start()
    try {
      q.processAllAvailable()
      assertViewEqualsRecompute(viewRoot, tableRoot)
      val vAfterLoad = SnapshotTable.currentVersion(viewRoot)
      assert(vAfterLoad >= 1)

      // an update commit flows through as pre/post-image-free bag
      // deltas; the view follows
      val v2 = base.withColumn("o_totalprice",
        when(col("o_orderkey") % 5 === 0, round(col("o_totalprice") * 1.5, 2))
          .otherwise(col("o_totalprice")))
      SnapshotTable.commit(spark, tableRoot, v2.localCheckpoint())
      SnapshotTable.publishChanges(spark, tableRoot)
      q.processAllAvailable()
      assertViewEqualsRecompute(viewRoot, tableRoot)

      // a deletion-vector delete publishes ordinary delete rows; the
      // streamed view absorbs them the same way
      SnapshotTable.deleteWhere(spark, tableRoot, "o_orderstatus = 'F'")
      SnapshotTable.publishChanges(spark, tableRoot)
      q.processAllAvailable()
      assertViewEqualsRecompute(viewRoot, tableRoot)

      // the view table kept history: every drain committed a version,
      // and time travel into the view still works
      assert(SnapshotTable.currentVersion(viewRoot) > vAfterLoad)
      assert(SnapshotTable.read(spark, viewRoot, 1).count() > 0)
    } finally q.stop()
  }
}
