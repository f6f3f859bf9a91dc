package graft

import graft.sources.{IncrementalView, SnapshotTable}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming half of the CDC story: commits publish atomic change
  * batches under `_cdc`, and a Structured Streaming file source tails
  * them continuously — commit → publishChanges → the rows arrive in
  * the next micro-batch, with `commit_version` riding along from the
  * partition directory name.
  */
class SnapshotCdcStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** v1 = nation (25 rows); v2 = rename key 0, delete key 1, insert 99. */
  private def seeded(): String = {
    val root = Artifacts.exitRoot("graft-cdc-stream")
    val v1 = Tables.nation(spark, TestSpark.sf0001)
    SnapshotTable.commit(spark, root, v1)
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

  test("publishChanges is incremental and idempotent") {
    val root = seeded()
    assert(SnapshotTable.publishChanges(spark, root, Seq("n_nationkey")) === Seq(1, 2))
    assert(SnapshotTable.publishChanges(spark, root, Seq("n_nationkey")) === Seq.empty)
    assert(SnapshotTable.publishedChangeVersions(root) === Seq(1, 2))
    // batch view: v1 is all-insert, v2 is the keyed 4-row delta, and a
    // commit_version filter prunes to that version's directory
    val feed = SnapshotTable.readChanges(spark, root)
    assert(feed.filter(col("commit_version") === 1)
      .filter(col("_change_type") === "insert").count() === 25L)
    assert(feed.filter(col("commit_version") === 2).count() === 4L)
  }

  test("streamChanges tails new commits as they publish") {
    val root = seeded()
    SnapshotTable.publishChanges(spark, root, Seq("n_nationkey"))
    val q = SnapshotTable.streamChanges(spark, root)
      .writeStream.format("memory").queryName("cdc_tail").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdc_tail").count() === 29L) // 25 inserts + 4 keyed
      // v3: delete nation 2 → one keyed delete
      val v3 = SnapshotTable.read(spark, root).filter(col("n_nationkey") =!= 2)
      SnapshotTable.commit(spark, root, v3)
      assert(SnapshotTable.publishChanges(spark, root, Seq("n_nationkey")) === Seq(3))
      q.processAllAvailable()
      val tail = spark.table("cdc_tail")
      assert(tail.count() === 30L)
      val r = tail.filter(col("commit_version") === 3).collect()
      assert(r.length === 1 && r.head.getAs[String]("_change_type") === "delete"
        && r.head.getAs[Int]("n_nationkey") === 2)
    } finally q.stop()
  }

  test("streamed feed maintains an incremental view to recompute-equality") {
    val root = seeded()
    SnapshotTable.publishChanges(spark, root, Seq("n_nationkey"))
    // foreachBatch consumer: fold each micro-batch of change rows into
    // the materialized per-region rollup (batch may span commits —
    // sum/count deltas are order-independent, so that is safe)
    var view = IncrementalView.sumView(
      SnapshotTable.read(spark, root, 1), Seq("n_regionkey"), "n_nationkey")
      .localCheckpoint()
    val q = SnapshotTable.streamChanges(spark, root)
      .filter(col("commit_version") >= 2) // view starts at v1
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        view = IncrementalView.applySumDeltas(
          view, batch, Seq("n_regionkey"), "n_nationkey").localCheckpoint()
      }
      .start()
    try {
      q.processAllAvailable()
      val fresh = IncrementalView.sumView(
        SnapshotTable.read(spark, root), Seq("n_regionkey"), "n_nationkey")
      assert(view.exceptAll(fresh).isEmpty && fresh.exceptAll(view).isEmpty)
    } finally q.stop()
  }

  test("reading and tailing the feed logs no ignored-path warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val root = seeded()
    SnapshotTable.publishChanges(spark, root, Seq("n_nationkey"))
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("cdc-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        warnings.add(e.getMessage.getFormattedMessage); ()
      }
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource").asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      assert(SnapshotTable.readChanges(spark, root).count() === 29L)
      val q = SnapshotTable.streamChanges(spark, root)
        .writeStream.format("memory").queryName("cdc_quiet").start()
      try q.processAllAvailable() finally q.stop()
      assert(spark.table("cdc_quiet").count() === 29L)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    val ignored = warnings.toArray.map(_.toString).filter(_.contains("paths were ignored"))
    if (ignored.nonEmpty) fail(ignored.mkString("\n"))
  }
}
