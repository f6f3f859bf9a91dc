package graft

import graft.functions.SkewRouter
import graft.sources.{SnapshotTable, TableStats}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ENROLLED table statistics (VERDICT r14 item 1): stats maintenance
  * as ENGINE behavior. An enrolled stat is refreshed by the snapshot
  * commit path itself — no recordAppend caller convention — and the
  * `_auto` queries route through the stored scalar with ZERO
  * query-time probe jobs, end-to-end: ingest → stats → route → same
  * rows as the plain form.
  */
class TableStatsIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Count the Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(500) } // job-start events post async
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  /** An events-shaped batch: `n` events for each user, ts spaced to
    * land in one 30-min session per user per batch.
    */
  private def eventsBatch(users: Seq[(Long, Int)], batchId: Long) = {
    import spark.implicits._
    users.flatMap { case (u, n) =>
      (0 until n).map { i =>
        (u, batchId * 1000000L + u * 1000 + i,
          new java.sql.Timestamp(1700000000000L + batchId * 86400000L + i * 60000L),
          "view", (i % 5).toDouble)
      }
    }.toDF("user_id", "event_id", "ts", "event_type", "value")
      .withColumn("batch_id", lit(batchId))
  }

  test("enrolled stat is maintained by commitPartitions ingest, exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-enroll").toString
    val root = s"$dir/events.parquet"
    TableStats.enroll(root, "user_id", Seq("user_id"))

    // CREATE + two appends + one partition OVERWRITE, all through the
    // engine's own commit path — zero manual record calls anywhere
    SnapshotTable.commitPartitions(spark, root, eventsBatch(Seq(1L -> 30, 2L -> 5), 0L), "batch_id")
    SnapshotTable.commitPartitions(spark, root, eventsBatch(Seq(1L -> 20, 3L -> 8), 1L), "batch_id")
    val s1 = TableStats.stored(root, "user_id")
    assert(s1.exists(_.maxKeyRows == 50L), s"expected hot key 50, got $s1")

    // overwrite batch 1: user 1 shrinks 20 → 2, user 4 appears
    SnapshotTable.commitPartitions(spark, root, eventsBatch(Seq(1L -> 2, 4L -> 7), 1L), "batch_id")
    val s2 = TableStats.stored(root, "user_id")
    assert(s2.exists(_.maxKeyRows == 32L),
      s"overwrite must fold old counts out: expected 32, got $s2")

    // counts table ≡ full recompute after the overwrite
    val inc = TableStats.counts(spark, root, "user_id")
    val full = SnapshotTable.read(spark, root)
      .groupBy(col("user_id")).agg(count(lit(1)).as("__ts_n"))
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
      "delta-maintained counts must equal the full recompute")

    // a FULL rewrite (raw commit) re-derives rather than staling
    SnapshotTable.commit(spark, root,
      SnapshotTable.read(spark, root).filter(col("user_id") =!= 1L))
    val s3 = TableStats.stored(root, "user_id")
    assert(s3.exists(_.maxKeyRows == 7L),
      s"full-rewrite commit must recompute the stat: got $s3")
  }

  test("auto query over a stats-bearing table: zero probe jobs, same rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-enroll-q").toString
    val root = s"$dir/events.parquet"
    TableStats.enroll(root, "user_id", Seq("user_id"))
    SnapshotTable.commitPartitions(spark, root, eventsBatch(Seq(1L -> 40, 2L -> 15), 0L), "batch_id")
    SnapshotTable.commitPartitions(spark, root, eventsBatch(Seq(1L -> 10, 3L -> 6), 1L), "batch_id")

    // routing decisions: stored scalar ≡ probe, across thresholds
    // spanning the hot-key count (50)
    val df = SnapshotTable.read(spark, root)
    for (t <- Seq(10L, 49L, 50L, 51L, 1000L)) {
      val stored = SkewRouter.plainWindowSafeForSource(dir, "events",
        df, Seq("user_id"), tag = s"$dir#probe-$t", threshold = t)
      val probed = SkewRouter.plainWindowSafe(
        df, Seq("user_id"), tag = s"$dir#probe-$t", threshold = t)
      assert(stored === probed, s"decision mismatch at threshold $t")
    }

    // END-TO-END: constructing q_sessionize_auto over this dataset
    // runs ZERO Spark jobs — the stored scalar answers the route and
    // no probe, checkpoint, or inference job fires
    Graft.clearCaches()
    var routed: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring {
      routed = SparkEntry.queries("q_sessionize_auto")(spark, dir)
      routed.queryExecution.optimizedPlan
    }
    assert(jobs === 0,
      s"auto-query construction over a stats-bearing table must be job-free, ran $jobs")

    // and the routed rows equal the plain form's rows
    val plain = SparkEntry.queries("q_sessionize")(spark, dir)
    assert(routed.collect().map(_.toString).toSeq ===
      plain.collect().map(_.toString).toSeq)
  }

  test("stats failure or staleness never blocks the commit or the query") {
    val dir = java.nio.file.Files.createTempDirectory("graft-enroll-bad").toString
    val root = s"$dir/t.parquet"
    // enroll on a column the data does NOT have: maintenance fails
    // (advisory), the commit itself must land
    TableStats.enroll(root, "nope", Seq("no_such_col"))
    import spark.implicits._
    val v = SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    assert(v === 1 && SnapshotTable.currentVersion(root) === 1)
    assert(TableStats.stored(root, "nope").isEmpty,
      "failed maintenance leaves no (stale) scalar marked current")
  }

  test("quantile guard consumes the enrolled two-scalar stat: job-free source lookup") {
    val dir = java.nio.file.Files.createTempDirectory("graft-enroll-q2").toString
    val root = s"$dir/lineitem.parquet"
    // two-scalar enrollment: group prefix 1 over (user_id, v) tracks
    // BOTH the hot-key rows and the per-group distinct-value count
    TableStats.enroll(root, "user_id_value", Seq("user_id", "value"), groupPrefix = 1)
    SnapshotTable.commitPartitions(spark, root,
      eventsBatch(Seq(1L -> 30, 2L -> 5), 0L), "batch_id")
    SnapshotTable.commitPartitions(spark, root,
      eventsBatch(Seq(1L -> 20, 3L -> 8), 1L), "batch_id")

    // value takes 5 distinct values within every user (eventsBatch: i % 5)
    var md: Option[Long] = None
    val jobs = jobsDuring {
      md = graft.functions.ExactQuantiles
        .knownMaxDistinctForSource(dir, "lineitem", Seq("user_id"), "value")
    }
    assert(jobs === 0, s"source lookup must be job-free, ran $jobs")
    assert(md === Some(5L), s"per-group distinct scalar: $md")

    // quantile construction over the table with the stored scalar:
    // zero jobs, rows identical to the probe route
    val df = SnapshotTable.read(spark, root)
    var routed: org.apache.spark.sql.DataFrame = null
    val jobs2 = jobsDuring {
      routed = graft.functions.ExactQuantiles.cont(df, Seq("user_id"), "value",
        Seq(0.5 -> "p50"), knownMaxDistinct = md)
      routed.queryExecution.optimizedPlan
    }
    assert(jobs2 === 0, s"stat-routed quantile construction ran $jobs2 jobs")
    val probed = graft.functions.ExactQuantiles.cont(df, Seq("user_id"), "value",
      Seq(0.5 -> "p50"))
    assert(routed.orderBy("user_id").collect().map(_.toString).toSeq ===
      probed.orderBy("user_id").collect().map(_.toString).toSeq)
  }
}
