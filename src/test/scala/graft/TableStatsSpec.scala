package graft

import graft.functions.{ExactQuantiles, SkewRouter}
import graft.sources.{SnapshotTable, TableStats}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ingest-maintained routing statistics (VERDICT r13 item 4): per-key
  * counts folded incrementally at commit time, two scalars stored in
  * an atomic sidecar, and the plan routers consuming the stored value
  * with ZERO query-time Spark jobs — with decisions identical to
  * their probe paths, and staleness (a commit that bypassed the
  * record call) degrading to the probe, never to a wrong answer.
  */
class TableStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(tag: String): String =
    Artifacts.exitRoot(s"graft-tstats-$tag")

  private def batch(users: Seq[(Long, Int)], offset: Long) = {
    import spark.implicits._
    users.flatMap { case (u, n) =>
      (0 until n).map(i => (u, offset + u * 1000 + i, (i % 7).toLong))
    }.toDF("user_id", "event_id", "v")
  }

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

  test("incremental counts across appends equal a full recompute; scalars correct") {
    val root = freshRoot("counts")
    val b1 = batch(Seq(1L -> 30, 2L -> 5, 3L -> 5), offset = 0L)
    SnapshotTable.commit(spark, root, b1)
    val s1 = TableStats.recordAppend(spark, root, "by_user",
      Seq("user_id", "v"), b1, groupPrefix = 1)
    // user 1 emits 30 rows over 7 distinct v values
    assert(s1.maxDistinctPerGroup === Some(7L))

    val b2 = batch(Seq(1L -> 20, 4L -> 8), offset = 100000L)
    SnapshotTable.commit(spark, root,
      SnapshotTable.read(spark, root).unionByName(b2))
    val s2 = TableStats.recordAppend(spark, root, "by_user",
      Seq("user_id", "v"), b2, groupPrefix = 1)

    // counts table ≡ recompute from the monitored table
    val inc = TableStats.counts(spark, root, "by_user")
    val full = SnapshotTable.read(spark, root)
      .groupBy(col("user_id"), col("v")).agg(count(lit(1)).as("__ts_n"))
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
      "incrementally-maintained counts must equal the full recompute")

    // scalars: user 1 has 50 rows over ≤14 distinct (user, v) pairs
    val probed = SkewRouter.maxKeyRows(
      SnapshotTable.read(spark, root), Seq("user_id"), tag = s"$root#probe")
    assert(s2.maxKeyRows === probed && probed === 50L)
  }

  test("stored stat: zero query-time jobs, identical routing, stale → probe fallback") {
    val root = freshRoot("route")
    val b1 = batch(Seq(1L -> 40, 2L -> 10), offset = 0L)
    SnapshotTable.commit(spark, root, b1)
    TableStats.recordAppend(spark, root, "by_user",
      Seq("user_id", "v"), b1, groupPrefix = 1)

    val df = SnapshotTable.read(spark, root)
    var safeStored = false
    val jobs = jobsDuring {
      safeStored = SkewRouter.plainWindowSafeForTable(root, "by_user",
        df, Seq("user_id"), tag = s"$root#never-probed", threshold = 100L)
    }
    assert(jobs === 0, "stored stat must answer with zero Spark jobs")
    // identical decision to the probe path
    assert(safeStored === SkewRouter.plainWindowSafe(
      df, Seq("user_id"), tag = s"$root#probed", threshold = 100L))
    // and the stat flips the decision at a threshold below the hot key
    assert(!SkewRouter.plainWindowSafeForTable(root, "by_user",
      df, Seq("user_id"), tag = s"$root#never-probed2", threshold = 10L))

    // a commit that bypasses recordAppend STALES the stat: stored()
    // refuses it and the router falls back to the probe
    SnapshotTable.commit(spark, root,
      SnapshotTable.read(spark, root)
        .unionByName(batch(Seq(9L -> 3), offset = 500000L)))
    assert(TableStats.stored(root, "by_user").isEmpty,
      "a bypassing commit must invalidate the stored scalars")
    assert(SkewRouter.plainWindowSafeForTable(root, "by_user",
      df, Seq("user_id"), tag = s"$root#fallback", threshold = 100L),
      "stale stat must fall back to the probe (40-row hot key is safe at 100)")
  }

  test("ExactQuantiles with the stored stat: lazy construction, both routes identical") {
    val root = freshRoot("quant")
    val b1 = batch(Seq(1L -> 40, 2L -> 25, 3L -> 10), offset = 0L)
    SnapshotTable.commit(spark, root, b1)
    val stat = TableStats.recordAppend(spark, root, "by_user",
      Seq("user_id", "v"), b1, groupPrefix = 1)
    val df = SnapshotTable.read(spark, root).localCheckpoint()

    // stat-routed construction runs ZERO jobs (no checkpoint, no
    // windowSafe probe — the 100 TB first-query-latency win)
    var routed: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring {
      routed = ExactQuantiles.cont(df, Seq("user_id"), "v",
        Seq(0.5 -> "p50", 0.9 -> "p90"),
        knownMaxDistinct = stat.maxDistinctPerGroup)
      routed.queryExecution.optimizedPlan
    }
    assert(jobs === 0, "stat-routed quantile construction must be job-free")

    // results identical across: stat-routed window, probed route, and
    // a stat above the guard forcing the PrefixSum route
    val probed = ExactQuantiles.cont(df, Seq("user_id"), "v",
      Seq(0.5 -> "p50", 0.9 -> "p90"))
    val forced = ExactQuantiles.cont(df, Seq("user_id"), "v",
      Seq(0.5 -> "p50", 0.9 -> "p90"),
      knownMaxDistinct = Some(ExactQuantiles.SaturationGuard + 1))
    val a = routed.orderBy("user_id").collect().map(_.toString).toSeq
    assert(a === probed.orderBy("user_id").collect().map(_.toString).toSeq)
    assert(a === forced.orderBy("user_id").collect().map(_.toString).toSeq)
  }
}
