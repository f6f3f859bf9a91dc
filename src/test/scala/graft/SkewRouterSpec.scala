package graft

import graft.functions.SkewRouter
import graft.queries.EventsTime
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Engine-chosen skew strategy (r13): the router must pick the plain
  * per-key window on uniform keys and the two-level rewrite on a
  * giant key, both routes must produce the identical session table,
  * and the statistic must be memoized (one probe per tag).
  */
class SkewRouterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Synthetic events: `hotRows` events under user 1 in one burst-gap
    * pattern + a uniform tail of 50 users × 20 events.
    */
  private def skewedEvents(hotRows: Int) = {
    import spark.implicits._
    val base = 1700000000000000L // µs epoch
    val hot = (0 until hotRows).map { i =>
      // alternate gaps: mostly 1 min (same session), every 100th event
      // jumps 31 min (new session) — multi-day, multi-session hot key
      (1L, i.toLong, base + i.toLong * 60000000L +
        (i / 100).toLong * 1860000000L, (i % 7).toDouble)
    }
    val cold = for (u <- 2 to 51; i <- 0 until 20)
      yield (u.toLong, (1000000 + u * 100 + i).toLong,
        base + i.toLong * 120000000L, i.toDouble)
    (hot ++ cold)
      .toDF("user_id", "event_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      // deterministic event_type mix for the asof/attribution/markov/
      // paths families (clicks+views interleaved with purchases)
      .withColumn("event_type",
        element_at(
          typedLit(Seq("view", "click", "purchase", "view", "signup",
            "click", "view")),
          (pmod(col("event_id"), lit(7)) + 1).cast("int")))
      .select("user_id", "event_id", "ts", "event_type", "value")
  }

  test("router stat: exact hot-key count, memoized per tag") {
    val ev = skewedEvents(3000).localCheckpoint()
    assert(SkewRouter.maxKeyRows(ev, Seq("user_id"), "spec#a") === 3000L)
    // memoization: a different df under the SAME tag returns the
    // cached stat (the probe ran once)
    val other = skewedEvents(5).localCheckpoint()
    assert(SkewRouter.maxKeyRows(other, Seq("user_id"), "spec#a") === 3000L)
    // fresh tag: re-probes (cold users carry 20 rows each — the max)
    assert(SkewRouter.maxKeyRows(other, Seq("user_id"), "spec#b") === 20L)
  }

  test("crossover choice: uniform keys route plain, a giant key routes 2level") {
    val ev = skewedEvents(3000).localCheckpoint()
    // threshold between the 20-row cold keys and the 3000-row hot key
    assert(!SkewRouter.plainWindowSafe(ev, Seq("user_id"), "spec#hot",
      threshold = 500L), "the hot key must trip the router")
    assert(SkewRouter.plainWindowSafe(
      ev.filter(col("user_id") > 1L), Seq("user_id"), "spec#cold",
      threshold = 500L), "uniform keys must keep the plain window")
  }

  test("both routes produce the identical session table on the skew corpus") {
    val ev = skewedEvents(3000).localCheckpoint()
    val plain = EventsTime.sessionsPlain(ev).collect().map(_.toString)
    val two = EventsTime.sessions2Level(ev).collect().map(_.toString)
    assert(plain.length > 51, "corpus must produce multi-session users")
    assert(plain.toSeq === two.toSeq,
      "plain and 2level must be row-identical — routing is invisible")
  }

  // r14 (VERDICT r13 item 1): every auto-routed family's two routes
  // must be row-identical on the skew corpus — the equivalence that
  // makes the router's choice invisible to results.

  test("as-of join: plain ≡ 2level on the skew corpus") {
    val ev = skewedEvents(3000).localCheckpoint()
    val plain = queries.Joins.asofPlain(ev).collect().map(_.toString)
    val two = queries.Joins.asof2Level(ev).collect().map(_.toString)
    assert(plain.nonEmpty, "fixture must contain purchases")
    assert(plain.toSeq === two.toSeq)
  }

  test("attribution: plain ≡ 2level on the skew corpus") {
    val ev = skewedEvents(3000).localCheckpoint()
    val plain = EventsTime.attributionPlain(ev).collect().map(_.toString)
    val two = EventsTime.attribution2LevelOf(ev).collect().map(_.toString)
    assert(plain.nonEmpty)
    assert(plain.toSeq === two.toSeq)
  }

  test("markov transitions: plain ≡ 2level on the skew corpus") {
    val ev = skewedEvents(3000).localCheckpoint()
    val plain = queries.Lifecycle.markovPlain(ev).collect().map(_.toString)
    val two = queries.Lifecycle.markov2Level(ev).collect().map(_.toString)
    assert(plain.nonEmpty)
    assert(plain.toSeq === two.toSeq)
  }

  test("event paths: plain ≡ 2level on the skew corpus") {
    val ev = skewedEvents(3000).localCheckpoint()
    val plain = queries.Lifecycle.eventPathsPlain(ev).collect().map(_.toString)
    val two = queries.Lifecycle.eventPaths2LevelOf(ev).collect().map(_.toString)
    assert(plain.nonEmpty)
    assert(plain.toSeq === two.toSeq)
  }

  /** Each family's auto query consults the SHARED memoized hot-key
    * stat for its dataset tag: seeding the stat above/below the
    * threshold (the ingest-maintained path — SkewRouter.recordStat)
    * must flip every family between the plain plan and the
    * (user, day)-bucketed plan with zero probe jobs. The 2level plan
    * is identified by its `to_date` day-bucketing (no plain form
    * derives a day column).
    */
  test("auto queries route plain vs 2level from the seeded stat, per family") {
    val dir = java.nio.file.Paths.get(Artifacts.exitRoot("graft-skewroute"))
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"))
    val d = dir.toString
    // 2level-route marker per family: the day-bucketed pipelines show
    // their to_date bucketing; q_event_paths_2level checkpoints its
    // bounded candidate slice since r17 (the to_date sits behind the
    // LogicalRDD leaf), so its marker is the merge-join's mday column
    val autos = Seq(
      EventsTime.sessionizeAuto -> "to_date",
      queries.Joins.joinAsOfAuto -> "to_date",
      EventsTime.attributionAuto -> "to_date",
      queries.Lifecycle.markovTransitionsAuto -> "to_date",
      queries.Lifecycle.eventPathsAuto -> "mday")
    SkewRouter.recordStat(spark, s"$d#events.user_id", SkewRouter.HotKeyRows + 1)
    autos.foreach { case (q, marker) =>
      val plan = q.fn(spark, d).queryExecution.analyzed.toString
      assert(plan.contains(marker),
        s"${q.name} must take the 2level route above the threshold")
    }
    SkewRouter.recordStat(spark, s"$d#events.user_id", 100L)
    autos.foreach { case (q, marker) =>
      val plan = q.fn(spark, d).queryExecution.analyzed.toString
      assert(!plan.contains(marker),
        s"${q.name} must take the plain route below the threshold")
    }
  }
}
