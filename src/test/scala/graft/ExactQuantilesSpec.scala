package graft

import graft.functions.{ExactQuantiles, PrefixSum}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property pins for the scale-safe exact-quantile rewrite (r11):
  * [[ExactQuantiles.cont]] must equal Spark's own value-buffering
  * `percentile` aggregate, and [[ExactQuantiles.disc]] its
  * `percentile_disc`, on randomized data — grouped and global, with
  * heavy duplicate mass (the rank-interval logic's hard case) and
  * integer + fractional value domains. The generator is seeded so a
  * failure reproduces exactly.
  */
class ExactQuantilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val ps = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)

  private def randomDf(rnd: scala.util.Random, n: Int) = {
    import spark.implicits._
    // few distinct values → many duplicates → rank intervals > 1 wide
    (0 until n).map { _ =>
      (s"g${rnd.nextInt(3)}",
        rnd.nextInt(12).toLong,
        rnd.nextInt(40) / 4.0)
    }.toDF("g", "lv", "dv")
  }

  test("cont matches Spark percentile on random grouped data") {
    val rnd = new scala.util.Random(4242L)
    for (round <- 0 until 5) {
      val df = randomDf(rnd, 50 + rnd.nextInt(400)).localCheckpoint()
      for (valueCol <- Seq("lv", "dv")) {
        val got = ExactQuantiles.cont(df, Seq("g"), valueCol,
            ps.map(p => p -> s"q$p"))
          .orderBy("g").collect()
        val pliteral = ps.mkString("array(", "D, ", "D)")
        val want = df.groupBy(col("g"))
          .agg(expr(s"percentile($valueCol, $pliteral)").as("qs"))
          .orderBy("g").collect()
        assert(got.length === want.length, s"round $round $valueCol groups")
        got.zip(want).foreach { case (g, w) =>
          val qs = w.getSeq[Double](1)
          ps.indices.foreach { i =>
            assert(math.abs(g.getDouble(1 + i) - qs(i)) < 1e-9,
              s"round $round $valueCol g=${g.getString(0)} p=${ps(i)}: " +
                s"got ${g.getDouble(1 + i)}, want ${qs(i)}")
          }
        }
      }
    }
  }

  test("cont global (no groups) matches Spark percentile") {
    val rnd = new scala.util.Random(77L)
    val df = randomDf(rnd, 333).localCheckpoint()
    val got = ExactQuantiles.cont(df, Nil, "dv", ps.map(p => p -> s"q$p"))
      .head()
    val pliteral = ps.mkString("array(", "D, ", "D)")
    val want = df.agg(expr(s"percentile(dv, $pliteral)").as("qs"))
      .head().getSeq[Double](0)
    ps.indices.foreach(i =>
      assert(math.abs(got.getDouble(i) - want(i)) < 1e-9, s"p=${ps(i)}"))
  }

  test("disc matches Spark percentile_disc, including non-dyadic p") {
    val rnd = new scala.util.Random(99L)
    // 0.9 / 0.3: not double-representable — the decimal-rank guard's
    // reason to exist; 0.21: the case where ceil(p*n) differs from
    // floor(p*(n-1))+1
    val dps = Seq(0.1, 0.21, 0.3, 0.5, 0.9, 1.0)
    for (round <- 0 until 5) {
      val df = randomDf(rnd, 20 + rnd.nextInt(300)).localCheckpoint()
      val got = ExactQuantiles.disc(df, Seq("g"), "lv",
          dps.map(p => p -> s"q$p"))
        .orderBy("g").collect()
      val aggs = dps.map(p => expr(
        s"percentile_disc(${p}D) WITHIN GROUP (ORDER BY lv)").as(s"w$p"))
      val want = df.groupBy(col("g")).agg(aggs.head, aggs.tail: _*)
        .orderBy("g").collect()
      got.zip(want).foreach { case (g, w) =>
        dps.indices.foreach { i =>
          // ExactQuantiles.disc keeps the value column's own type
          // (long); Spark's percentile_disc always returns double —
          // exact for these small-integer elements
          assert(g.getLong(1 + i) === w.getDouble(1 + i).toLong,
            s"round $round g=${g.getString(0)} p=${dps(i)}")
        }
      }
    }
  }

  test("saturation guard: continuous ~unique values route to PrefixSum, " +
      "saturating integer-cents domain routes to the partitioned window") {
    val rnd = new scala.util.Random(1313L)
    import spark.implicits._
    // q_mad shape: ~99%-unique continuous doubles per group — distinct
    // count tracks the group size, the window partition WOULD serialize
    val contDf = (0 until 600)
      .map(i => (s"g${i % 3}", rnd.nextDouble() * 1e6)).toDF("g", "dv")
    // integer-cents shape: 25-value saturating domain
    val centsDf = (0 until 600)
      .map(_ => (s"g${rnd.nextInt(3)}", rnd.nextInt(25) / 100.0)).toDF("g", "dv")
    // guard sits between the two domains' per-group distinct counts
    val guard = 50L
    val viaPrefix = ExactQuantiles.cont(contDf, Seq("g"), "dv",
      Seq(0.5 -> "m"), maxWindowDistinct = guard)
    val viaWindow = ExactQuantiles.cont(centsDf, Seq("g"), "dv",
      Seq(0.5 -> "m"), maxWindowDistinct = guard)
    // PrefixSum's offset broadcast-join helper column is the route marker
    assert(viaPrefix.queryExecution.executedPlan.toString.contains("__ps_off_"),
      "continuous domain above the guard must take the PrefixSum cumsum")
    assert(!viaWindow.queryExecution.executedPlan.toString.contains("__ps_off_"),
      "saturating domain under the guard must take the plain window")
    // and the routing stat itself, on hand-built distinct tables
    val contDistinct = contDf.groupBy(col("g"), col("dv"))
      .agg(count(lit(1)).as("__eq_c"))
    assert(!PrefixSum.windowSafe(contDistinct, Seq("g"), guard))
    assert(PrefixSum.windowSafe(contDistinct, Seq("g"), Long.MaxValue))
    val centsDistinct = centsDf.groupBy(col("g"), col("dv"))
      .agg(count(lit(1)).as("__eq_c"))
    assert(PrefixSum.windowSafe(centsDistinct, Seq("g"), guard))
    assert(PrefixSum.windowSafe(centsDistinct, Seq("g"), 0L) === false)
  }

  test("both cumulation routes produce bit-identical results") {
    val rnd = new scala.util.Random(2025L)
    val df = randomDf(rnd, 400).localCheckpoint()
    for (valueCol <- Seq("lv", "dv")) {
      // forced window vs forced PrefixSum: rank arithmetic is exact
      // longs on both routes, so even double interpolation must match
      // bit-for-bit
      val w = ExactQuantiles.cont(df, Seq("g"), valueCol,
          ps.map(p => p -> s"q$p"), maxWindowDistinct = Long.MaxValue)
        .orderBy("g").collect()
      val p = ExactQuantiles.cont(df, Seq("g"), valueCol,
          ps.map(p => p -> s"q$p"), maxWindowDistinct = 0L)
        .orderBy("g").collect()
      assert(w.length === p.length)
      w.zip(p).foreach { case (a, b) =>
        assert(a === b, s"$valueCol: window route $a != prefix route $b")
      }
      val dw = ExactQuantiles.disc(df, Seq("g"), "lv",
          Seq(0.3 -> "a", 0.9 -> "b"), maxWindowDistinct = Long.MaxValue)
        .orderBy("g").collect()
      val dp = ExactQuantiles.disc(df, Seq("g"), "lv",
          Seq(0.3 -> "a", 0.9 -> "b"), maxWindowDistinct = 0L)
        .orderBy("g").collect()
      dw.zip(dp).foreach { case (a, b) => assert(a === b) }
    }
  }

  test("no value-buffering aggregate and no single-partition window in the plan") {
    val rnd = new scala.util.Random(5L)
    val df = randomDf(rnd, 200).localCheckpoint()
    for (plan <- Seq(
        ExactQuantiles.cont(df, Seq("g"), "dv", Seq(0.5 -> "m")),
        ExactQuantiles.disc(df, Nil, "lv", Seq(0.9 -> "m")))) {
      val p = plan.queryExecution.executedPlan.toString
      assert(!p.contains("ObjectHashAggregate"),
        "ExactQuantiles must never plan a value-buffering aggregate")
    }
  }
}
