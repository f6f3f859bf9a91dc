package graft

import graft.functions.PrefixSum
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws for the distributed two-pass rank/cumsum primitive: its
  * outputs must be BIT-IDENTICAL to the single-partition
  * `Window.orderBy(...)` it replaces (that is what keeps the rewritten
  * queries' DuckDB oracles green), regardless of how the range
  * boundaries land, including adversarial cases: heavy duplicate sort
  * prefixes, groups, descending orders, negative values, and inputs
  * smaller than the bucket count.
  */
class PrefixSumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // deterministic pseudo-random rows: (group, key, tiebreak, value)
  private lazy val rows = (1 to 5000).map { i =>
    val h = i * 2654435761L % 104729
    (s"g${h % 3}", h % 97, i.toLong, (h % 1000) - 500)
  }
  private lazy val df =
    rows.toDF("g", "k", "tb", "v").repartition(7).localCheckpoint()

  test("global rank + running sum + totals match the one-partition window") {
    val w = Window.orderBy(col("k"), col("tb"))
    val expected = df
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cs", sum(col("v"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("v")).over(Window.partitionBy()))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    val actual = PrefixSum.attach(df, Nil, Seq(col("k"), col("tb")),
      rank = Some("rk"), sums = Seq("v" -> "cs"),
      totals = Seq("v" -> "tot"), countTotal = Some("n"))
    assert(actual.exceptAll(expected).isEmpty && expected.exceptAll(actual).isEmpty,
      "distributed prefix diverged from the global window")
  }

  test("descending order with duplicate keys matches") {
    val w = Window.orderBy(col("k").desc, col("tb"))
    val expected = df.withColumn("rk", row_number().over(w).cast("long"))
    val actual = PrefixSum.attach(df, Nil, Seq(col("k").desc, col("tb")),
      rank = Some("rk"))
    assert(actual.exceptAll(expected).isEmpty && expected.exceptAll(actual).isEmpty)
  }

  test("grouped running sum restarts per group and totals are per-group") {
    val w = Window.partitionBy(col("g")).orderBy(col("k"), col("tb"))
    val order = Seq("g", "k", "tb", "v", "rk", "cs", "tot", "n").map(col)
    val expected = df
      .withColumn("cs", sum(col("v"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("v")).over(Window.partitionBy(col("g"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(order: _*)
    val actual = PrefixSum.attach(df, Seq("g"), Seq(col("k"), col("tb")),
      rank = Some("rk"), sums = Seq("v" -> "cs"),
      totals = Seq("v" -> "tot"), countTotal = Some("n"))
      .select(order: _*)
    assert(actual.exceptAll(expected).isEmpty && expected.exceptAll(actual).isEmpty)
  }

  test("input smaller than the bucket count still ranks correctly") {
    val tiny = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
    val out = PrefixSum.attach(tiny, Nil, Seq(col("id")),
      rank = Some("rk"), sums = Seq("v" -> "cs")).orderBy(col("id"))
      .select(col("rk"), col("cs")).as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 10L), (2L, 30L), (3L, 60L)))
  }

  test("null group keys are kept and ranked (null-safe pass-3 join)") {
    // pass 1's groupBy keeps a null group; a plain equi-join back would
    // silently drop those rows — the <=> join must keep all 5
    val withNulls = Seq(
      (Option("a"), 1L, 10L), (Option.empty[String], 2L, 20L),
      (Option("a"), 3L, 30L), (Option.empty[String], 4L, 40L),
      (Option("b"), 5L, 50L)).toDF("g", "tb", "v")
    val w = Window.partitionBy(col("g")).orderBy(col("tb"))
    val expected = withNulls
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cs", sum(col("v"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
    val actual = PrefixSum.attach(withNulls, Seq("g"), Seq(col("tb")),
      rank = Some("rk"), sums = Seq("v" -> "cs"), countTotal = Some("n"))
    assert(actual.count() == 5, "null-group rows vanished from the output")
    assert(actual.exceptAll(expected).isEmpty && expected.exceptAll(actual).isEmpty,
      "null-group ranks/sums diverged from the window")
  }

  test("global running min (incl + excl) matches the one-partition window") {
    val w = Window.orderBy(col("k"), col("tb"))
    val expected = df
      .withColumn("mi", min(col("v"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("mp", min(col("v"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
    val actual = PrefixSum.attach(df, Nil, Seq(col("k"), col("tb")),
      mins = Seq("v" -> "mi"), minsExcl = Seq("v" -> "mp"))
    assert(actual.exceptAll(expected).isEmpty && expected.exceptAll(actual).isEmpty,
      "distributed running min diverged from the global window")
    // the exclusive min is null on exactly the first row of the order
    assert(actual.filter(col("mp").isNull).count() == 1)
  }

  test("grouped running min restarts per group; nulls and NaN follow Spark min") {
    // null values are skipped by min; NaN orders LARGEST (Spark
    // semantics) — the offset merge across slices must agree with the
    // pass-3 window on both
    val data = Seq(
      ("a", 1L, Option(5.0)), ("a", 2L, Option.empty[Double]),
      ("a", 3L, Option(Double.NaN)), ("a", 4L, Option(2.0)),
      ("b", 1L, Option(Double.NaN)), ("b", 2L, Option(7.0)),
      ("b", 3L, Option.empty[Double]), ("c", 1L, Option.empty[Double]))
      .toDF("g", "tb", "v").repartition(5)
    val w = Window.partitionBy(col("g")).orderBy(col("tb"))
    val expected = data
      .withColumn("mi", min(col("v"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("mp", min(col("v"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
    val actual = PrefixSum.attach(data, Seq("g"), Seq(col("tb")),
      mins = Seq("v" -> "mi"), minsExcl = Seq("v" -> "mp"))
    assert(actual.exceptAll(expected).isEmpty && expected.exceptAll(actual).isEmpty,
      "grouped running min diverged (null/NaN handling)")
  }

  test("string running min follows Spark's UTF-8 binary order, not UTF-16") {
    // U+FFFF is a single 3-byte UTF-8 sequence; U+10000 encodes as 4
    // bytes (and as a 0xD800 surrogate in UTF-16) — Java string `<`
    // ranks U+10000 BELOW U+FFFF while Spark's UTF8String binary
    // order ranks it ABOVE. The offset merge across slices must agree
    // with the in-slice window (Spark's order) or the merged min
    // flips across a partition boundary.
    val data = (1 to 64).map { i =>
      val v = if (i % 2 == 0) "￿" else new String(Character.toChars(0x10000))
      (i.toLong, v)
    }.toDF("tb", "v").repartition(8)
    val w = Window.orderBy(col("tb"))
    val expected = data
      .withColumn("mi", min(col("v"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val actual = PrefixSum.attach(data, Nil, Seq(col("tb")),
      mins = Seq("v" -> "mi"))
    assert(actual.exceptAll(expected).isEmpty && expected.exceptAll(actual).isEmpty,
      "string min ordering diverged from Spark across partitions")
  }

  test("high-cardinality groups: grouped attach equals the window route bit-identically") {
    // ~2 rows per group → the per-(slice, group) partials are
    // data-sized; the prefix path must still give exactly the answer
    // of the plain partitioned window (attachAuto's window route)
    val many = (1 to 500).map { i =>
      (i.toLong % 251, i.toLong, (i * 7).toLong % 100)
    }.toDF("g", "tb", "v").repartition(5)
    def run(f: => org.apache.spark.sql.DataFrame): Seq[String] =
      f.orderBy(col("g"), col("tb")).collect().map(_.toString).toSeq
    val prefix = run(PrefixSum.attach(many, Seq("g"), Seq(col("tb")),
      rank = Some("rk"), sums = Seq("v" -> "cs"),
      totals = Seq("v" -> "tot"), countTotal = Some("n")))
    val window = run(PrefixSum.attachAuto(many, Seq("g"), Seq(col("tb")),
      rank = Some("rk"), sums = Seq("v" -> "cs"),
      totals = Seq("v" -> "tot"), countTotal = Some("n"),
      maxWindowDistinct = Long.MaxValue))
    assert(prefix.size == 500)
    assert(prefix === window, "grouped prefix path diverged from the window route")
  }

  test("grouped construction starts no more Spark jobs than the global path") {
    // nothing is collected to the driver while the plan is built: a
    // grouped order pays the same lazy range checkpoint as a global one
    def jobsDuring(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try { body; Thread.sleep(500) } // job-start events post async
      finally spark.sparkContext.removeSparkListener(l)
      jobs.get()
    }
    def construct(groups: Seq[String]): Unit = {
      PrefixSum.attach(df, groups, Seq(col("k"), col("tb")),
        rank = Some("rk"), sums = Seq("v" -> "cs"),
        totals = Seq("v" -> "tot"), countTotal = Some("n"),
        mins = Seq("v" -> "mi"), minsExcl = Seq("v" -> "mp"))
      ()
    }
    construct(Nil); construct(Seq("g")) // warm: first-touch jobs don't count
    val global = jobsDuring(construct(Nil))
    val grouped = jobsDuring(construct(Seq("g")))
    assert(grouped <= global,
      s"grouped construction ran $grouped jobs, global ran $global")
  }

  test("empty input yields an empty result with the attached columns") {
    val empty = Seq.empty[(Long, Long)].toDF("id", "v")
    val out = PrefixSum.attach(empty, Nil, Seq(col("id")),
      rank = Some("rk"), sums = Seq("v" -> "cs"))
    assert(out.columns.contains("rk") && out.columns.contains("cs"))
    assert(out.count() == 0)
  }

  test("ntileFromRank reproduces SQL ntile for every n in 1..40, k in 1..7") {
    for (k <- 1 to 7) {
      val n = 40
      val base = (1 to n).map(i => (i.toLong, i.toLong)).toDF("id", "x")
      val expected = base.select(col("id"),
        ntile(k).over(Window.orderBy(col("id"))).cast("long").as("t"))
      val actual = base.select(col("id"),
        PrefixSum.ntileFromRank(col("id"), lit(n.toLong), k).as("t"))
      assert(actual.exceptAll(expected).isEmpty && expected.exceptAll(actual).isEmpty,
        s"ntile mismatch at k=$k")
      // and for every prefix size n' < n (exercises q=0 and rem=0 paths)
      for (np <- Seq(1, k - 1, k, k + 1, 2 * k, 2 * k + 1).filter(_ >= 1)) {
        val b2 = (1 to np).map(i => (i.toLong, i.toLong)).toDF("id", "x")
        val e2 = b2.select(col("id"),
          ntile(k).over(Window.orderBy(col("id"))).cast("long").as("t"))
        val a2 = b2.select(col("id"),
          PrefixSum.ntileFromRank(col("id"), lit(np.toLong), k).as("t"))
        assert(a2.exceptAll(e2).isEmpty && e2.exceptAll(a2).isEmpty,
          s"ntile mismatch at k=$k n=$np")
      }
    }
  }

  test("results are bucket-count-independent: shuffle.partitions 4 vs 9 agree") {
    // buckets come from spark.sql.shuffle.partitions; the rank/cumsum
    // contract must not depend on how many range slices carve the
    // order (the cluster-sizing knob), only on the total order itself
    def attachAt(parts: String) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try PrefixSum.attach(df, Seq("g"), Seq(col("k"), col("tb")),
          rank = Some("rk"), sums = Seq("v" -> "cs"))
        .select(col("tb"), col("rk"), col("cs")).localCheckpoint()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val at4 = attachAt("4")
    val at9 = attachAt("9")
    assert(at4.exceptAll(at9).isEmpty && at9.exceptAll(at4).isEmpty,
      "prefix results changed with the bucket count")
  }

  test("rank is partitioning-independent: 1, 3, and 13 input partitions agree") {
    val variants = Seq(1, 3, 13).map { p =>
      PrefixSum.attach(df.repartition(p), Nil, Seq(col("k"), col("tb")),
        rank = Some("rk"), sums = Seq("v" -> "cs"))
        .select(col("tb"), col("rk"), col("cs"))
    }
    for (v <- variants.tail) {
      assert(v.exceptAll(variants.head).isEmpty &&
        variants.head.exceptAll(v).isEmpty,
        "prefix results changed under a different input partitioning")
    }
  }

  test("attachAuto: both routes bit-identical to attach, routing stat respected") {
    val ordered = Seq(col("k"), col("tb"))
    def run(f: => org.apache.spark.sql.DataFrame): Seq[String] =
      f.orderBy(col("g"), col("k"), col("tb"))
        .collect().map(_.toString).toSeq
    val viaAttach = run(PrefixSum.attach(df, Seq("g"), ordered,
      rank = Some("rk"), sums = Seq("v" -> "cs"),
      totals = Seq("v" -> "tot"), countTotal = Some("n")))
    // forced window route (guard above every group size)
    val viaWindow = run(PrefixSum.attachAuto(df, Seq("g"), ordered,
      rank = Some("rk"), sums = Seq("v" -> "cs"),
      totals = Seq("v" -> "tot"), countTotal = Some("n"),
      maxWindowDistinct = Long.MaxValue))
    // forced prefix route (guard below every group size)
    val viaPrefix = run(PrefixSum.attachAuto(df, Seq("g"), ordered,
      rank = Some("rk"), sums = Seq("v" -> "cs"),
      totals = Seq("v" -> "tot"), countTotal = Some("n"),
      maxWindowDistinct = 0L))
    assert(viaWindow === viaAttach, "window route must equal attach")
    assert(viaPrefix === viaAttach, "prefix route must equal attach")
    // no groups: always the prefix path (a group-less window is one task)
    val g = run(PrefixSum.attachAuto(df, Nil, ordered, rank = Some("rk")))
    assert(g === run(PrefixSum.attach(df, Nil, ordered, rank = Some("rk"))))
  }
}
