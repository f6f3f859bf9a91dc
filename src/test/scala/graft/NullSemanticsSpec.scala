package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Null semantics the parquet fixtures can't exercise (they carry no
  * nulls): outer-join null production, null grouping keys, aggregate
  * null skipping, null-aware ordering, and null-safe equality. These
  * pin the engine's behavior for real-world data.
  */
class NullSemanticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def lhs = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "l")
  private def rhs = Seq((2, "x"), (4, "y")).toDF("k", "r")

  test("outer joins produce nulls on the non-matching side") {
    val left = lhs.join(rhs, Seq("k"), "left").orderBy($"k")
    assert(left.count() === 3)
    assert(left.filter($"r".isNull).count() === 2)
    val full = lhs.join(rhs, Seq("k"), "full")
    assert(full.count() === 4)
    assert(full.filter($"l".isNull).count() === 1) // k=4
  }

  test("null grouping keys form one group; aggregates skip null inputs") {
    val df = Seq(
      (Some("g1"), Some(1.0)), (Some("g1"), None),
      (None, Some(5.0)), (None, Some(7.0))
    ).toDF("g", "v")
    val out = df.groupBy($"g")
      .agg(count(lit(1)).as("rows"), count($"v").as("non_null"),
        sum($"v").as("s"), avg($"v").as("a"))
      .orderBy($"g".asc_nulls_first)
      .collect()
    // null group first
    assert(out(0).isNullAt(0) && out(0).getLong(1) === 2
      && out(0).getLong(2) === 2 && out(0).getDouble(3) === 12.0)
    // g1: count(*) counts the null row, count(v)/sum/avg skip it
    assert(out(1).getString(0) === "g1" && out(1).getLong(1) === 2
      && out(1).getLong(2) === 1 && out(1).getDouble(4) === 1.0)
  }

  test("asc_nulls_first vs asc_nulls_last ordering") {
    val df = Seq(Some(2), None, Some(1)).toDF("x")
    assert(df.orderBy($"x".asc_nulls_first).collect().head.isNullAt(0))
    assert(df.orderBy($"x".asc_nulls_last).collect().last.isNullAt(0))
  }

  test("null-safe equality (<=>) matches null pairs; = does not") {
    val df = Seq((Some(1), Some(1)), (None, None), (Some(2), None))
      .toDF("a", "b")
    assert(df.filter($"a" === $"b").count() === 1)
    assert(df.filter($"a" <=> $"b").count() === 2)
  }

  test("coalesce / nullif round-trip") {
    val df = Seq((Some("x"), "d"), (None, "d")).toDF("v", "dflt")
    val out = df.select(coalesce($"v", $"dflt").as("c"),
      nullif(lit("d"), lit("d")).as("n")).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("x", "d"))
    assert(out.forall(_.isNullAt(1)))
  }

  test("set ops treat null as equal-to-null (distinct semantics)") {
    val a = Seq(Some(1), None, None).toDF("x")
    val b = Seq(Option.empty[Int]).toDF("x")
    assert(a.intersect(b).count() === 1)     // the null row, once
    assert(a.except(b).collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq === Seq(Some(1)))
  }

  test("nearest as-of edge semantics on a fabricated events table") {
    // the fixture corpus has no single-event users, so the null /
    // one-sided / tie branches of q_join_asof_nearest never fire
    // there — fabricate a minimal events.parquet and run the GRADED
    // query fn against it (ts stored as int64 nanos, matching the
    // real table's nanosAsLong read path)
    val us = 1000L * 1000L // one second in µs
    def nanos(sec: Long) = sec * us * 1000L
    val rows = Seq(
      // user 1: lone purchase → no neighbor at all
      (10L, nanos(100), 1L, "purchase", 1.0, "{}"),
      // user 2: purchase then a later click only → fwd
      (20L, nanos(100), 2L, "purchase", 1.0, "{}"),
      (21L, nanos(130), 2L, "click", 1.0, "{}"),
      // user 3: earlier view only → back
      (30L, nanos(70), 3L, "view", 1.0, "{}"),
      (31L, nanos(100), 3L, "purchase", 1.0, "{}"),
      // user 4: equidistant (±20 s) → tie broken backward
      (40L, nanos(80), 4L, "view", 1.0, "{}"),
      (41L, nanos(100), 4L, "purchase", 1.0, "{}"),
      (42L, nanos(120), 4L, "click", 1.0, "{}"))
    val tmp = Artifacts.exitRoot("graft-asof")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SparkEntry.queries("q_join_asof_nearest")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getString(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(out(10L) === ((None, None, None)), s"lone purchase: ${out(10L)}")
    assert(out(20L) === ((Some(21L), Some("fwd"), Some(30L * us))), out(20L).toString)
    assert(out(31L) === ((Some(30L), Some("back"), Some(30L * us))), out(31L).toString)
    assert(out(41L) === ((Some(40L), Some("back"), Some(20L * us))),
      s"tie must break backward: ${out(41L)}")
  }
}
