package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Trigger.AvailableNow bounded backfill: drain exactly what exists,
  * in bounded file chunks, self-terminate, and stay exactly-once
  * across repeated runs through the checkpoint — the operational
  * catch-up contract (EventStreams.backfillAvailableNow).
  */
class AvailableNowSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Write `df` as a single parquet part-file named `name` in dir. */
  private def addFile(df: org.apache.spark.sql.DataFrame, dir: Path, name: String): Unit = {
    val stage = Paths.get(Artifacts.exitRoot("graft-an-stage"))
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
  }

  test("AvailableNow drains present files in bounded chunks, then stops; " +
      "a second run with the same checkpoint is exactly-once") {
    val src = Paths.get(Artifacts.exitRoot("graft-an-src"))
    val sink = Artifacts.exitRoot("graft-an-sink")
    val ckpt = Artifacts.exitRoot("graft-an-ckpt")

    val orders = Tables.orders(spark, TestSpark.sf0001).localCheckpoint()
    val total = orders.count()
    addFile(orders.filter(col("o_orderkey") % 3 === 0), src, "slice0.parquet")
    addFile(orders.filter(col("o_orderkey") % 3 === 1), src, "slice1.parquet")
    addFile(orders.filter(col("o_orderkey") % 3 === 2), src, "slice2.parquet")

    val q = EventStreams.backfillAvailableNow(spark, src.toString, sink, ckpt)
      .getOrElse(fail("non-empty source must start a query"))
    assert(q.awaitTermination(120000), "backfill did not self-terminate")
    assert(!q.isActive, "AvailableNow query must stop after draining")
    // maxFilesPerTrigger=1 → the drain was chunked, not one giant batch
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      s"expected ≥3 non-empty micro-batches, got " +
        q.recentProgress.map(_.numInputRows).mkString(","))
    assert(spark.read.parquet(sink).count() === total)

    // a file arriving AFTER termination is untouched until the next
    // bounded run — which picks up ONLY the new file (no re-delivery:
    // an exact count proves zero duplicates from slices 0-2)
    addFile(orders.limit(50), src, "slice3.parquet")
    assert(spark.read.parquet(sink).count() === total)
    val q2 = EventStreams.backfillAvailableNow(spark, src.toString, sink, ckpt)
      .getOrElse(fail("non-empty source must start a query"))
    assert(q2.awaitTermination(120000), "second backfill did not self-terminate")
    assert(spark.read.parquet(sink).count() === total + 50)
  }

  test("a catch-up against a not-yet-populated source no-ops instead of crashing; " +
      "an explicit schema starts a (trivially empty) bounded run") {
    val src = Paths.get(Artifacts.exitRoot("graft-an-empty"))
    val sink = Artifacts.exitRoot("graft-an-esink")
    val ckpt1 = Artifacts.exitRoot("graft-an-eckpt1")

    // no schema, no files → the nightly cron's "nothing to do" path
    assert(EventStreams.backfillAvailableNow(spark, src.toString, sink, ckpt1).isEmpty,
      "empty source without a schema must no-op")

    // explicit schema → the stream starts, drains zero files, stops
    val ckpt2 = Artifacts.exitRoot("graft-an-eckpt2")
    val schema = Tables.orders(spark, TestSpark.sf0001).schema
    val q = EventStreams.backfillAvailableNow(
      spark, src.toString, sink, ckpt2, schema = Some(schema))
      .getOrElse(fail("explicit schema must start a query"))
    assert(q.awaitTermination(120000), "empty-source backfill did not self-terminate")
    assert(!q.isActive)
  }
}
