package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Tables.events adapts to both physical ts encodings the test data
  * has shipped with (TIMESTAMP(MICROS) native, and the earlier
  * int64-nanos surfaced as LongType under nanosAsLong). The current
  * corpus only exercises the native branch; this spec regenerates a
  * legacy-encoded twin and pins that BOTH branches produce identical
  * rows — so the next testdata regeneration can't silently break
  * either path (round 6's bench died exactly here).
  */
class EventsEncodingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("legacy long-nanos events read identically to native timestamps") {
    val native = Tables.events(spark, TestSpark.sf0001)
    assert(native.schema("ts").dataType === TimestampType)

    // legacy twin: ts as int64 nanoseconds (what nanosAsLong surfaces)
    val legacyDir = Artifacts.exitRoot("graft-events-legacy")
    native
      .withColumn("ts", (unix_micros(col("ts")) * 1000L).cast(LongType))
      .write.mode("overwrite").parquet(s"$legacyDir/events.parquet")

    val legacy = Tables.events(spark, legacyDir)
    assert(legacy.schema("ts").dataType === TimestampType,
      "legacy long ts must convert to TimestampType")
    assert(legacy.exceptAll(native).isEmpty && native.exceptAll(legacy).isEmpty,
      "legacy and native encodings must yield identical rows")
  }
}
