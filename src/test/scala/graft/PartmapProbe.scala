package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe: measure the commitPartitions file-link fast path against
  * the slow full-compose path on the same data — the number BASELINE
  * cites for "commit cost ∝ touched data, not table size".
  * `sbt "Test/runMain graft.PartmapProbe [rows] [parts]"`
  */
object PartmapProbe {
  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toInt else 2000000
    val parts = if (args.length > 1) args(1).toInt else 20
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def table() = spark.range(rows)
      .select((col("id") % parts).cast("int").as("p"),
        col("id").as("k"), (col("id") * 7 % 1000).as("value"))
    def slice(tag: Int) = spark.range(rows / parts)
      .select(lit(0).as("p"), col("id").as("k"),
        lit(tag).cast("long").as("value"))
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // fast-path table: born through commitPartitions
    val fastRoot = java.nio.file.Files.createTempDirectory("pm-fast").toString
    val (_, tCreate) = time(
      SnapshotTable.commitPartitions(spark, fastRoot, table(), "p"))
    val (_, tFast) = time(SnapshotTable.commitPartitions(spark, fastRoot,
      slice(1), "p", readVersion = SnapshotTable.currentVersion(fastRoot)))

    // slow-path table: born through a flat commit (no partmap)
    val slowRoot = java.nio.file.Files.createTempDirectory("pm-slow").toString
    SnapshotTable.commit(spark, slowRoot, table())
    val (_, tSlow) = time(SnapshotTable.commitPartitions(spark, slowRoot,
      slice(1), "p", readVersion = SnapshotTable.currentVersion(slowRoot)))

    val nFast = SnapshotTable.read(spark, fastRoot).count()
    val nSlow = SnapshotTable.read(spark, slowRoot).count()
    println(f"[partmap] rows=$rows parts=$parts create=$tCreate%.2fs " +
      f"slice_fast=$tFast%.2fs slice_slow=$tSlow%.2fs " +
      f"speedup=${tSlow / tFast}%.1fx rows_fast=$nFast rows_slow=$nSlow")
    spark.stop()
  }
}
