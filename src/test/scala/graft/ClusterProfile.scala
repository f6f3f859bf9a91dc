package graft

/** Dev tool: time the q_dedup_cluster phases separately.
  * `sbt "Test/runMain graft.ClusterProfile [sfDir]"`
  */
object ClusterProfile {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[cl] $label%-32s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }
    Tables.documents(spark, d).count() // warmup

    // phase 1: the minhash pair pipeline alone
    time("minhashPairs count") {
      graft.queries.Dedup.dedupMinhash.fn(spark, d).count()
    }
    // phase 2: the full cluster query (re-runs pairs + loop)
    time("q_dedup_cluster full") {
      graft.queries.Dedup.dedupCluster.fn(spark, d).count()
    }
    // phase 3: again, warm
    time("q_dedup_cluster full (warm)") {
      graft.queries.Dedup.dedupCluster.fn(spark, d).count()
    }
    spark.stop()
  }
}
