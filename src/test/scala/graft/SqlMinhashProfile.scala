package graft

/** Dev tool: time q_sql_minhash_dedup's stages separately at any SF.
  * `SPARK_GRAFT_SF_DIR=... SPARK_DRIVER_MEM=32g
  *  sbt "Test/runMain graft.SqlMinhashProfile"`
  */
object SqlMinhashProfile {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[sqlmh] $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s  rows=$n")
    }
    Graft.warmAll(spark, d)
    graft.queries.Dedup.registerMinhashViews(spark, d)
    time("sig view scan")(spark.sql("SELECT count(*) FROM minhash_sig_sqt").head().getLong(0))
    time("sh view scan")(spark.sql("SELECT count(*) FROM minhash_sh_sqt").head().getLong(0))
    time("ok buckets")(spark.sql("""
      SELECT count(*) FROM (SELECT band, sig FROM minhash_sig_sqt
      GROUP BY band, sig HAVING count(*) BETWEEN 2 AND 10)""").head().getLong(0))
    time("candidates")(spark.sql("""
      WITH ok AS (SELECT band, sig FROM minhash_sig_sqt
        GROUP BY band, sig HAVING count(*) BETWEEN 2 AND 10)
      SELECT count(*) FROM (
        SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        FROM minhash_sig_sqt a JOIN ok USING (band, sig)
        JOIN minhash_sig_sqt b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)""")
      .head().getLong(0))
    time("ratio-surviving pairs")(spark.sql("""
      WITH ok AS (SELECT band, sig FROM minhash_sig_sqt
        GROUP BY band, sig HAVING count(*) BETWEEN 2 AND 10),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        FROM minhash_sig_sqt a JOIN ok USING (band, sig)
        JOIN minhash_sig_sqt b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      sz AS (SELECT doc_id, size(shingles) AS n FROM minhash_sh_sqt)
      SELECT count(*) FROM cand
      JOIN sz s1 ON doc1 = s1.doc_id JOIN sz s2 ON doc2 = s2.doc_id
      WHERE least(s1.n, s2.n) >= 0.1 * greatest(s1.n, s2.n)""")
      .head().getLong(0))
    val full = SparkEntry.queries("q_sql_minhash_dedup")(spark, d)
    time("full")(full.count())
    time("full (2nd)")(full.count())
    spark.stop()
  }
}
