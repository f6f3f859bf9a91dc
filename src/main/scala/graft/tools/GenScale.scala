package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (not part of the library surface): scale up a test-data
  * directory by deterministic replication, for scale-validation runs
  * above the driver-shipped sf0.1 (VERDICT r7 item 1: make the
  * 100x-scale design claims measured instead of argued).
  *
  * `GenScale <srcSfDir> <dstDir> <replicas>` writes every TESTDATA.md
  * table as `<dstDir>/<name>.parquet` (a single plain file, the same
  * layout the driver ships, so both Tables.load and the DuckDB oracle
  * in tools/check.py read it unchanged).
  *
  * Replication contract (replica 0 is the identity — the output is a
  * strict superset of the source):
  *   - `region`/`nation` are bounded enum dimensions and are copied
  *     as-is (a 10x corpus still has 5 regions / 25 nations).
  *   - Every entity key (custkey, suppkey, partkey, orderkey,
  *     event_id, user_id, doc_id, vec_id) gets `+ i * 1e8` in replica
  *     i, preserving referential integrity within the replica and
  *     keeping replicas disjoint. Foreign keys into the enum dims
  *     (nationkey) are left alone.
  *   - Entity names get an `_r{i}` suffix so name-keyed groupings see
  *     10x groups, not 10x bigger groups.
  *   - `documents.text` is letter-rotated by i (a..z / A..Z caesar,
  *     other chars fixed): token lengths, whitespace shape and
  *     within-replica near-duplicate structure are preserved exactly
  *     (the same bijection applies to both members of a planted pair),
  *     while cross-replica shingle sets share nothing — so near-dup
  *     DENSITY stays constant as the corpus grows, which is the
  *     realistic scaling for LSH/minhash/CC cost. Naive replication
  *     would instead plant every doc in a 10-way exact-dup group and
  *     blow the pair count up ~9000x — a skew test, not a scale test.
  *   - `embeddings.embedding` gets a per-replica deterministic sign
  *     flip per dimension (replica 0 all +1). Sign flips preserve
  *     norms and all WITHIN-replica dot products ((-a)(-b)=ab) — so
  *     cluster geometry, IVF cells and kNN structure replicate — while
  *     cross-replica cosines decorrelate, keeping near-neighbor
  *     density constant as above.
  *   - Timestamps are unchanged: the 10x corpus covers the same time
  *     range at 10x event density with 10x users — how an event store
  *     actually grows — so sessions per user stay constant and
  *     session/window state scales in users.
  */
object GenScale {
  private val KeyOffset = 100000000L // 1e8: far above any source key

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: GenScale <srcSfDir> <dstDir> <replicas> [skewPctOfEvents]")
    val src = args(0); val dst = args(1); val n = args(2).toInt
    require(n >= 1 && n <= 100, s"replicas out of range: $n")
    // SKEW MODE (VERDICT r9 item 5): reassign skewPct% of ALL events
    // (every replica) to ONE hot user, so the giant-key levers
    // (q_sessionize_2level / q_join_asof_2level) can be measured on
    // the workload they exist for — a key that concentrates a
    // corpus-proportional share of a table. Selection is
    // pmod(event_id, 100) < pct, and the replica key offset (1e8) is
    // divisible by 100, so every replica skews the same event slice
    // deterministically; all other tables are untouched and the
    // corpus stays self-consistent for the DuckDB oracle.
    // optional: "<pct>" or "<pct>:<table,table>" — the table list
    // restricts REPLICATION to those tables (others copy at 1×), for
    // building a targeted stress corpus (e.g. 100× events with a 95%
    // hot user) without paying a 100× lineitem write. A filtered
    // corpus is NOT referentially complete across tables — use it
    // only for queries over the replicated tables.
    val (skewPct, onlyTables) = if (args.length == 4) {
      args(3).split(":") match {
        case Array(p) if p.forall(_.isDigit) => (p.toInt, Set.empty[String])
        case Array(p, ts) if p.forall(_.isDigit) =>
          (p.toInt, ts.split(",").map(_.trim).toSet)
        case _ => throw new IllegalArgumentException(
          s"bad skew argument '${args(3)}' — expected '<pct>' or '<pct>:<table,table>'")
      }
    } else (0, Set.empty[String])
    require(skewPct >= 0 && skewPct < 100, s"skew pct out of range: $skewPct")
    val hotUser = 7L // a base-corpus user id; stays in-range for joins
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.session(s"local[$cpus]", Some(cpus.toInt))
    spark.sparkContext.setLogLevel("WARN")

    val lower = "abcdefghijklmnopqrstuvwxyz"
    def rot(s: String, i: Int) = s.drop(i % 26) + s.take(i % 26)
    // xor-fold of two Knuth multiplicative hashes: deterministic,
    // replica-0-identity sign pattern per (replica, dim)
    def signs(i: Int, dims: Int): Seq[Float] =
      (0 until dims).map { d =>
        if (i == 0) 1f
        else if ((((d * 2654435761L) ^ (i * 0x9E3779B9L)) >>> 13 & 1L) == 0L) 1f else -1f
      }

    def off(c: String, i: Int) = (col(c) + lit(i * KeyOffset)).as(c)
    // Replica key ranges are disjoint ONLY if every source key is
    // below KeyOffset — running GenScale on an already-scaled or
    // larger corpus would silently collide keys across replicas
    // (ADVICE r8), so check instead of assuming.
    def assertKeysBelowOffset(df: DataFrame, name: String, keys: Seq[String]): Unit = {
      val present = keys.filter(df.columns.contains)
      if (present.nonEmpty) {
        // one aggregation pass for all key columns (not one scan each);
        // an empty table aggregates to nulls — trivially collision-free
        val row = df.agg(max(col(present.head)).cast("long"),
          present.tail.map(k => max(col(k)).cast("long")): _*).head
        for ((k, i) <- present.zipWithIndex if !row.isNullAt(i)) {
          val mx = row.getLong(i)
          require(mx < KeyOffset,
            s"$name.$k max $mx >= KeyOffset $KeyOffset — source already scaled? " +
              "Replica key ranges would collide; raise KeyOffset or use the original corpus.")
        }
      }
    }
    def tag(c: String, i: Int) =
      (if (i == 0) col(c) else concat(col(c), lit(s"_r$i"))).as(c)

    val offsetKeys = Seq("c_custkey", "s_suppkey", "p_partkey", "o_orderkey",
      "o_custkey", "l_orderkey", "l_partkey", "l_suppkey", "event_id",
      "user_id", "doc_id", "vec_id")

    def replicate(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      assertKeysBelowOffset(base, name, offsetKeys)
      val reps = if (onlyTables.isEmpty || onlyTables(name)) n else 1
      val out = (0 until reps).map(i => f(base, i)).reduce(_.unionByName(_))
      writeSingle(out, name)
    }

    // single plain parquet FILE per table (the driver's layout —
    // readable by Tables.load, duckdb read_parquet, and pyarrow alike)
    def writeSingle(df: DataFrame, name: String): Unit = {
      val tmp = s"$dst/.tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles.filter(_.getName.endsWith(".parquet")).head
      val target = new java.io.File(s"$dst/$name.parquet")
      if (target.exists()) target.delete()
      require(part.renameTo(target), s"rename failed for $name")
      dir.listFiles.foreach(_.delete()); dir.delete()
      println(s"[genscale] $name: ${spark.read.parquet(target.toString).count()} rows")
    }

    new java.io.File(dst).mkdirs()

    for (name <- Seq("region", "nation"))
      writeSingle(spark.read.parquet(s"$src/$name.parquet"), name)

    replicate("customer")((df, i) => df.select(
      off("c_custkey", i), tag("c_name", i), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment")))

    replicate("supplier")((df, i) => df.select(
      off("s_suppkey", i), tag("s_name", i), col("s_nationkey"), col("s_acctbal")))

    replicate("part")((df, i) => df.select(
      off("p_partkey", i), tag("p_name", i), col("p_brand"), col("p_type"),
      col("p_size"), col("p_retailprice")))

    replicate("orders")((df, i) => df.select(
      off("o_orderkey", i), off("o_custkey", i), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")))

    replicate("lineitem")((df, i) => df.select(
      off("l_orderkey", i), off("l_partkey", i), off("l_suppkey", i),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")))

    replicate("events")((df, i) => df.select(
      off("event_id", i), col("ts"),
      (if (skewPct == 0) off("user_id", i)
       else when(pmod(col("event_id"), lit(100L)) < skewPct, lit(hotUser))
         .otherwise(col("user_id") + lit(i * KeyOffset)).as("user_id")),
      col("event_type"), col("value"), col("props")))

    replicate("documents")((df, i) => df.select(
      off("doc_id", i),
      (if (i == 0) col("text")
       else translate(col("text"),
         lower + lower.toUpperCase, rot(lower, i) + rot(lower, i).toUpperCase)).as("text"),
      col("lang"), col("source"), col("n_chars")))

    val dims = spark.read.parquet(s"$src/embeddings.parquet")
      .selectExpr("size(embedding) d").limit(1).collect()(0).getInt(0)
    replicate("embeddings")((df, i) => df.select(
      off("vec_id", i),
      (if (i == 0) col("embedding")
       else zip_with(col("embedding"), typedLit(signs(i, dims)),
         (x, s) => (x * s).cast("float"))).as("embedding"),
      col("label")))

    spark.stop()
  }
}
