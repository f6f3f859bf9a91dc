package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Randomized PRUNING-correctness battery: file skipping is the one
  * snapshot feature whose failure mode is silently MISSING rows (a
  * stale or mis-escaped manifest line prunes a file that still holds
  * matching data), so it gets the same treatment SnapshotFuzzSpec
  * gave the merge/CDC surface — random op sequences, but with Spark
  * itself as the oracle: at every committed version, a manifest-driven
  * pruned read must equal the full-scan read under the same predicate
  * (`readPruned ≡ read.filter(between)`, `readPoint ≡
  * read.filter(=)`), no model needed. The conservative-fallback
  * contract (files or versions without manifest lines are KEPT) means
  * the invariant must hold across ops that drop, copy, or regenerate
  * manifests: replace-commits with stats/sets, merges (no manifests),
  * DV deletes (manifests copied — ranges widen, stays conservative),
  * compaction (recommits, sometimes re-collecting stats), restores.
  *
  * The string pool is deliberately adversarial for the manifest
  * encoding: literal tabs and backslash-escape lookalikes (the TSV
  * frame), a literal U+0001 (the set separator), quotes, empty string, and a
  * value equal to the OVERFLOW sentinel — each must round-trip
  * through escapeVal or the set probe misses (= wrong prune).
  */
class SnapshotPruneFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  // every table this suite creates, deleted when the suite ends
  private val tables = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def tmp(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-prunefuzz-").toString
    tables.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try tables.forEach(d => SnapshotTable.deleteTree(java.nio.file.Paths.get(d)))
    finally super.afterAll()

  // adversarial category values; '' and separator/escape collisions
  // target the sets manifest, the rest are ordinary dictionary keys
  private val catPool: Vector[String] = Vector(
    "alpha", "beta", "gamma", "", "with\ttab", "with\\x01fake",
    "\u0001sep", "a'quote", "\\0OVERFLOW", "naïve")

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("num", DoubleType),
    StructField("cat", StringType)))

  /** layout 0 = hash (files span everything — pruning rarely fires,
    * fallback paths dominate); 1 = range-partitioned on num (narrow
    * min/max per file — stats pruning actually skips files); 2 =
    * hash on cat (few distinct values per file — set pruning actually
    * skips files). Mixing layouts keeps both the prune-fires and the
    * conservative-keep branches under test.
    */
  private def rowsDf(rows: Seq[(Long, Double, String)], parts: Int,
      layout: Int): DataFrame = {
    val jrows = new java.util.ArrayList[Row]()
    rows.foreach { case (k, n, c) => jrows.add(Row(k, n, c)) }
    val df = spark.createDataFrame(jrows, schema)
    layout match {
      case 1 => df.repartitionByRange(parts, col("num"))
      case 2 => df.repartition(parts, col("cat"))
      case _ => df.repartition(parts)
    }
  }

  private def collectSet(df: DataFrame): Seq[String] =
    df.select(col("k"), col("num"), col("cat")).collect()
      .map(r => s"${r.getLong(0)}|${r.getDouble(1)}|${r.getString(2)}")
      .sorted.toSeq

  test("30 randomized op sequences: pruned reads equal full-scan reads at every version") {
    val seed = 20260815L
    for (scenario <- 0 until 30) {
      val rnd = new scala.util.Random(seed + scenario)
      val root = tmp()

      def randRows(n: Int): Seq[(Long, Double, String)] =
        (0 until n).map { _ =>
          (rnd.nextInt(40).toLong,
            (rnd.nextInt(400) - 200) / 4.0, // negatives + fractions
            catPool(rnd.nextInt(catPool.length)))
        }.groupBy(_._1).map(_._2.head).toSeq // unique keys for merge

      def commitOp(): Unit = {
        val withManifests = rnd.nextBoolean()
        SnapshotTable.commit(spark, root,
          rowsDf(randRows(8 + rnd.nextInt(25)), 2 + rnd.nextInt(3), rnd.nextInt(3)),
          statsCols = if (withManifests) Seq("num", "cat") else Nil,
          setCols = if (withManifests) Seq("cat") else Nil,
          setCap = if (rnd.nextInt(4) == 0) 2 else 1024, // exercise OVERFLOW
          // bloom leg rides the same fuzz: cat hits the set-first path
          // (bloom consulted only on OVERFLOW/absent lines), k has no
          // set lines at all so every k probe goes straight to bloom
          bloomCols = if (withManifests && rnd.nextBoolean()) Seq("cat", "k") else Nil)
      }

      def mergeOp(): Unit =
        SnapshotTable.mergeByKey(spark, root,
          rowsDf(randRows(1 + rnd.nextInt(8)), 1 + rnd.nextInt(2), 0), Seq("k"))

      def deleteOp(): Unit = rnd.nextInt(2) match {
        case 0 => SnapshotTable.deleteWhere(spark, root,
          s"k % ${2 + rnd.nextInt(4)} = 0")
        case _ =>
          val v = catPool(rnd.nextInt(catPool.length)).replace("'", "''")
          SnapshotTable.deleteWhere(spark, root, s"cat = '$v'")
      }

      def compactOp(): Unit =
        SnapshotTable.compactFiles(spark, root, targetFileBytes = 1L << 14,
          rebalance = rnd.nextBoolean(),
          statsCols = if (rnd.nextBoolean()) Seq("num", "cat") else Nil)

      def restoreOp(): Unit = {
        val cur = SnapshotTable.currentVersion(root)
        if (cur >= 2) SnapshotTable.restore(spark, root, 1 + rnd.nextInt(cur))
      }

      commitOp() // seed with a stats/sets-bearing or bare version
      val nOps = 3 + rnd.nextInt(3)
      for (_ <- 0 until nOps) rnd.nextInt(10) match {
        case n if n <= 3 => commitOp()
        case 4 | 5 => mergeOp()
        case 6 | 7 => deleteOp()
        case 8 => compactOp()
        case _ => restoreOp()
      }

      // ---- the oracle: full scan vs manifest-driven reads ----------
      for (v <- 1 to SnapshotTable.currentVersion(root)) {
        val full = SnapshotTable.read(spark, root, v)

        // numeric range over num (random bounds, sometimes inverted
        // = empty, sometimes the full range)
        val a = (rnd.nextInt(400) - 200) / 4.0
        val b = (rnd.nextInt(400) - 200) / 4.0
        val (lo, hi) = if (rnd.nextInt(5) == 0) (a, b)
          else (math.min(a, b), math.max(a, b))
        val gotNum = collectSet(SnapshotTable.readPruned(spark, root,
          "num", lo.toString, hi.toString, numeric = true, version = v))
        val wantNum = collectSet(full.filter(col("num").between(lo, hi)))
        assert(gotNum === wantNum,
          s"scenario $scenario (seed ${seed + scenario}) v$v num[$lo,$hi]: " +
            s"pruned ${gotNum.size} rows, full scan ${wantNum.size}")

        // lexicographic range over cat (also exercises stats escaping)
        val c1 = catPool(rnd.nextInt(catPool.length))
        val c2 = catPool(rnd.nextInt(catPool.length))
        val (cl, ch) = if (c1 <= c2) (c1, c2) else (c2, c1)
        val gotCat = collectSet(SnapshotTable.readPruned(spark, root,
          "cat", cl, ch, numeric = false, version = v))
        val wantCat = collectSet(full.filter(col("cat").between(cl, ch)))
        assert(gotCat === wantCat,
          s"scenario $scenario (seed ${seed + scenario}) v$v cat[$cl,$ch] mismatch")

        // point lookup through the value-set manifest (present and
        // absent values both matter: a false prune on a present value
        // loses rows, a false keep on an absent one is only slow)
        val pv = catPool(rnd.nextInt(catPool.length))
        val gotPoint = collectSet(SnapshotTable.readPoint(spark, root,
          "cat", pv, version = v))
        val wantPoint = collectSet(full.filter(col("cat") === lit(pv)))
        assert(gotPoint === wantPoint,
          s"scenario $scenario (seed ${seed + scenario}) v$v point '$pv' mismatch")

        // conjunctive point read: set-pruned cat ∩ bloom-pruned k —
        // a bloom false NEGATIVE here silently loses rows, which is
        // exactly what the battery exists to catch
        val pv2 = catPool(rnd.nextInt(catPool.length))
        val kk = rnd.nextInt(40).toLong
        val gotAll = collectSet(SnapshotTable.readPointAll(spark, root,
          Seq("cat" -> pv2, "k" -> kk.toString), version = v))
        val wantAll = collectSet(
          full.filter(col("cat") === lit(pv2) && col("k") === lit(kk)))
        assert(gotAll === wantAll,
          s"scenario $scenario (seed ${seed + scenario}) v$v " +
            s"conjunctive ('$pv2', $kk) mismatch")
      }
    }
  }
}
