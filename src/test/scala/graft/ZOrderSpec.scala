package graft

import graft.functions.ZOrder
import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order clustering + stats manifest = two-dimensional data
  * skipping: after a Morton-curve layout over (custkey, orderdate),
  * a selective probe on EITHER column prunes files; a plain
  * single-column sort only prunes its own column.
  */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val files = 16

  private def commitLayout(tag: String, zordered: Boolean): String = {
    val root = Artifacts.exitRoot(s"graft-z-$tag")
    val base = Tables.orders(spark, TestSpark.sf001)
      .withColumn("o_days",
        datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long"))
    val laid =
      if (zordered)
        ZOrder.layout(base, col("o_custkey"), col("o_days"), col("o_orderkey"), files)
      else
        base.repartitionByRange(files, col("o_custkey"))
          .sortWithinPartitions(col("o_custkey"))
    SnapshotTable.commit(spark, root, laid,
      statsCols = Seq("o_custkey", "o_days"))
    root
  }

  private def kept(root: String, column: String, lo: Long, hi: Long): Int =
    SnapshotTable.pruneFiles(spark, root, column, lo.toString, hi.toString).size

  test("z-ordered layout prunes selective probes on BOTH dimensions") {
    val zroot = commitLayout("z", zordered = true)
    val sroot = commitLayout("sorted", zordered = false)

    val r = Tables.orders(spark, TestSpark.sf001)
      .withColumn("o_days",
        datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long"))
      .agg(min("o_custkey"), max("o_custkey"), min("o_days"), max("o_days")).head()
    val (cLo, cHi, dLo, dHi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val cProbeHi = cLo + (cHi - cLo) / 8 // first 12.5% of customers
    val dProbeLo = dLo
    val dProbeHi = dLo + (dHi - dLo) / 8 // first 12.5% of the day span

    // both layouts prune the custkey probe
    assert(kept(zroot, "o_custkey", cLo, cProbeHi) < files)
    assert(kept(sroot, "o_custkey", cLo, cProbeHi) < files)

    // only the z-order prunes the date probe: a custkey-sorted layout
    // spreads every date range across every file
    val zDateKept = kept(zroot, "o_days", dProbeLo, dProbeHi)
    val sDateKept = kept(sroot, "o_days", dProbeLo, dProbeHi)
    assert(zDateKept < files,
      s"z-order kept $zDateKept/$files files for the date probe — expected pruning")
    assert(sDateKept == files,
      s"single-column sort kept $sDateKept/$files for the date probe — expected none pruned")
    assert(zDateKept < sDateKept)
  }

  test("pruned reads over the z-layout equal the full filter on both dims") {
    val zroot = commitLayout("zeq", zordered = true)
    val full = SnapshotTable.read(spark, zroot)

    val pc = SnapshotTable.readPruned(spark, zroot, "o_custkey", "1", "150")
    val fc = full.filter(col("o_custkey").between(1, 150))
    assert(pc.exceptAll(fc).isEmpty && fc.exceptAll(pc).isEmpty)

    val dr = full.agg(min("o_days"), max("o_days")).head()
    val (dLo, dHi) = (dr.getLong(0), dr.getLong(0) + (dr.getLong(1) - dr.getLong(0)) / 8)
    val pd = SnapshotTable.readPruned(spark, zroot, "o_days",
      dLo.toString, dHi.toString)
    val fd = full.filter(col("o_days").between(dLo, dHi))
    assert(pd.count() === fd.count() && fd.count() > 0)
    assert(pd.exceptAll(fd).isEmpty && fd.exceptAll(pd).isEmpty)
  }

  test("zvalue interleaves deterministically and preserves locality") {
    // bit-level contract: zvalue(a=0b11, b=0b01) = 0b1011
    val row = spark.range(1)
      .select(ZOrder.zvalue(lit(3L), lit(1L), bits = 2).as("z")).head()
    assert(row.getLong(0) === 11L)
    // close points in (a, b) have close z-values within a quadrant:
    // the max z within bucket quadrant (a<2, b<2) is below the min z
    // of quadrant (a>=2, b>=2) for 2-bit interleave
    val zs = for (a <- 0L to 3L; b <- 0L to 3L)
      yield (a, b, (0 until 2).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))
      })
    val lowQuad = zs.filter { case (a, b, _) => a < 2 && b < 2 }.map(_._3)
    val highQuad = zs.filter { case (a, b, _) => a >= 2 && b >= 2 }.map(_._3)
    assert(lowQuad.max < highQuad.min)
  }
}
