package graft

import graft.sources.{SnapshotCatalog, SnapshotTable}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The name → root catalog over SnapshotTable: atomic registration,
  * save/read by name with time travel inherited, listing, external
  * drop semantics, and the spark.sql view surface.
  */
class SnapshotCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshCatalog(tag: String): String =
    Artifacts.exitRoot(s"graft-catalog-$tag")

  test("saveAsTable registers on first use; table() reads by name with time travel") {
    val cat = freshCatalog("basic")
    val nation = Tables.nation(spark, TestSpark.sf0001)
    val v1 = SnapshotCatalog.saveAsTable(spark, cat, "nation", nation)
    assert(v1 === 1)
    val v2 = SnapshotCatalog.saveAsTable(spark, cat, "nation",
      nation.filter(col("n_regionkey") === 0), readVersion = v1)
    assert(v2 === 2)
    assert(SnapshotCatalog.table(spark, cat, "nation").count() === 5)
    assert(SnapshotCatalog.table(spark, cat, "nation", version = 1).count() === 25)
  }

  test("registration is atomic: racing writers get exactly one winner per name") {
    val cat = freshCatalog("race")
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 12).map { i =>
      new Thread(() =>
        try { SnapshotCatalog.register(cat, "contested", s"/root-$i"); wins.incrementAndGet(); () }
        catch { case _: SnapshotCatalog.TableExists => () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins.get() === 1)
    // and the registered root is one of the contenders' (no torn write)
    val root = SnapshotCatalog.rootOf(cat, "contested")
    assert(root.startsWith("/root-"))
  }

  test("tables() lists entries; drop un-catalogs but keeps data readable by root") {
    val cat = freshCatalog("list")
    val nation = Tables.nation(spark, TestSpark.sf0001)
    SnapshotCatalog.saveAsTable(spark, cat, "a_first", nation)
    SnapshotCatalog.saveAsTable(spark, cat, "b_second", nation.limit(3))
    assert(SnapshotCatalog.tables(cat).map(_._1) === Seq("a_first", "b_second"))
    val root = SnapshotCatalog.rootOf(cat, "b_second")
    SnapshotCatalog.drop(cat, "b_second")
    assert(SnapshotCatalog.tables(cat).map(_._1) === Seq("a_first"))
    intercept[SnapshotCatalog.NoSuchTable] {
      SnapshotCatalog.table(spark, cat, "b_second")
    }
    // external-table semantics: the data outlives the name
    assert(SnapshotTable.read(spark, root).count() === 3)
  }

  test("registerViews makes the catalog a spark.sql namespace") {
    val cat = freshCatalog("views")
    SnapshotCatalog.saveAsTable(spark, cat, "cat_nation",
      Tables.nation(spark, TestSpark.sf0001))
    SnapshotCatalog.saveAsTable(spark, cat, "cat_region",
      Tables.region(spark, TestSpark.sf0001))
    assert(SnapshotCatalog.registerViews(spark, cat) === 2)
    val joined = spark.sql("""
      SELECT r.r_name, count(*) AS n
      FROM cat_nation n JOIN cat_region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name ORDER BY r.r_name""")
    assert(joined.count() === 5)
    assert(joined.agg(sum(col("n"))).head().getLong(0) === 25)
  }

  test("invalid names are rejected before touching the filesystem") {
    val cat = freshCatalog("names")
    intercept[IllegalArgumentException](SnapshotCatalog.register(cat, "../escape", "/x"))
    intercept[IllegalArgumentException](SnapshotCatalog.register(cat, "has space", "/x"))
  }
}
