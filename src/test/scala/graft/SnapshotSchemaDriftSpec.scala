package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Column-order / schema-drift property battery over the snapshot
  * layer (VERDICT r8 item 6). The r8 mergeByKey CDC bug survived
  * seven rounds because every unit fixture used a LEADING key and a
  * fixed column order; this suite runs merge/changes/restore/compact
  * over PERMUTED column orders, key positions, and additively-evolved
  * schemas so any new ordering or schema-set assumption fails here
  * first, not in a composition.
  */
class SnapshotSchemaDriftSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  // every table this suite creates, deleted when the suite ends
  private val tables = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def tmp(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-drift-").toString
    tables.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try tables.forEach(d => SnapshotTable.deleteTree(java.nio.file.Paths.get(d)))
    finally super.afterAll()

  private def df(cols: Seq[String], rows: Seq[(Long, Long, Double, String)]): DataFrame = {
    import spark.implicits._
    // base order, then permute by select
    rows.toDF("k", "n", "v", "s").select(cols.map(col): _*)
  }

  private val perms: Seq[Seq[String]] = Seq(
    Seq("k", "n", "v", "s"),  // key leading
    Seq("n", "k", "v", "s"),  // key second
    Seq("n", "v", "k", "s"),  // key third
    Seq("n", "v", "s", "k"),  // key trailing
    Seq("s", "v", "n", "k"))  // full reversal

  test("merge keeps one physical layout for every table order x permuted source") {
    for (tableOrder <- perms) {
      val root = tmp()
      SnapshotTable.mergeByKey(spark, root,
        df(tableOrder, Seq((1L, 10L, 1.0, "a"), (2L, 20L, 2.0, "b"))), Seq("k"))
      // second merge arrives with a DIFFERENT column permutation than
      // the table committed with — update key 2, insert key 3
      for (sourceOrder <- perms) {
        val prev = SnapshotTable.currentVersion(root)
        SnapshotTable.mergeByKey(spark, root,
          df(sourceOrder, Seq((2L, 21L, 2.5, "b2"), (prev + 100L, 30L, 3.0, "c"))),
          Seq("k"))
        val v = SnapshotTable.currentVersion(root)
        val s1 = SnapshotTable.read(spark, root, 1).schema.map(f => (f.name, f.dataType))
        val sv = SnapshotTable.read(spark, root, v).schema.map(f => (f.name, f.dataType))
        assert(s1 === sv,
          s"tableOrder=$tableOrder sourceOrder=$sourceOrder drifted the layout")
      }
      // values survived every permutation: key 2 carries the LAST merge's row
      val got = SnapshotTable.read(spark, root)
        .select("k", "n", "v", "s").filter(col("k") === 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      assert(got.toSeq === Seq((2L, 21L, 2.5, "b2")))
    }
  }

  test("keyed CDC is typed and correct for every key position") {
    for (tableOrder <- perms) {
      val root = tmp()
      SnapshotTable.mergeByKey(spark, root,
        df(tableOrder, Seq((1L, 10L, 1.0, "a"), (2L, 20L, 2.0, "b"))), Seq("k"))
      SnapshotTable.mergeByKey(spark, root,
        df(tableOrder.reverse, Seq((2L, 21L, 2.5, "b2"), (3L, 30L, 3.0, "c"))), Seq("k"))
      val cdc = SnapshotTable.changesByKey(spark, root, 1, 2, Seq("k"))
        .select("k", "n", "v", "s", "_change_type")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getString(3), r.getString(4))).toSet
      assert(cdc === Set(
        (3L, 30L, 3.0, "c", "insert"),
        (2L, 20L, 2.0, "b", "update_preimage"),
        (2L, 21L, 2.5, "b2", "update_postimage")),
        s"tableOrder=$tableOrder")
    }
  }

  test("additive evolution: source with a new column appends it, old rows null") {
    import spark.implicits._
    val root = tmp()
    SnapshotTable.mergeByKey(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), Seq("k"))
    // evolved source: new column `extra`, permuted order, key trailing
    SnapshotTable.mergeByKey(spark, root,
      Seq((9.9, "b2", 2L), (7.7, "c", 3L)).toDF("extra", "s", "k"), Seq("k"))
    val cur = SnapshotTable.read(spark, root)
    assert(cur.columns.toSeq === Seq("k", "s", "extra"),
      "evolved column must APPEND to the existing layout")
    val rows = cur.select("k", "s", "extra").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(rows === Set((1L, "a", None), (2L, "b2", Some(9.9)), (3L, "c", Some(7.7))))
    // source MISSING a table column: INSERTED keys get null there
    // (insertAll), but MATCHED keys keep their current value
    // (updateAll preserves target columns absent from the source —
    // Delta MERGE parity, ADVICE r9)
    SnapshotTable.mergeByKey(spark, root,
      Seq((4L, 1.1), (2L, 2.2)).toDF("k", "extra"), Seq("k"))
    val r42 = SnapshotTable.read(spark, root).filter(col("k").isin(4, 2))
      .select("k", "s", "extra").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getString(1)), r.getDouble(2))).toSet
    assert(r42 === Set(
      (4L, None, 1.1),          // inserted: missing column is null
      (2L, Some("b2"), 2.2)))   // updated: missing column preserved
  }

  test("bag CDC across an evolution boundary carries the union schema") {
    import spark.implicits._
    val root = tmp()
    SnapshotTable.mergeByKey(spark, root, Seq((1L, "a")).toDF("k", "s"), Seq("k"))
    SnapshotTable.mergeByKey(spark, root,
      Seq((1L, "a", 5L), (2L, "b", 6L)).toDF("k", "s", "n"), Seq("k"))
    val ch = SnapshotTable.changes(spark, root, 1, 2)
    assert(ch.columns.toSeq === Seq("k", "s", "n", "_change_type"))
    val rows = ch.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3))).toSet
    // key 1's row changed content (n: null -> 5): delete+insert; key 2 inserted
    assert(rows === Set(
      (1L, "a", None, "delete"),
      (1L, "a", Some(5L), "insert"),
      (2L, "b", Some(6L), "insert")))
    // a same-name TYPE change is corruption, not evolution
    SnapshotTable.commit(spark, root,
      Seq((1L, "a", "now-a-string")).toDF("k", "s", "n"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.changes(spark, root, 2, 3).collect()
    }
    assert(e.getMessage.contains("changed type"))
  }

  test("restore across an evolution boundary, then merge again") {
    import spark.implicits._
    val root = tmp()
    SnapshotTable.mergeByKey(spark, root, Seq((1L, "a")).toDF("k", "s"), Seq("k"))
    SnapshotTable.mergeByKey(spark, root, Seq((2L, "b", 6L)).toDF("k", "s", "n"), Seq("k"))
    SnapshotTable.restore(spark, root, 1) // v3 = pre-evolution schema
    assert(SnapshotTable.read(spark, root).columns.toSeq === Seq("k", "s"))
    // the dropped-column direction of the union alignment
    val ch = SnapshotTable.changes(spark, root, 2, 3)
    val rows = ch.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3))).toSet
    assert(rows === Set((2L, "b", Some(6L), "delete")))
    // merging after the restore evolves again cleanly
    SnapshotTable.mergeByKey(spark, root, Seq((3L, "c", 7L)).toDF("k", "s", "n"), Seq("k"))
    assert(SnapshotTable.read(spark, root).columns.toSeq === Seq("k", "s", "n"))
  }

  test("compactFiles preserves the layout after permuted merges") {
    val root = tmp()
    SnapshotTable.mergeByKey(spark, root,
      df(Seq("n", "v", "k", "s"), Seq((1L, 10L, 1.0, "a"))), Seq("k"))
    SnapshotTable.mergeByKey(spark, root,
      df(Seq("s", "v", "n", "k"), Seq((2L, 20L, 2.0, "b"))), Seq("k"))
    SnapshotTable.compactFiles(spark, root)
    val v = SnapshotTable.currentVersion(root)
    assert(SnapshotTable.read(spark, root, v).columns.toSeq ===
      SnapshotTable.read(spark, root, 1).columns.toSeq)
    assert(SnapshotTable.read(spark, root, v).count() === 2)
  }

  test("merge rejects a same-name type change in the source") {
    import spark.implicits._
    val root = tmp()
    SnapshotTable.mergeByKey(spark, root, Seq((1L, 5L)).toDF("k", "n"), Seq("k"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.mergeByKey(spark, root, Seq((2L, "oops")).toDF("k", "n"), Seq("k"))
    }
    assert(e.getMessage.contains("cast before merging"))
  }

  test("merge rejects any store-assign cast that loses a value (keys AND values)") {
    import spark.implicits._
    val root = tmp()
    SnapshotTable.mergeByKey(spark, root, Seq((1L, 10L)).toDF("k", "n"), Seq("k"))
    // lossy KEY cast: DOUBLE 2.2 -> 2L would silently retarget key 2
    // (and 2.2/2.4 would collapse to duplicates — the r9 finding,
    // now subsumed: an exact round-trip makes the cast injective)
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.mergeByKey(spark, root,
        Seq((2.2, 20L), (2.4, 21L)).toDF("k", "n"), Seq("k"))
    }
    assert(e1.getMessage.contains("loses precision"))
    // lossy VALUE cast: DOUBLE 1.9 into a LONG table column would
    // commit as 1 (ADVICE r9) — loud failure instead
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.mergeByKey(spark, root,
        Seq((2L, 1.9)).toDF("k", "n"), Seq("k"))
    }
    assert(e2.getMessage.contains("loses precision") && e2.getMessage.contains("n double->bigint"))
    // OVERFLOWING cast: DECIMAL 1e20 into the LONG column. Under
    // ANSI the probe's cast throws (wrapped into the same friendly
    // diagnostic); in a non-ANSI session it would overflow to NULL,
    // which only the null-safe <=> round-trip catches (code-review
    // r10) — either way the merge must refuse, not commit null/junk
    val e3 = intercept[IllegalArgumentException] {
      SnapshotTable.mergeByKey(spark, root,
        Seq((2L, BigDecimal("10000000000000000000"))).toDF("k", "n"), Seq("k"))
    }
    assert(e3.getMessage.contains("loses precision"))
    // in-range lossless casts (key 3.0 -> 3L, value 30.0 -> 30L)
    // still merge fine: the contract is lossless-in-fact, not
    // lossless-in-type
    SnapshotTable.mergeByKey(spark, root,
      Seq((3.0, 30.0)).toDF("k", "n"), Seq("k"))
    assert(SnapshotTable.read(spark, root).count() === 2)
    assert(SnapshotTable.read(spark, root).filter(col("k") === 3)
      .select("n").collect().head.getLong(0) === 30L)
  }
}
