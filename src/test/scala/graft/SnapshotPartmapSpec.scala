package graft

import java.nio.file.{Files, Paths}
import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The commitPartitions file-link fast path (`_partmap` sidecar):
  * tables written entirely through commitPartitions compose the next
  * partition-sliced version by HARD-LINKING untouched partitions'
  * files and writing only the slice — commit cost ∝ touched data, not
  * table size. These tests pin (1) the links are real (same inode),
  * (2) every fallback (deletion vector, flat-write ancestry, OPTIMIZE)
  * stays correct, and (3) RESTORE carries the map.
  */
class SnapshotPartmapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(): String =
    Artifacts.exitRoot("graft-pm-")

  private def seed(root: String) = {
    import spark.implicits._
    SnapshotTable.commitPartitions(spark,
      root, (0 until 3).flatMap(p => (0 until 4).map(k => (p, k, p * 10 + k)))
        .toDF("p", "k", "value"), "p")
  }

  private def dataFiles(root: String, v: Int): Map[String, Object] = {
    val dir = Paths.get(root, s"v=$v")
    val s = Files.list(dir)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) && {
      val n = p.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".")
    }).map(p => p.getFileName.toString ->
      Files.getAttribute(p, "unix:ino")).toMap
    finally s.close()
  }

  test("slice commits hard-link untouched partitions' files (same inode)") {
    import spark.implicits._
    val root = tmp()
    seed(root)
    assert(Files.exists(Paths.get(root, "v=1", "_partmap")),
      "create through commitPartitions must be born with a partmap")
    val v1Files = dataFiles(root, 1)
    SnapshotTable.commitPartitions(spark, root,
      Seq((0, 0, 777)).toDF("p", "k", "value"), "p",
      readVersion = SnapshotTable.currentVersion(root))
    assert(Files.exists(Paths.get(root, "v=2", "_partmap")))
    val v2Files = dataFiles(root, 2)
    // every carried file name is the SAME inode — linked, not copied
    val carried = v2Files.keySet.intersect(v1Files.keySet)
    assert(carried.nonEmpty, "untouched partitions must carry files forward")
    carried.foreach(f => assert(v2Files(f) === v1Files(f),
      s"$f was rewritten, not hard-linked"))
    // and the content is the overlay
    val got = SnapshotTable.read(spark, root).orderBy("p", "k")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    val want = Seq((0, 0, 777)) ++
      (1 until 3).flatMap(p => (0 until 4).map(k => (p, k, p * 10 + k)))
    assert(got === want.sorted, s"overlay content: $got")
  }

  test("a deletion vector disables the fast path without resurrecting deleted rows") {
    import spark.implicits._
    val root = tmp()
    seed(root)
    SnapshotTable.deleteWhere(spark, root, "p = 1 AND k = 0") // v2, DV
    // slice-commit p=2 on top of the DV version → must fall back to
    // the full compose (linking v2's files without the DV would bring
    // (1,0) back from the dead)
    SnapshotTable.commitPartitions(spark, root,
      Seq((2, 0, 555)).toDF("p", "k", "value"), "p",
      readVersion = SnapshotTable.currentVersion(root))
    val got = SnapshotTable.read(spark, root)
      .filter(col("p") === 1).orderBy("k")
      .collect().map(_.getInt(1)).toSeq
    assert(got === Seq(1, 2, 3), s"deleted row resurrected: $got")
    assert(SnapshotTable.read(spark, root)
      .filter(col("p") === 2 && col("k") === 0)
      .collect().head.getInt(2) === 555)
  }

  test("pruning sidecars carry across the fast path: kept lines verbatim, new files scanned") {
    import spark.implicits._
    val root = tmp()
    SnapshotTable.commitPartitions(spark, root,
      (0 until 3).flatMap(p => (0 until 4).map(k => (p, k, p * 10 + k)))
        .toDF("p", "k", "value"), "p",
      statsCols = Seq("value"), setCols = Seq("p"))
    assert(Files.exists(Paths.get(root, "v=1", "_stats.json")))
    SnapshotTable.commitPartitions(spark, root,
      Seq((0, 0, 999)).toDF("p", "k", "value"), "p",
      readVersion = SnapshotTable.currentVersion(root))
    // the fast-path version still has both manifests…
    assert(Files.exists(Paths.get(root, "v=2", "_stats.json")),
      "stats manifest must carry across the fast path")
    assert(Files.exists(Paths.get(root, "v=2", "_sets.json")),
      "sets manifest must carry across the fast path")
    // …and they PRUNE: an equality probe on p=1 keeps only that
    // partition's files (every file is single-partition here)
    val v1Only = SnapshotTable.pruneFilesEq(spark, root, "p", "1")
    val allFiles = dataFiles(root, 2).size
    assert(v1Only.nonEmpty && v1Only.size < allFiles,
      s"sets pruning inert: ${v1Only.size} of $allFiles kept")
    // the new slice file's stats are fresh: a range probe for the new
    // value 999 keeps a file, and the pruned READ returns the row
    val hit = SnapshotTable.readPruned(spark, root, "value", "900", "1000")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    assert(hit === Seq((0, 0, 999)), s"stats-pruned read: $hit")
  }

  test("token-unsafe partition types (binary) take the slow path and replace, not duplicate") {
    import spark.implicits._
    val root = tmp()
    val b1 = Array[Byte](1, 2); val b2 = Array[Byte](3, 4)
    SnapshotTable.commitPartitions(spark, root,
      Seq((b1, 0, 1), (b2, 0, 2)).toDF("p", "k", "value"), "p")
    // binary toString is an identity hash — no value-based token, so
    // no partmap may be born (a second run would mint a new token for
    // the same partition and duplicate its rows)
    assert(!Files.exists(Paths.get(root, "v=1", "_partmap")),
      "binary partition column must not produce a partmap")
    SnapshotTable.commitPartitions(spark, root,
      Seq((b1, 0, 99)).toDF("p", "k", "value"), "p",
      readVersion = SnapshotTable.currentVersion(root))
    val got = SnapshotTable.read(spark, root).orderBy("value")
      .collect().map(_.getInt(2)).toSeq
    assert(got === Seq(2, 99), s"binary re-statement duplicated rows: $got")
  }

  test("a column name containing '=' cannot fool the same-column guard") {
    import spark.implicits._
    val root = tmp()
    // partmap built on column "a=b"; a later slice on column "a"
    // must NOT fast-path off it (prefix 'a=' matches 'a=b=…' tokens)
    SnapshotTable.commitPartitions(spark, root,
      Seq(("x", "p1", 1), ("y", "p2", 2)).toDF("a", "a=b", "value"), "a=b")
    assert(Files.exists(Paths.get(root, "v=1", "_partmap")))
    SnapshotTable.commitPartitions(spark, root,
      Seq(("x", "p1", 99)).toDF("a", "a=b", "value"), "a",
      readVersion = SnapshotTable.currentVersion(root))
    val got = SnapshotTable.read(spark, root).orderBy("value")
      .collect().map(_.getInt(2)).toSeq
    assert(got === Seq(2, 99), s"column-switch slice duplicated rows: $got")
  }

  test("explicit sidecar requests on the fast path upgrade coverage and honor setCap") {
    import spark.implicits._
    val root = tmp()
    // created with value-stats and a cap so tight every file overflows
    SnapshotTable.commitPartitions(spark, root,
      (0 until 3).flatMap(p => (0 until 4).map(k => (p, k, p * 10 + k)))
        .toDF("p", "k", "value"), "p",
      statsCols = Seq("value"), setCols = Seq("k"), setCap = 2)
    val v1Sets = Files.readString(Paths.get(root, "v=1", "_sets.json"))
    assert(v1Sets.contains("\\0OVERFLOW"), "cap=2 must overflow 4-distinct files")
    // fast-path slice with a bigger cap and an UPGRADED stats column:
    // the carried stats (value) don't cover k → recomputed; the new
    // file's set line uses the caller's cap (values, not OVERFLOW)
    SnapshotTable.commitPartitions(spark, root,
      Seq((0, 0, 999)).toDF("p", "k", "value"), "p",
      readVersion = SnapshotTable.currentVersion(root),
      statsCols = Seq("k"), setCols = Seq("k"), setCap = 100)
    val hit = SnapshotTable.readPruned(spark, root, "k", "0", "0")
      .collect().map(r => (r.getInt(0), r.getInt(2))).toSet
    assert(hit === Set((0, 999), (1, 10), (2, 20)),
      s"upgraded k-stats pruned read: $hit")
    val v2Sets = Files.readString(Paths.get(root, "v=2", "_sets.json"))
    val freshLines = v2Sets.linesIterator.filter(_.nonEmpty).toSeq
      .filterNot(l => v1Sets.contains(l.takeWhile(_ != '\t')))
    assert(freshLines.nonEmpty && freshLines.forall(!_.contains("\\0OVERFLOW")),
      s"fresh set lines must honor the caller's cap: $freshLines")
  }

  test("vacuum of the linked-from version leaves the fast-path version intact") {
    import spark.implicits._
    val root = tmp()
    seed(root)
    SnapshotTable.commitPartitions(spark, root,
      Seq((0, 0, 777)).toDF("p", "k", "value"), "p",
      readVersion = SnapshotTable.currentVersion(root))
    // v2's untouched-partition files are hard links into v1; dropping
    // v1 unlinks ONE name, the inode survives under v2's name
    val dropped = SnapshotTable.vacuum(root, keepLast = 1)
    assert(dropped.contains(1), s"expected v1 vacuumed, got $dropped")
    val got = SnapshotTable.read(spark, root).orderBy("p", "k")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    val want = (Seq((0, 0, 777)) ++
      (1 until 3).flatMap(p => (0 until 4).map(k => (p, k, p * 10 + k)))).sorted
    assert(got === want, s"vacuum broke linked data: $got")
  }

  test("flat-write ancestry and OPTIMIZE fall back correctly; RESTORE carries the map") {
    import spark.implicits._
    val root = tmp()
    // table born from a raw flat commit: no partmap, slow path forever
    SnapshotTable.commit(spark, root,
      Seq((0, 0, 1), (1, 0, 2)).toDF("p", "k", "value"))
    assert(!Files.exists(Paths.get(root, "v=1", "_partmap")))
    SnapshotTable.commitPartitions(spark, root,
      Seq((0, 0, 9)).toDF("p", "k", "value"), "p",
      readVersion = SnapshotTable.currentVersion(root))
    val got = SnapshotTable.read(spark, root).orderBy("p")
      .collect().map(r => (r.getInt(0), r.getInt(2))).toSeq
    assert(got === Seq((0, 9), (1, 2)))

    // partmap-born table: OPTIMIZE rewrites files → map gone → slow
    // path → still correct
    val root2 = tmp()
    seed(root2)
    SnapshotTable.compactFiles(spark, root2)
    SnapshotTable.commitPartitions(spark, root2,
      Seq((1, 0, 888)).toDF("p", "k", "value"), "p",
      readVersion = SnapshotTable.currentVersion(root2))
    assert(SnapshotTable.read(spark, root2).count() ===
      4 + 4 + 1, "compact-then-slice row count")
    assert(SnapshotTable.read(spark, root2)
      .filter(col("p") === 1).count() === 1)

    // RESTORE hard-links 1:1 → the restored version keeps the map and
    // the NEXT slice commit fast-paths off it
    val root3 = tmp()
    seed(root3)
    SnapshotTable.commitPartitions(spark, root3,
      Seq((0, 0, 5)).toDF("p", "k", "value"), "p",
      readVersion = SnapshotTable.currentVersion(root3))
    SnapshotTable.restore(spark, root3, 1) // v3 = v1 again
    assert(Files.exists(Paths.get(root3, "v=3", "_partmap")),
      "restore must carry the partmap")
    SnapshotTable.commitPartitions(spark, root3,
      Seq((2, 0, 4)).toDF("p", "k", "value"), "p",
      readVersion = SnapshotTable.currentVersion(root3))
    val v4Files = dataFiles(root3, 4)
    val v3Files = dataFiles(root3, 3)
    val carried = v4Files.keySet.intersect(v3Files.keySet)
    assert(carried.nonEmpty)
    carried.foreach(f => assert(v4Files(f) === v3Files(f),
      "post-restore slice must hard-link, not rewrite"))
  }

  test("float/double partition tokens are bit-pattern hex, fast path intact") {
    // Regression (r11): toString tokens for Float/Double are only
    // stable within one JDK major (JDK 19 changed Double.toString to
    // shortest-representation); a table written on one JDK and
    // re-sliced on another would mint a different token for the same
    // value — the kept-files filter then keeps the old file AND
    // writes the new slice, duplicating the partition. Tokens now
    // derive from the IEEE-754 bit pattern.
    import spark.implicits._
    val root = tmp()
    SnapshotTable.commitPartitions(spark, root,
      Seq((1.5, 1), (2.5, 2)).toDF("p", "k"), "p")
    val pm = Files.readString(Paths.get(root, "v=1", "_partmap"))
    // doubleToLongBits(1.5) = 0x3FF8000000000000
    assert(pm.contains("p=d3ff8000000000000"),
      s"double token must be bits-hex, got: $pm")
    assert(!pm.contains("p=1.5"),
      s"JDK-dependent toString token leaked into partmap: $pm")
    // re-slicing one value replaces it (no duplicate rows), links the rest
    val v1Files = dataFiles(root, 1)
    SnapshotTable.commitPartitions(spark, root,
      Seq((1.5, 99)).toDF("p", "k"), "p", readVersion = 1)
    val got = SnapshotTable.read(spark, root).orderBy("p").collect()
      .map(r => (r.getDouble(0), r.getInt(1))).toSeq
    assert(got === Seq((1.5, 99), (2.5, 2)))
    val v2Files = dataFiles(root, 2)
    val carried = v2Files.keySet.intersect(v1Files.keySet)
    assert(carried.nonEmpty, "untouched double partition must hard-link")
    carried.foreach(f => assert(v2Files(f) === v1Files(f)))
  }
}
