package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.{SnapshotTable, TextIndex}

/** A single writer on a fresh snapshot table seeded from `lineitem`,
  * plus a text index fed from `documents`. A pass runs each write of
  * [[Ingest.Pass]] — append through `commit`, `mergeByKey`, a
  * `TextIndex.ingestBatch`, `deleteWhere` and `compactFiles` — and
  * after each write one read of what it wrote (`read` plus an
  * aggregate, a `readPoint` lookup of a key the write touched, or a
  * `TextIndex.search`). The seed draws every batch, key and term.
  *
  * Every read is checked against an in-memory model of the table and
  * the index that the benchmark updates after each write, and the
  * whole final table is compared with the model row by row.
  */
final class Ingest(seed: Long) extends Workload {
  val clients = 1

  private val KeyCols = Seq("l_orderkey", "l_linenumber")
  private val AppendRows = 1000
  private val MergeUpdates = 400
  private val MergeInserts = 200
  private val DeleteOrders = 100
  private val IndexBatch = 25
  private val CompactTargetBytes = 256L << 10

  private val rng = new scala.util.Random(seed)
  private var schema: StructType = _
  private var columns: IndexedSeq[String] = _
  private val table = mutable.LinkedHashMap.empty[(Long, Int), IndexedSeq[Any]]
  private var docs: IndexedSeq[(Long, String)] = _
  private var docOrder: IndexedSeq[Int] = _
  private var docsTaken = 0
  private val indexed = mutable.LinkedHashMap.empty[Long, Map[String, Long]]
  private var nextOrderKey = 0L
  private var batchId = 0L
  /** Order keys the latest merge or delete touched; the point lookup
    * after it reads one of them.
    */
  private var touched: IndexedSeq[Long] = IndexedSeq.empty
  /** Per-op facts a traced run adds for the snapshot-layer metrics. */
  private val facts = mutable.Map.empty[Int, Map[String, Long]]

  private def root(ctx: Ctx) = s"${ctx.workDir}/lineitem"
  private def indexRoot(ctx: Ctx) = s"${ctx.workDir}/docindex"
  private def txnDir(ctx: Ctx) = s"${ctx.workDir}/docindex_txn"

  /** No temp views: the ops go through `SnapshotTable` and `TextIndex`
    * only, so set-up is the session and the initial table version.
    */
  def registerTables(ctx: Ctx): Unit = ()

  /** `lineitem` with line numbers renumbered within each order, so
    * that (l_orderkey, l_linenumber) is a key: the input repeats some
    * pairs. Ties in the numbering fall only between identical rows.
    */
  private def initialRows(ctx: Ctx): DataFrame = {
    val li = ctx.spark.read.parquet(s"${ctx.dataDir}/lineitem.parquet")
    li.withColumn("l_linenumber", row_number().over(
      Window.partitionBy(col("l_orderkey")).orderBy(li.columns.map(col): _*)))
  }

  /** The initial table version (range-clustered on the key, so point
    * lookups have files to prune) and an empty text index.
    */
  def warm(ctx: Ctx): Unit = {
    SnapshotTable.commit(ctx.spark, root(ctx),
      initialRows(ctx).repartitionByRange(8, col("l_orderkey")),
      statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
    TextIndex.init(indexRoot(ctx))
  }

  /** Loads the model from the input files; untimed. */
  override def beforeLoop(ctx: Ctx): Unit = {
    val li = initialRows(ctx)
    schema = li.schema
    columns = schema.fieldNames.toIndexedSeq
    li.collect().foreach { r =>
      val v = canonical(r)
      table((key(v))) = v
    }
    nextOrderKey = table.keys.map(_._1).max + 1
    docs = ctx.spark.read.parquet(s"${ctx.dataDir}/documents.parquet")
      .select(col("doc_id"), col("text")).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    docOrder = rng.shuffle(docs.indices.toIndexedSeq)
  }

  private def canonical(r: Row): IndexedSeq[Any] = columns.map(c => r.getAs[Any](c))
  private def key(v: IndexedSeq[Any]): (Long, Int) =
    (v(0).asInstanceOf[Long], v(3).asInstanceOf[Int])
  private def render(v: IndexedSeq[Any]): String = v.map(String.valueOf).mkString("|")

  private def cents(x: Double): Long =
    BigDecimal(x * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** A new lineitem row with seeded values. */
  private def newRow(orderKey: Long, line: Int): IndexedSeq[Any] = {
    val qty = (1 + rng.nextInt(50)).toDouble
    IndexedSeq[Any](orderKey, 1L + rng.nextInt(2000), 1L + rng.nextInt(100), line,
      qty, math.rint(qty * (900 + rng.nextInt(110000))) / 100.0,
      rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
      Seq("N", "A", "R")(rng.nextInt(3)), Seq("O", "F")(rng.nextInt(2)),
      LocalDateTime.of(1995, 1, 1, 0, 0).plusDays(rng.nextInt(2400)))
  }

  private def frame(ctx: Ctx, rows: Seq[IndexedSeq[Any]]): DataFrame =
    ctx.spark.createDataFrame(rows.map(v => Row.fromSeq(v)).asJava, schema)

  private def randomKey(): (Long, Int) = {
    val keys = table.keysIterator
    keys.drop(rng.nextInt(table.size)).next()
  }

  /** Data files of the table's current version and their bytes. */
  private def dataFiles(ctx: Ctx): Seq[Path] = {
    val dir = Paths.get(root(ctx), s"v=${SnapshotTable.currentVersion(root(ctx))}")
    Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
  }

  /** Bytes of data files first written by the latest version (a file
    * carried over from an older version is a hard link to it).
    */
  private def newBytes(ctx: Ctx): Long = dataFiles(ctx)
    .filter(p => Files.getAttribute(p, "unix:nlink").asInstanceOf[Int] == 1)
    .map(Files.size).sum

  private def tableBytes(ctx: Ctx): Long = dataFiles(ctx).map(Files.size).sum

  private def timed(ctx: Ctx, id: Int, kind: String)(
      call: => Unit): (Long, Long) = {
    val sc = ctx.spark.sparkContext
    if (ctx.trace) sc.setJobGroup(Ops.actionGroup(id), kind)
    val t0 = Clock.nowUs()
    try call finally if (ctx.trace) sc.clearJobGroup()
    (t0, Clock.nowUs())
  }

  def passSize: Int = Ingest.PassOps.size

  def next(ctx: Ctx, index: Long, client: Int): OpRecord = {
    val id = index.toInt + 1
    val pass = index / passSize
    val kind = Ingest.PassOps((index % passSize).toInt)
    try {
      if (Ingest.Pass.exists(_._1 == kind)) write(ctx, id, pass, kind)
      else read(ctx, id, pass, kind)
    } catch {
      case e: Throwable =>
        val t = Clock.nowUs()
        OpRecord(id, pass, kind, "", kind, client, t, t, t, t, ok = false, "",
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  private def write(ctx: Ctx, id: Int, pass: Long, kind: String): OpRecord = {
    val spark = ctx.spark
    var changed = 0L
    val (t0, t1) = kind match {
      case "snapshot.commit" =>
        val rows = (0 until AppendRows / 4).flatMap { i =>
          (1 to 4).map(l => newRow(nextOrderKey + i, l))
        }
        nextOrderKey += AppendRows / 4
        val batch = frame(ctx, rows)
        val cur = SnapshotTable.currentVersion(root(ctx))
        val r = timed(ctx, id, kind) {
          SnapshotTable.commit(spark, root(ctx),
            SnapshotTable.read(spark, root(ctx), cur).unionByName(batch),
            readVersion = cur, statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
        }
        rows.foreach(v => table(key(v)) = v)
        changed = rows.size
        r
      case "snapshot.merge" =>
        val updates = Iterator.continually(randomKey()).distinct.take(MergeUpdates).toSeq
          .map { case (o, l) => newRow(o, l) }
        val inserts = (0 until MergeInserts / 4).flatMap { i =>
          (1 to 4).map(l => newRow(nextOrderKey + i, l))
        }
        nextOrderKey += MergeInserts / 4
        val src = updates ++ inserts
        val batch = frame(ctx, src)
        val r = timed(ctx, id, kind) {
          SnapshotTable.mergeByKey(spark, root(ctx), batch, KeyCols)
        }
        src.foreach(v => table(key(v)) = v)
        touched = src.map(_(0).asInstanceOf[Long]).distinct.toIndexedSeq
        changed = src.size
        r
      case "snapshot.delete" =>
        val lo = randomKey()._1
        val orders = table.keysIterator.map(_._1).filter(_ >= lo).toSeq.distinct.sorted
        val hi = orders.take(DeleteOrders).lastOption.getOrElse(lo) + 1
        val r = timed(ctx, id, kind) {
          SnapshotTable.deleteWhere(spark, root(ctx),
            s"l_orderkey >= $lo AND l_orderkey < $hi")
        }
        val gone = table.keys.filter(k => k._1 >= lo && k._1 < hi).toSeq
        gone.foreach(table.remove)
        touched = gone.map(_._1).distinct.toIndexedSeq
        changed = gone.size
        r
      case "snapshot.compact" =>
        val r = timed(ctx, id, kind) {
          SnapshotTable.compactFiles(spark, root(ctx), targetFileBytes = CompactTargetBytes,
            statsCols = Seq("l_orderkey"))
        }
        changed = table.size
        r
      case "index.ingest" =>
        val picked = (0 until IndexBatch).map { i =>
          val n = docsTaken + i
          val (docId, text) = docs(docOrder(n % docs.size))
          (docId + 1000000L * (n / docs.size), text)
        }
        docsTaken += IndexBatch
        val batch = spark.createDataFrame(picked).toDF("doc_id", "text")
        val b = batchId
        batchId += 1
        val r = timed(ctx, id, kind) {
          TextIndex.ingestBatch(spark, batch, indexRoot(ctx), txnDir(ctx), b)
        }
        picked.foreach { case (d, t) =>
          indexed(d) = t.split(" ").filter(_.nonEmpty).groupBy(identity)
            .map { case (k, v) => k -> v.length.toLong }
        }
        r
    }
    if (ctx.trace && kind.startsWith("snapshot."))
      facts(id) = Map("bytes_written" -> newBytes(ctx), "rows_changed" -> changed)
    val module = if (kind.startsWith("index.")) "TextIndex" else "SnapshotTable"
    OpRecord(id, pass, kind, module, kind, 0, t0, t0, t0, t1, ok = true, "", "")
  }

  private def read(ctx: Ctx, id: Int, pass: Long, kind: String): OpRecord = {
    val spark = ctx.spark
    val (t0, t1, got, want) = kind match {
      case "snapshot.read" =>
        var row: Row = null
        val (t0, t1) = timed(ctx, id, kind) {
          row = SnapshotTable.read(spark, root(ctx))
            .agg(count(lit(1)),
              sum(round(col("l_quantity") * 100).cast("long")),
              sum(round(col("l_extendedprice") * 100).cast("long")),
              sum(col("l_orderkey") * 8 + col("l_linenumber")))
            .head()
        }
        val got = (0 until 4).map(i => String.valueOf(row.get(i))).mkString(":")
        val vs = table.values
        val want = Seq[Any](vs.size.toLong, vs.iterator.map(v => cents(v(4).asInstanceOf[Double])).sum,
          vs.iterator.map(v => cents(v(5).asInstanceOf[Double])).sum,
          vs.iterator.map(v => v(0).asInstanceOf[Long] * 8 + v(3).asInstanceOf[Int]).sum)
          .mkString(":")
        (t0, t1, got, want)
      case "snapshot.point" =>
        val k = if (touched.nonEmpty) touched(rng.nextInt(touched.size)) else randomKey()._1
        var rows: Array[Row] = null
        val (t0, t1) = timed(ctx, id, kind) {
          rows = SnapshotTable.readPoint(spark, root(ctx), "l_orderkey", k.toString).collect()
        }
        if (ctx.trace) facts(id) = Map("table_bytes" -> tableBytes(ctx))
        val got = rows.map(r => render(canonical(r))).sorted.mkString("\n")
        val want = table.valuesIterator.filter(_(0) == k).map(render).toSeq.sorted.mkString("\n")
        (t0, t1, got, want)
      case "index.search" =>
        val doc = indexed.keysIterator.drop(rng.nextInt(indexed.size)).next()
        val toks = indexed(doc).keys.toIndexedSeq.sorted
        // two distinct terms of one indexed document, so that every
        // search reads two posting lists whatever the seed draws
        val terms = rng.shuffle(toks).take(2)
        var rows: Array[Row] = null
        val (t0, t1) = timed(ctx, id, kind) {
          rows = TextIndex.search(spark, indexRoot(ctx), terms, 10).collect()
        }
        val got = rows.map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(",")
        val ts = terms.distinct
        val want = indexed.iterator
          .filter { case (_, tf) => ts.forall(tf.contains) }
          .map { case (d, tf) => (d, ts.map(tf).sum) }
          .toSeq.sortBy { case (d, s) => (-s, d) }.take(10)
          .map { case (d, s) => s"$d:$s" }.mkString(",")
        (t0, t1, got, want)
    }
    val ok = got == want
    val module = if (kind.startsWith("index.")) "TextIndex" else "SnapshotTable"
    OpRecord(id, pass, kind, module, kind, 0, t0, t0, t0, t1, ok,
      Integer.toHexString(got.hashCode),
      if (ok) "" else s"got ${got.take(200)}, expected ${want.take(200)}")
  }

  /** Compares the whole final table with the model, untimed. */
  override def finish(ctx: Ctx, ops: Seq[OpRecord]): Map[String, Any] = {
    val rows = SnapshotTable.read(ctx.spark, root(ctx)).collect()
    val got = rows.map(r => render(canonical(r))).sorted
    val want = table.valuesIterator.map(render).toSeq.sorted
    Map("final_table_ok" -> (got.sameElements(want)),
      "final_rows" -> got.length,
      "table_bytes" -> tableBytes(ctx),
      "files" -> dataFiles(ctx).size,
      "facts" -> facts.map { case (k, v) => k.toString -> v }.toMap)
  }
}

object Ingest {
  /** One pass: each write, then one read of what it wrote. With as
    * many writes as reads, the median op sits between the two kinds,
    * so write cost reaches the median and the throughput as well as
    * read cost does. A scan with an aggregate follows the writes that
    * change many rows (append, compaction); a key lookup follows the
    * merge (an updated or inserted key) and the delete (a deleted
    * key, which the deletion vectors must hide).
    */
  val Pass: Seq[(String, Seq[String])] = Seq(
    "snapshot.commit" -> Seq("snapshot.read"),
    "snapshot.merge" -> Seq("snapshot.point"),
    "index.ingest" -> Seq("index.search"),
    "snapshot.delete" -> Seq("snapshot.point"),
    "snapshot.compact" -> Seq("snapshot.read"))
  val PassOps: IndexedSeq[String] = Pass.flatMap { case (w, rs) => w +: rs }.toIndexedSeq
}
