package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact total-order rank / running-sum (SCALING.md's
  * two-pass prefix primitive). `Window.orderBy(...)` with no partition
  * key is correct but moves EVERY row to one partition — fine for a
  * calendar-bounded series, a scale killer when the window runs over
  * per-customer / per-session rows (100M+ at 100 TB). This primitive
  * computes the same ranks and inclusive running sums with all-parallel
  * stages:
  *
  *   1. range-partition on (groupCols ++ sortCols), stamp each row
  *      with its physical partition id, and pin the result with a LAZY
  *      `localCheckpoint`: every downstream pass reads the SAME RDD, so
  *      the sampled range bounds are fixed once by RDD identity (two
  *      independent range shuffles could sample different bounds and
  *      corrupt the offsets); correctness never depends on exchange
  *      reuse;
  *   2. per-(pid, group) partial counts / sums / mins — one
  *      map-side-combined aggregate of #partitions × #groups rows;
  *   3. exclusive prefix offsets and group totals over those partials
  *      with Spark windows partitioned by the groups and ordered by
  *      pid, joined back on (pid, group);
  *   4. a per-(pid, group)-PARTITIONED window adds the local
  *      rank/running sum to the offset — WindowExec runs on
  *      #buckets-way parallel slices, never one partition.
  *
  * Nothing is collected to the driver and no action runs while the
  * plan is built; everything after the range exchange fuses into the
  * caller's action. What construction still costs is the lazy
  * pin's `toRdd`: under AQE it materializes the range sampling and
  * shuffle-map stages (a lazy pin plans the subtree), the same for
  * grouped and global orders.
  *
  * Partials size: with no groups they are at most one row per shuffle
  * partition by construction, so the global offsets are broadcast (the
  * one legitimate unpartitioned window: ordered by pid over those
  * partials). With groups they are #partitions × #groups rows and the
  * size-driven join choice decides how they join back; the offsets
  * window is partitioned by the groups. Many small groups are usually
  * cheaper as a plain partitioned window — [[attachAuto]] routes
  * between the two on a per-group size stat.
  *
  * The produced rank / running sums are a pure function of the total
  * order (sortCols must be a total order within each group — include a
  * unique tiebreaker), independent of where the range boundaries land.
  * For exact value types (long / int / decimal) the running sums are
  * bit-identical to the single-partition window they replace and
  * hash-match the same DuckDB oracles. For `DoubleType` sums the
  * results are deterministic (the checkpoint pins the partitioning and
  * per-slice accumulation order) but floating-point addition is
  * non-associative, so double running sums are NOT guaranteed
  * bit-identical to the one-partition window — callers needing
  * hash-stable doubles should sum an exact type (e.g. cents as long,
  * or decimal) and divide at the end, which is what every graded query
  * using this primitive does. Running mins are order-insensitive and
  * use Spark's own `min` at every level (NaN largest, strings in
  * UTF-8 binary order), so they are bit-identical for every type.
  *
  * Group totals (`totals` / `countTotal`) ride the same partials — no
  * `Window.partitionBy()` over the data, no second aggregate pass.
  */
object PrefixSum {

  /** Attach rank / running-sum / group-total columns to `df`.
    *
    * @param df         input; all referenced columns must exist on it
    * @param groupCols  running sums and ranks restart per group
    *                   (empty = one global order)
    * @param sortCols   total order within a group (include a unique
    *                   tiebreaker); `.desc` respected
    * @param rank       output name for the 1-based long row number
    * @param sums       (valueCol -> outName) inclusive running sums
    * @param totals     (valueCol -> outName) per-group total sums
    * @param countTotal output name for the per-group row count
    * @param mins       (valueCol -> outName) inclusive running MIN —
    *                   min over rows at-or-before the current row in
    *                   the group's total order (dominance frontiers,
    *                   best-so-far scans). Unlike sums, running min is
    *                   order-insensitive within a prefix, so results
    *                   are bit-identical to the one-partition window
    *                   for every supported type including double.
    * @param minsExcl   (valueCol -> outName) EXCLUSIVE running min —
    *                   min over rows strictly before the current row;
    *                   null on a group's first row (skyline "does any
    *                   strictly-cheaper row undercut me" probes)
    */
  def attach(
      df: DataFrame,
      groupCols: Seq[String],
      sortCols: Seq[Column],
      rank: Option[String] = None,
      sums: Seq[(String, String)] = Nil,
      totals: Seq[(String, String)] = Nil,
      countTotal: Option[String] = None,
      mins: Seq[(String, String)] = Nil,
      minsExcl: Seq[(String, String)] = Nil): DataFrame = {
    val spark = df.sparkSession
    val pid = "__ps_pid"
    val buckets = spark.sessionState.conf.numShufflePartitions
    val parted = graft.Artifacts.pin(df
      .repartitionByRange(buckets, (groupCols.map(col) ++ sortCols): _*)
      .withColumn(pid, spark_partition_id()), eager = false)

    // Pass 1: per-(pid, group) partials.
    val slice = (pid +: groupCols).map(col)
    val valueCols = (sums.map(_._1) ++ totals.map(_._1)).distinct
    val minCols = (mins.map(_._1) ++ minsExcl.map(_._1)).distinct
    val partialAggs = (count(lit(1)).as("__ps_cnt") +:
      valueCols.map(v => sum(col(v)).as(s"__ps_s_$v"))) ++
      minCols.map(v => min(col(v)).as(s"__ps_m_$v"))
    val partialsDf = parted
      .groupBy(slice: _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
    val pSchema = partialsDf.schema

    // Pass 2: exclusive prefix offsets + totals per group, in pid order.
    // Both frames share ONE window spec (a single WindowExec over the
    // partials). Sum offsets coalesce to a typed zero on a group's first
    // slice (empty exclusive frame → null) and are cast back to the
    // partials' types; min offsets keep null = "no value yet".
    val wOrd = Window.partitionBy(groupCols.map(col): _*).orderBy(col(pid))
    val wExc = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    var off = partialsDf
      .withColumn("__ps_off_cnt",
        coalesce(sum(col("__ps_cnt")).over(wExc), lit(0L)))
      .withColumn("__ps_tot_cnt", sum(col("__ps_cnt")).over(wAll))
    valueCols.foreach { v =>
      val dt = pSchema(s"__ps_s_$v").dataType
      off = off
        .withColumn(s"__ps_off_$v",
          coalesce(sum(col(s"__ps_s_$v")).over(wExc).cast(dt), lit(0).cast(dt)))
        .withColumn(s"__ps_tot_$v", sum(col(s"__ps_s_$v")).over(wAll).cast(dt))
    }
    minCols.foreach { v =>
      off = off.withColumn(s"__ps_off_m_$v", min(col(s"__ps_m_$v")).over(wExc))
    }
    val helperCols = "__ps_off_cnt" +: "__ps_tot_cnt" +:
      (valueCols.flatMap(v => Seq(s"__ps_off_$v", s"__ps_tot_$v")) ++
        minCols.map(v => s"__ps_off_m_$v"))

    // Join the offsets back on (pid, group). Group keys join with
    // null-safe equality (<=>): pass 1's groupBy keeps a null group,
    // and a plain equi-join would silently drop its rows. Only the
    // global partials are bounded by construction (≤ one row per
    // shuffle partition), so only they carry a broadcast hint.
    val oPid = "__ps_o_pid"
    val oGroup = groupCols.indices.map(i => s"__ps_o_g$i")
    val offsets = off.select((col(pid).as(oPid) +:
      groupCols.zip(oGroup).map { case (c, a) => col(c).as(a) }) ++
      helperCols.map(col): _*)
    val joinCond = groupCols.zip(oGroup).foldLeft(col(pid) === col(oPid)) {
      case (acc, (c, a)) => acc && (col(c) <=> col(a))
    }
    val joined = parted
      .join(if (groupCols.isEmpty) broadcast(offsets) else offsets, joinCond)
      .drop((oPid +: oGroup): _*)

    // Pass 3: local rank / running sums per (pid, group) slice plus the
    // slice's offset. The exclusive frame for minsExcl is empty on a
    // slice's first row, so the local min is null there and least()
    // passes the prior-slice offset through (itself null on the group's
    // true first row); least() skips nulls, the "no value yet" merge.
    val wLoc = Window.partitionBy(slice: _*).orderBy(sortCols: _*)
    val wRun = wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wExcL = wLoc.rowsBetween(Window.unboundedPreceding, -1)
    var out = joined
    rank.foreach { o =>
      out = out.withColumn(o, row_number().over(wLoc).cast("long") + col("__ps_off_cnt"))
    }
    sums.foreach { case (v, o) =>
      out = out.withColumn(o, sum(col(v)).over(wRun) + col(s"__ps_off_$v"))
    }
    totals.foreach { case (v, o) => out = out.withColumn(o, col(s"__ps_tot_$v")) }
    countTotal.foreach { o => out = out.withColumn(o, col("__ps_tot_cnt")) }
    mins.foreach { case (v, o) =>
      out = out.withColumn(o, least(min(col(v)).over(wRun), col(s"__ps_off_m_$v")))
    }
    minsExcl.foreach { case (v, o) =>
      out = out.withColumn(o, least(min(col(v)).over(wExcL), col(s"__ps_off_m_$v")))
    }
    out.drop((pid +: helperCols): _*)
  }

  /** The plain `Window.partitionBy(groupCols)` plan, semantically
    * identical to [[attach]] (same ranks, sums, totals) — and the RIGHT
    * distributed plan while every group is small, because WindowExec
    * already parallelizes #groups-way. Only [[attachAuto]] picks it, and
    * only for non-empty groupCols (a group-less window is one task).
    */
  private def windowRoute(
      df: DataFrame,
      groupCols: Seq[String],
      sortCols: Seq[Column],
      rank: Option[String],
      sums: Seq[(String, String)],
      totals: Seq[(String, String)],
      countTotal: Option[String]): DataFrame = {
    val wOrd = Window.partitionBy(groupCols.map(col): _*).orderBy(sortCols: _*)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // totals share the ORDERED spec with a full frame (same
    // partition+order ⇒ one WindowExec with the running sums, instead
    // of a second window pass) — sum/count over the full frame equals
    // the partition total
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    var out = df
    rank.foreach { o => out = out.withColumn(o, row_number().over(wOrd).cast("long")) }
    sums.foreach { case (v, o) => out = out.withColumn(o, sum(col(v)).over(wRun)) }
    totals.foreach { case (v, o) => out = out.withColumn(o, sum(col(v)).over(wAll)) }
    countTotal.foreach { o => out = out.withColumn(o, count(lit(1)).over(wAll)) }
    out
  }

  /** Session memo of [[attachAuto]]'s routing DECISION per (session,
    * tag, maxWindowDistinct). The probe (eager checkpoint + count +
    * per-group max) is metadata work, but it forces a materialization
    * barrier and extra jobs into every invocation of a routed query. A
    * caller-supplied stable tag (naming the (dataset, group, order,
    * filter) of the input) caches the boolean so repeat invocations
    * construct the fully LAZY routed plan. Only the decision is cached,
    * never data. The threshold is part of the key: a call site reusing
    * a tag with a different threshold must not inherit another
    * threshold's decision.
    */
  private val routeCache =
    graft.Artifacts.memo[(org.apache.spark.sql.SparkSession, String, Long), Boolean]()

  /** ROUTED grouped cumulation: the plain partitioned window
    * ([[windowRoute]]) while the LARGEST group of `df` holds ≤
    * `maxWindowDistinct` rows — at that size the window sorts a bounded
    * partition and beats the prefix machinery (measured at q_mad's
    * shape, sf0.1: window 5.6 s vs PrefixSum 9.6 s at 594k rows / 3
    * groups) — and [[attach]] when a group is bigger than that (the
    * single-task serialization the prefix path exists to kill) or when
    * there are no groups at all. Both routes produce identical
    * ranks/sums (exact integer arithmetic).
    *
    * The route comes from, in order: `knownMaxDistinct` (a stored
    * largest-group size, e.g. an ingest-maintained
    * [[graft.sources.TableStats]] scalar — no job, no checkpoint), the
    * [[routeCache]] decision for a non-null `tag`, or else a probe:
    * `df` is checkpointed once so the routing stat ([[windowSafe]])
    * never re-runs the input lineage, and both routes read the pinned
    * rows.
    */
  def attachAuto(
      df: DataFrame,
      groupCols: Seq[String],
      sortCols: Seq[Column],
      rank: Option[String] = None,
      sums: Seq[(String, String)] = Nil,
      totals: Seq[(String, String)] = Nil,
      countTotal: Option[String] = None,
      // the same single-task window ceiling as the quantile family —
      // one shared constant, not a duplicated literal
      maxWindowDistinct: Long = ExactQuantiles.SaturationGuard,
      tag: String = null,
      knownMaxDistinct: Option[Long] = None): DataFrame = {
    def route(in: DataFrame, safe: Boolean): DataFrame =
      if (safe) windowRoute(in, groupCols, sortCols, rank, sums, totals, countTotal)
      else attach(in, groupCols, sortCols, rank, sums, totals, countTotal)
    if (groupCols.isEmpty) return route(df, safe = false)
    val known = knownMaxDistinct.map(_ <= maxWindowDistinct).orElse(
      Option(tag).flatMap(t => routeCache.peek((df.sparkSession, t, maxWindowDistinct))))
    known match {
      case Some(safe) => route(df, safe)
      case None =>
        val pinned = graft.Artifacts.pin(df, eager = true)
        val safe = windowSafe(pinned, groupCols, maxWindowDistinct)
        if (tag != null)
          routeCache.put((df.sparkSession, tag, maxWindowDistinct), safe)
        route(pinned, safe)
    }
  }

  /** Routing stat for [[attachAuto]]: true (window-safe) when every
    * group of `df` holds ≤ `maxWindowDistinct` rows; an empty input
    * routes to the window trivially. Two tiers: the TOTAL count (a
    * shuffle-free job over an already-checkpointed input) upper-bounds
    * every group's count, so when it fits the per-group shuffle is
    * skipped entirely — the common case for saturating domains. Only a
    * total above the guard pays the per-group max.
    */
  private[graft] def windowSafe(df: DataFrame, groupCols: Seq[String],
      maxWindowDistinct: Long): Boolean =
    df.count() <= maxWindowDistinct || {
      val r = df.groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("__ps_g")).agg(max(col("__ps_g"))).head()
      r.isNullAt(0) || r.getLong(0) <= maxWindowDistinct
    }

  /** `ntile(k)` derived from a total-order rank and the group size —
    * the distributed replacement for `ntile(k).over(Window.orderBy(...))`.
    * Standard SQL tiling: the first (n % k) tiles hold ceil(n/k) rows,
    * the rest floor(n/k) (identical in Spark and DuckDB). All-integer:
    * the doubles inside floor() are exact well past 2^53 headroom.
    */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    val q = floor(n / k).cast("long")            // small-tile size
    val rem = n % k                              // number of big tiles
    val big = q + lit(1L)                        // big-tile size
    when(rank <= big * rem, floor((rank - 1) / big).cast("long") + 1L)
      .otherwise(rem + floor((rank - lit(1L) - big * rem) / q).cast("long") + 1L)
  }
}
