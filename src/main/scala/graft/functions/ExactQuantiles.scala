package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Exact per-group quantiles WITHOUT value buffering — the scale-safe
  * replacement for Spark's `percentile` / `percentile_disc`
  * aggregates, which hold every group value in one executor-heap
  * ObjectHashAggregate buffer (a corpus-fraction group OOMs the
  * executor; PlanAuditSpec's named scale-killer).
  *
  * Method (the q_percentile_window trick, generalized — VERDICT r10
  * item 3): a map-side-combinable count aggregate first reduces the
  * input to (group, value, count) rows — distinct values ≪ rows on
  * any real corpus, and the distinct set SATURATES as data grows
  * (integer cents/µs/days domains) while row counts don't. A
  * distributed running sum ([[PrefixSum]] — never a single-partition
  * window) assigns each distinct value its rank interval
  * [cum−c+1, cum]; a value survives to the final tiny aggregate iff
  * its interval contains a boundary rank of some requested quantile.
  * Nothing data-proportional is ever held per task:
  * the heaviest intermediate is the |distinct| row table, partitioned
  * like any aggregate.
  *
  * Semantics (both verified against the DuckDB oracle family):
  *  - [[cont]]: interpolated percentile (Spark `percentile` ≡
  *    Postgres `percentile_cont` ≡ DuckDB `quantile_cont`): rank
  *    r = 1 + p·(n−1) in double (the same formula both engines use),
  *    result = v_floor(r) + (r−⌊r⌋)·(v_ceil(r) − v_floor(r)).
  *  - [[disc]]: discrete percentile (Postgres `percentile_disc` ≡
  *    DuckDB `quantile_disc`): the value at rank max(1, ⌈p·n⌉). The
  *    rank product runs in DECIMAL so a p like 0.9 (not
  *    double-representable) cannot ulp-push ⌈p·n⌉ past an exact
  *    integer boundary — the discrete jump makes that a WRONG VALUE,
  *    not a rounding blur.
  *
  * Construction runs jobs only for what the route needs: the routing
  * probe when no stored stat is passed, and PrefixSum's lazy
  * checkpoint on the prefix route (see [[PrefixSum]]). A stored stat
  * that routes to the window builds a fully lazy plan.
  */
object ExactQuantiles {

  /** Distinct-values-per-largest-group threshold above which the
    * grouped cumulation abandons the plain partitioned window for
    * [[PrefixSum]]'s distributed cumsum (r11 verdict watch item: a
    * genuinely continuous value column — q_mad's ~99%-unique double
    * deviations — makes a window partition approach the raw group
    * size, the single-task serialization this operator exists to
    * kill). 2M distinct rows × ~30 B ≈ 60 MB sorted in one task is
    * the accepted ceiling; past it the domain is presumed
    * non-saturating.
    */
  val SaturationGuard: Long = 1L << 21

  /** Session-warm memo of the ranked distinct-value table per
    * (session, tag) — VERDICT r13 item 2. Construction of a quantile
    * query can run jobs (routing probe, prefix checkpoint); queries over
    * the SAME (dataset, groups, value) triple were each paying that
    * fixed cost per invocation. A caller-supplied `tag` (stable
    * string naming the triple, e.g. s"$dir#lineitem.l_returnflag
    * .l_quantity") shares ONE warmed table across cont/disc calls and
    * across repeated invocations — the Dedup.warm precedent. The memo
    * holds the CUMULATION (rank intervals), which depends only on the
    * triple, never on the requested percentiles.
    */
  private val rankedCache =
    graft.Artifacts.memo[(org.apache.spark.sql.SparkSession, String), DataFrame]()

  /** The ingest-maintained saturation scalar for a (sfDir, table)
    * source — the [[graft.sources.TableStats]] enrollment named after
    * `groupCols :+ valueCol` (the same convention SkewRouter's
    * plainWindowSafeForSource uses). Zero Spark jobs; `None` for a
    * plain parquet corpus (one file-exists check) or a stale stat,
    * both of which fall back to [[PrefixSum.attachAuto]]'s probe. Pass the
    * result as `knownMaxDistinct` so a stats-bearing snapshot table
    * constructs its quantile plan job-free (TableStatsIngestSpec).
    */
  def knownMaxDistinctForSource(sfDir: String, table: String,
      groupCols: Seq[String], valueCol: String): Option[Long] =
    graft.sources.TableStats.stored(s"$sfDir/$table.parquet",
      (groupCols :+ valueCol).mkString("_")).flatMap(_.maxDistinctPerGroup)

  /** Interpolated percentiles, wide output: one row per group with a
    * double column per requested (p, name). Empty `groupCols` = one
    * global row. A non-null `tag` memoizes the ranked distinct table
    * per (session, tag) — see [[rankedCache]].
    */
  def cont(df: DataFrame, groupCols: Seq[String], valueCol: String,
      ps: Seq[(Double, String)],
      maxWindowDistinct: Long = SaturationGuard,
      tag: String = null,
      knownMaxDistinct: Option[Long] = None): DataFrame = {
    val pArr = typedLit(ps.map(_._1))
    val cum = rankedValuesTagged(df, groupCols, valueCol, maxWindowDistinct,
      tag, knownMaxDistinct)
    def r(p: Column): Column = lit(1) + p * (col("__eq_n") - 1)
    def hits(rr: Column): Column =
      (floor(rr) >= col("__eq_lo") && floor(rr) <= col("__eq_cum")) ||
        (ceil(rr) >= col("__eq_lo") && ceil(rr) <= col("__eq_cum"))
    val kept = cum
      // only boundary rows explode: |groups|·|ps|·≤2 rows survive.
      // The requested ps are STATIC, so the boundary predicate is a
      // plain OR chain instead of exists(array, lambda) (r17): Spark
      // evaluates higher-order-function lambdas interpreted, per row
      // per element — measured 2.3 s of q_percentile_window's 3.7 s
      // at sf0.1 — while the unrolled disjunction whole-stage-
      // codegens. Identical semantics, element count is |ps| (≤7).
      // reduceOption (ADVICE r17): empty ps must yield an empty
      // result like exists() did, not throw.
      .filter(ps.map { case (p, _) => hits(r(lit(p))) }
        .reduceOption(_ || _).getOrElse(lit(false)))
      .select(groupCols.map(col) ++ Seq(col(valueCol), col("__eq_lo"),
        col("__eq_cum"), col("__eq_n"), explode(pArr).as("__eq_p")): _*)
      .withColumn("__eq_r", r(col("__eq_p")))
      .filter(hits(col("__eq_r")))
    val byP = kept
      .groupBy(groupCols.map(col) :+ col("__eq_p"): _*)
      .agg(
        min(when(floor(col("__eq_r")).between(col("__eq_lo"), col("__eq_cum")),
          col(valueCol))).as("__eq_vlo"),
        max(when(ceil(col("__eq_r")).between(col("__eq_lo"), col("__eq_cum")),
          col(valueCol))).as("__eq_vhi"),
        max(col("__eq_r")).as("__eq_rr"))
      .withColumn("__eq_q",
        col("__eq_vlo").cast("double") +
          (col("__eq_rr") - floor(col("__eq_rr"))) *
            (col("__eq_vhi").cast("double") - col("__eq_vlo").cast("double")))
    widen(byP, groupCols, ps)
  }

  /** Discrete percentiles (value at rank max(1, ⌈p·n⌉)), wide output;
    * result columns keep the value column's own type.
    */
  def disc(df: DataFrame, groupCols: Seq[String], valueCol: String,
      ps: Seq[(Double, String)],
      maxWindowDistinct: Long = SaturationGuard,
      tag: String = null,
      knownMaxDistinct: Option[Long] = None): DataFrame = {
    // exact decimal p: ⌈p·n⌉ must not jump a value boundary because
    // 0.9·n landed 2⁻⁵² above the integer it mathematically is
    val pArr = array(ps.map { case (p, _) =>
      struct(lit(p).as("p"),
        lit(new java.math.BigDecimal(p.toString))
          .cast(DecimalType(12, 6)).as("pd"))
    }: _*)
    val cum = rankedValuesTagged(df, groupCols, valueCol, maxWindowDistinct,
      tag, knownMaxDistinct)
    def rOf(pd: Column): Column =
      greatest(ceil(pd * col("__eq_n")).cast("long"), lit(1L))
    // static OR chain, not exists(array, lambda) — see cont() (r17);
    // reduceOption guards the empty-ps edge (ADVICE r17)
    val byP = cum
      .filter(ps.map { case (p, _) =>
        rOf(lit(new java.math.BigDecimal(p.toString))
          .cast(DecimalType(12, 6))).between(col("__eq_lo"), col("__eq_cum"))
      }.reduceOption(_ || _).getOrElse(lit(false)))
      .select(groupCols.map(col) ++ Seq(col(valueCol), col("__eq_lo"),
        col("__eq_cum"), col("__eq_n"), explode(pArr).as("__eq_ps")): _*)
      .withColumn("__eq_p", col("__eq_ps.p"))
      .withColumn("__eq_r", rOf(col("__eq_ps.pd")))
      .filter(col("__eq_r").between(col("__eq_lo"), col("__eq_cum")))
      .groupBy(groupCols.map(col) :+ col("__eq_p"): _*)
      .agg(min(col(valueCol)).as("__eq_q")) // exactly one row qualifies
    widen(byP, groupCols, ps)
  }

  /** (group, value, count) pre-aggregation + rank intervals: value at
    * cumulative count `cum` with multiplicity `c` occupies ranks
    * [lo, cum] = [cum−c+1, cum]; `n` is the group row count.
    *
    * The cumulation is one [[PrefixSum.attachAuto]] call over the
    * distinct-value table, so the window-versus-prefix choice is made in
    * one place:
    *  - GLOBAL quantiles (no groups) always take [[PrefixSum]]'s
    *    distributed cumsum — a group-less window is ONE partition over
    *    a domain with no saturation guarantee.
    *  - GROUPED quantiles take the plain `Window.partitionBy(groups)`
    *    while the LARGEST group's distinct-value count is ≤
    *    `maxWindowDistinct`: the window input saturates (integer
    *    cents/µs/days domains repeat long before row counts stop
    *    growing), and measured at sf0.1 this is ~2× cheaper per call
    *    than the prefix machinery when |groups| is small. Above the
    *    guard (a genuinely continuous domain — q_mad's ~99%-unique
    *    double deviations at corpus scale) the grouped PrefixSum
    *    cumsum takes over.
    *  - The stat is `knownMaxDistinct` when the caller has it (no job,
    *    no checkpoint); otherwise attachAuto checkpoints the distinct
    *    table once and probes it, so the RAW input is scanned exactly
    *    once — never a second raw scan for routing.
    * The two routes are rank-identical (counts are exact longs), so the
    * switch is invisible to results — pinned both ways in
    * ExactQuantilesSpec.
    */
  private def rankedValuesTagged(df: DataFrame, groupCols: Seq[String],
      valueCol: String, maxWindowDistinct: Long, tag: String,
      knownMaxDistinct: Option[Long]): DataFrame =
    if (tag == null)
      rankedValues(df, groupCols, valueCol, maxWindowDistinct, knownMaxDistinct)
    else rankedCache.get((df.sparkSession, tag)) {
      // Checkpoint the CUMULATION, not just the distinct table (r17):
      // the memoized DataFrame used to carry the rank-interval window
      // LAZILY, so every consumer invocation re-ran the distinct-agg
      // sort+cumsum (measured: the window pass was ~70% of q_mad's and
      // q_percentile_disc's per-invocation cost, on a table that never
      // changes within a session). The lazy checkpoint materializes on
      // the FIRST CONSUMER'S action — inside that query's timed region
      // (r18, VERDICT r17 item 1: warm must not pre-build per-query
      // subplans; the r17 materializeTagged warm hook is deleted).
      // Later same-session consumers read the pinned rows; rows are
      // byte-identical either way.
      graft.Artifacts.pin(rankedValues(df, groupCols, valueCol, maxWindowDistinct,
        knownMaxDistinct), eager = false)
    }

  private def rankedValues(df: DataFrame, groupCols: Seq[String],
      valueCol: String, maxWindowDistinct: Long,
      knownMaxDistinct: Option[Long]): DataFrame = {
    val distinctTable = df.groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__eq_c"))
    PrefixSum.attachAuto(distinctTable, groupCols, Seq(col(valueCol)),
        sums = Seq("__eq_c" -> "__eq_cum"),
        totals = Seq("__eq_c" -> "__eq_n"),
        maxWindowDistinct = maxWindowDistinct,
        knownMaxDistinct = knownMaxDistinct)
      .withColumn("__eq_lo", col("__eq_cum") - col("__eq_c") + 1)
  }

  private def widen(byP: DataFrame, groupCols: Seq[String],
      ps: Seq[(Double, String)]): DataFrame = {
    val aggs = ps.map { case (p, name) =>
      max(when(col("__eq_p") === lit(p), col("__eq_q"))).as(name)
    }
    if (groupCols.isEmpty) byP.agg(aggs.head, aggs.tail: _*)
    else byP.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
