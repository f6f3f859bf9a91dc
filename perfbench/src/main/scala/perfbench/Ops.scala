package perfbench

import org.apache.spark.sql.{Observation, SparkSession}
import graft.{QueryDef, SparkEntry}

/** One executed op of the closed loop, from pass `pass` of its
  * workload's op set. Times are epoch microseconds: construction runs
  * from `start` to `split` (query ops; empty for ingest ops), the
  * action from `act` to `end`. Between `split` and `act` the harness
  * wraps the query for its output check; that interval is not part of
  * the op's time. `digest` is the output digest the op produced.
  */
final case class OpRecord(id: Int, pass: Long, name: String, module: String,
    kind: String, client: Int, start: Long, split: Long, act: Long, end: Long,
    ok: Boolean, digest: String, error: String)

/** What every op of a run can reach. `trace` turns on job groups, the
  * only per-op tracing cost paid on the timed path.
  */
final case class Ctx(spark: SparkSession, dataDir: String, workDir: String,
    trace: Boolean)

object Ops {
  /** Prefix of the observation that carries a query op's digest; the
    * plan listener uses it to find the op an action belongs to.
    */
  val ObsPrefix = "perfbench_op_"

  def constructGroup(id: Int): String = s"op$id/construct"
  def actionGroup(id: Int): String = s"op$id/action"

  def moduleName(m: AnyRef): String = m.getClass.getSimpleName.stripSuffix("$")

  /** (module, query) for every query of the named modules, in
    * inventory order.
    */
  def queriesOf(modules: Seq[String]): Seq[(String, QueryDef)] = {
    val byName = SparkEntry.modules.map(m => moduleName(m) -> m).toMap
    modules.flatMap { m =>
      val mod = byName.getOrElse(m, sys.error(s"no query module $m"))
      mod.defs.map(m -> _)
    }
  }

  /** The 12 relational and analytic modules (204 queries). */
  val OlapModules: Seq[String] = Seq("Relational", "Joins", "Aggregations",
    "Windows", "SetOps", "Functions", "Subqueries", "Analytics", "Supply",
    "Lifecycle", "EventsTime", "SqlText")
  /** The LLM-data-pipeline modules (77 queries). */
  val PipelineModules: Seq[String] = Seq("Dedup", "Similarity", "TextAnalysis")

  /** Queries over the persisted text and vector index roots, whose
    * first use builds the index (the ingest-class builds of
    * `Graft.warmAll`). A run is too short to amortise those builds;
    * the ingest workload drives `TextIndex` directly instead.
    */
  def overPersistedIndex(name: String): Boolean =
    name.startsWith("q_index_") ||
      Seq("_indexed", "_stream", "_postdelete").exists(name.endsWith)

  /** A workload's op set: from each module, one query per `stride`
    * of its inventory (at least one), at the centres of equal slices
    * of it, so that every module is sampled and a whole pass fits in
    * one run. A run's statistics come from whole passes, so every run
    * measures the same queries whatever its seed.
    */
  def opSet(workload: String): Seq[(String, QueryDef)] = workload match {
    case "olap" => sample(OlapModules, OlapStride, _ => true)
    case "pipeline" => sample(PipelineModules, PipelineStride, q => !overPersistedIndex(q.name))
    case w => sys.error(s"$w is not a query workload")
  }
  val OlapStride = 32
  val PipelineStride = 4

  private def sample(modules: Seq[String], stride: Int,
      keep: QueryDef => Boolean): Seq[(String, QueryDef)] =
    modules.flatMap { m =>
      val qs = queriesOf(Seq(m)).filter(q => keep(q._2)).toIndexedSeq
      val c = (qs.size + stride - 1) / stride
      (0 until c).map(j => qs((2 * j + 1) * qs.size / (2 * c)))
    }

  /** The modules whose per-module split a traced run reports: the
    * pipeline workload's own, and the olap modules for the others, so
    * that a traced run of every workload in BENCHMARK.json yields the
    * same metrics.
    */
  def reportedModules(workload: String): Seq[String] =
    if (workload == "pipeline") PipelineModules else OlapModules

  /** Constructs the query through the module function, then runs it
    * through the noop sink and compares its digest with `expected`
    * (no entry: the op records its digest and fails the check).
    */
  def runQuery(ctx: Ctx, module: String, q: QueryDef, id: Int, pass: Long,
      client: Int, expected: Map[String, String]): OpRecord = {
    val sc = ctx.spark.sparkContext
    val t0 = Clock.nowUs()
    var t1 = t0
    var t2 = t0
    try {
      if (ctx.trace) sc.setJobGroup(constructGroup(id), q.name)
      val df = q.fn(ctx.spark, ctx.dataDir)
      t1 = Clock.nowUs()
      val obs = Observation(ObsPrefix + id)
      val checked = Digest.observed(df, obs)
      if (ctx.trace) sc.setJobGroup(actionGroup(id), q.name)
      t2 = Clock.nowUs()
      val d = Digest.action(checked, obs)
      val t3 = Clock.nowUs()
      val err = expected.get(q.name) match {
        case Some(w) if w == d => ""
        case Some(w) => s"digest $d, expected $w"
        case None => "no expected digest"
      }
      OpRecord(id, pass, q.name, module, "query", client, t0, t1, t2, t3, err.isEmpty, d, err)
    } catch {
      case e: Throwable =>
        OpRecord(id, pass, q.name, module, "query", client, t0, t1, math.max(t1, t2),
          Clock.nowUs(), ok = false, "",
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally if (ctx.trace) sc.clearJobGroup()
  }
}
