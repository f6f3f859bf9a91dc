package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import graft.Graft

/** A workload: what set-up builds, and the op the closed loop runs
  * next. `next` is called from `clients` threads at once.
  */
trait Workload {
  def clients: Int
  /** Ops in one pass over the workload's op set. */
  def passSize: Int
  def registerTables(ctx: Ctx): Unit
  def warm(ctx: Ctx): Unit
  /** Untimed preparation after set-up, before the loop starts. */
  def beforeLoop(ctx: Ctx): Unit = ()
  def next(ctx: Ctx, index: Long, client: Int): OpRecord
  /** Untimed end-of-run checks and workload-specific counters. */
  def finish(ctx: Ctx, ops: Seq[OpRecord]): Map[String, Any] = Map.empty
}

/** Query workloads: whole passes over an op set, each pass in a
  * seed-permuted order, issued by `clients` closed-loop clients.
  */
final class QueryWorkload(name: String, val clients: Int, seed: Long,
    expected: Map[String, String]) extends Workload {
  private val queries = Ops.opSet(name).toIndexedSeq
  private val orders = mutable.Map.empty[Long, IndexedSeq[Int]]

  def passSize: Int = queries.size

  private def order(pass: Long): IndexedSeq[Int] = orders.synchronized {
    orders.getOrElseUpdate(pass,
      if (pass == 0) queries.indices
      else new scala.util.Random(seed * 1000003L + pass).shuffle(queries.indices.toIndexedSeq))
  }

  def registerTables(ctx: Ctx): Unit = Graft.registerTables(ctx.spark, ctx.dataDir)
  def warm(ctx: Ctx): Unit = ()

  def next(ctx: Ctx, index: Long, client: Int): OpRecord = {
    // pass 0, the warm-up, runs in inventory order
    val pass = index / passSize
    val (m, q) = queries(order(pass)((index % passSize).toInt))
    Ops.runQuery(ctx, m, q, index.toInt + 1, pass, client, expected)
  }

  /** Every query of the op set once, in inventory order, digests only.
    * With `verified` (a `graft.Verify` output directory whose results
    * `tools/check.py` matched against the DuckDB oracle), each digest
    * must also equal the digest of the verified result.
    */
  def record(ctx: Ctx, verified: String): Map[String, String] =
    queries.zipWithIndex.map { case ((m, q), i) =>
      val r = Ops.runQuery(ctx, m, q, i + 1, 0, 0, Map.empty)
      if (r.digest.isEmpty) sys.error(s"${q.name} failed: ${r.error}")
      if (verified.nonEmpty) {
        val v = Digest.of(ctx.spark.read.parquet(s"$verified/${q.name}"))
        if (v != r.digest) sys.error(s"${q.name}: digest ${r.digest}, verified result $v")
      }
      q.name -> r.digest
    }.toMap
}

object Main {
  /** Whole passes a run measures at the least, so that its median
    * rests on more than one sample of each op.
    */
  val MinPasses = 2

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, data: String = "", work: String = "", out: String = "",
      expected: String = "", record: String = "", verified: String = "",
      setups: Int = 3)

  private def parse(argv: Array[String]): Args = {
    def go(a: Args, rest: List[String]): Args = rest match {
      case Nil => a
      case "--workload" :: v :: t => go(a.copy(workload = v), t)
      case "--seed" :: v :: t => go(a.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(a.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t => go(a.copy(trace = v == "1"), t)
      case "--data" :: v :: t => go(a.copy(data = v), t)
      case "--work" :: v :: t => go(a.copy(work = v), t)
      case "--out" :: v :: t => go(a.copy(out = v), t)
      case "--expected" :: v :: t => go(a.copy(expected = v), t)
      case "--record" :: v :: t => go(a.copy(record = v), t)
      case "--setups" :: v :: t => go(a.copy(setups = v.toInt), t)
      case "--verified" :: v :: t => go(a.copy(verified = v), t)
      case other => sys.error(s"unknown arguments: ${other.mkString(" ")}")
    }
    val a = go(Args(), argv.toList)
    require(a.workload.nonEmpty && a.data.nonEmpty && a.work.nonEmpty,
      "usage: Main --workload <name> --data <dir> --work <dir> --out <file> " +
        "[--seed n] [--seconds s] [--trace 0|1] [--expected file] [--setups n] " +
        "[--record file [--verified dir]]")
    a
  }

  /** A fixed single-thread integer loop: on a calm host every sample
    * reads the same, so a slow sample shows a contended run.
    */
  def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 100000000) { x ^= i * 2654435761L; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("")
    dt
  }

  private def procField(file: String, key: String): String =
    try Files.readAllLines(Paths.get(file)).asScala
      .find(_.startsWith(key)).map(_.stripPrefix(key).trim).getOrElse("")
    catch { case _: Throwable => "" }

  def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb(): Double =
    procField("/proc/self/status", "VmHWM:").split("\\s+").headOption
      .flatMap(_.toLongOption).map(_ / 1024.0).getOrElse(0.0)

  def workload(a: Args): Workload = {
    val expected = Json.readStrings(a.expected)
    a.workload match {
      case "olap" => new QueryWorkload("olap", 1, a.seed, expected)
      case "pipeline" => new QueryWorkload("pipeline", 4, a.seed, expected)
      case "ingest" => new Ingest(a.seed)
      case w => sys.error(s"unknown workload $w")
    }
  }

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val w = workload(a)
    val loadStart = loadAvg()
    val probeStart = cpuProbe()

    // Set-up, repeated so its time is a median: each repetition builds
    // a fresh session and everything the ops need.
    val setups = mutable.ArrayBuffer.empty[Map[String, Any]]
    var spark: SparkSession = null
    var jobs: JobListener = null
    var plans: PlanListener = null
    var ctx: Ctx = null
    for (rep <- 1 to math.max(1, a.setups)) {
      if (spark != null) {
        Graft.clearCaches()
        spark.stop()
      }
      val t0 = Clock.nowUs()
      spark = Graft.session()
      val t1 = Clock.nowUs()
      spark.sparkContext.setLogLevel("ERROR")
      if (a.trace) {
        jobs = new JobListener
        plans = new PlanListener
        spark.sparkContext.addSparkListener(jobs)
        spark.listenerManager.register(plans)
      }
      ctx = Ctx(spark, a.data, s"${a.work}/rep$rep", a.trace)
      Files.createDirectories(Paths.get(ctx.workDir))
      val sc = spark.sparkContext
      if (a.trace) sc.setJobGroup("setup/tables", "tables")
      w.registerTables(ctx)
      val t2 = Clock.nowUs()
      if (a.trace) sc.setJobGroup("setup/warm", "warm")
      w.warm(ctx)
      val t3 = Clock.nowUs()
      sc.clearJobGroup()
      if (a.trace) PerfbenchBus.drain(sc)
      System.err.println(f"[perfbench] set-up $rep: session ${secs(t0, t1)}%.2f s, " +
        f"tables ${secs(t1, t2)}%.2f s, warm ${secs(t2, t3)}%.2f s")
      setups += Map("session_s" -> secs(t0, t1), "tables_s" -> secs(t1, t2),
        "warm_s" -> secs(t2, t3), "total_s" -> secs(t0, t3),
        "warm_jobs" -> (if (a.trace) jobs.statsOf("setup/warm")("jobs") else -1L),
        "start" -> t0, "end" -> t3)
    }

    if (a.record.nonEmpty) {
      val digests = w match {
        case q: QueryWorkload => q.record(ctx, a.verified)
        case _ => sys.error("--record applies to query workloads")
      }
      Files.writeString(Paths.get(a.record),
        Json.write(scala.collection.immutable.TreeMap(digests.toSeq: _*)) + "\n")
      spark.stop()
      return
    }

    w.beforeLoop(ctx)
    // The closed loop: each client issues its next op when the last
    // one returns. A warm-up pass runs first, the op set once in the
    // same order for every seed, so that JIT compilation and the
    // engine's lazily built artifacts are in place before timing; its
    // ops are checked like any other. Then the measured window runs
    // seed-permuted passes until the deadline, and at least MinPasses
    // whole passes.
    val records = new ConcurrentLinkedQueue[OpRecord]()
    val counter = new AtomicLong(0)
    def loop(more: Long => Boolean): Unit = {
      val threads = (0 until w.clients).map { c =>
        val t = new Thread(() => {
          var i = counter.getAndIncrement()
          while (more(i)) {
            records.add(w.next(ctx, i, c))
            i = counter.getAndIncrement()
          }
        }, s"perfbench-client-$c")
        t.start()
        t
      }
      threads.foreach(_.join())
    }
    val wStart = Clock.nowUs()
    loop(_ < w.passSize)
    counter.set(w.passSize)
    val mStart = Clock.nowUs()
    val deadline = mStart + (a.seconds * 1e6).toLong
    loop(i => i < (1L + MinPasses) * w.passSize || Clock.nowUs() < deadline)
    val mEnd = Clock.nowUs()
    val ops = records.asScala.toSeq.sortBy(_.id)
    val extra = w.finish(ctx, ops)
    val probeEnd = cpuProbe()
    val loadEnd = loadAvg()

    val traceOut: Map[String, Any] =
      if (!a.trace) Map.empty
      else {
        PerfbenchBus.drain(spark.sparkContext)
        val spans = Spans.build(ops, jobs, plans)
        Map("spans" -> spans,
          // the listeners' evidence for each op: its jobs by phase and,
          // for a query op, whether its planning was recorded
          "groups" -> ops.map(o => o.id.toString -> Map(
            "construct" -> jobs.statsOf(Ops.constructGroup(o.id)),
            "action" -> jobs.statsOf(Ops.actionGroup(o.id)),
            "planned" -> plans.planEnd(Ops.ObsPrefix + o.id).isDefined)).toMap)
      }

    val rt = Runtime.getRuntime
    val meta = Map(
      "nproc" -> rt.availableProcessors(),
      "heap_max_mb" -> rt.maxMemory() / (1024 * 1024),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "cpu_probe_s" -> Seq(probeStart, probeEnd),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "spark_conf" -> scala.collection.immutable.TreeMap(
        (spark.sparkContext.getConf.getAll.toSeq ++ spark.conf.getAll.toSeq)
          .filterNot(_._1.contains("password")): _*))
    val out = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds, "clients" -> w.clients, "pass_size" -> w.passSize, "data" -> a.data,
      "modules" -> Ops.reportedModules(a.workload),
      "warmup_start" -> wStart, "first_pass" -> 1,
      "measure_start" -> mStart, "measure_end" -> mEnd,
      "rss_peak_mb" -> rssPeakMb(),
      "meta" -> meta, "setup" -> setups.toSeq, "ops" -> ops,
      "extra" -> extra) ++ traceOut
    Files.writeString(Paths.get(a.out), Json.write(out) + "\n")
    spark.stop()
  }
}
