package graft

import org.scalatest.funsuite.AnyFunSuite

/** Graft.clearCaches: dropping every per-(session, dataset) memo —
  * table relations, eventsByDate layout, LSH signature/pair
  * checkpoints, graph edge table, text and vector index roots — must
  * be invisible to results: a cleared session re-derives each artifact
  * identically. This is the long-lived-service contract (VERDICT r5
  * #7): the memos bound a Verify/Bench run's rework, not a service's
  * memory, and a clear leaves no temp root behind. The suite also
  * holds the pin seam: only `Artifacts` pins or releases a DataFrame,
  * and a write that fails releases what it pinned. And the session
  * seam: only `Graft.session` builds a SparkSession, so every tool runs
  * the engine's configuration, and suites take temp dirs from
  * `Artifacts.exitRoot`, which deletes them at JVM exit.
  */
class CachesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  /** One query per memo family: verified-pair checkpoint (Dedup),
    * edge-table checkpoint (Graphs), eventsByDate layout (Tables —
    * q_events_pruned actually consumes Tables.eventsByDate, so the
    * clear→rewrite→re-read path of the partitioned layout is pinned;
    * q_sessionize covers the flat events relation), plain relation
    * memo (any TPC-H query), and the two stream-built index roots
    * (text and vector), whose builds write a second, transaction root.
    */
  private val probes =
    Seq("q_dedup_minhash", "q_triangles", "q_sessionize",
      "q_events_pruned", "q_pricing_summary", "q_index_bm25_stream",
      "q_ann_ivf_stream")

  private def snapshot(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf)
      .collect().map(_.toString).sorted.toSeq

  test("a cleared session re-derives every memoized artifact identically") {
    val before = probes.map(n => n -> snapshot(n)).toMap
    Graft.clearCaches()
    val after = probes.map(n => n -> snapshot(n)).toMap
    probes.foreach { n =>
      assert(after(n) == before(n), s"$n diverged across clearCaches()")
      assert(before(n).nonEmpty, s"$n returned no rows — probe is vacuous")
    }
  }

  test("clearCaches deletes every temp root the artifacts wrote, except the events layout") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def graftDirs(): Set[java.nio.file.Path] = {
      val ls = java.nio.file.Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("graft-") &&
            java.nio.file.Files.isDirectory(p))
          .toSet
      } finally ls.close()
    }
    Graft.clearCaches() // start cold, so this pass builds every root
    val before = graftDirs()
    Graft.warmAll(spark, sf)
    assert(snapshot("q_dedup_minhash_incremental").nonEmpty)
    val created = (graftDirs() -- before)
      .filterNot(_.getFileName.toString.startsWith("graft-part-"))
    assert(created.nonEmpty, "the pass created no temp root — probe is vacuous")
    Graft.clearCaches()
    val leaked = created.filter(java.nio.file.Files.exists(_))
    assert(leaked.isEmpty, s"clearCaches left temp roots behind: ${leaked.mkString(", ")}")
  }

  test("clearCaches is idempotent and safe on an empty cache state") {
    Graft.clearCaches()
    Graft.clearCaches() // second clear: no throw
    assert(snapshot("q_pricing_summary").nonEmpty)
  }

  test("Memo.peek never re-runs a failed compute (poisoned holder reads as absent)") {
    // a Scala lazy val RETRIES a throwing initializer on the next
    // force — peek inside a cache-CLEAR path must not relaunch the
    // failed build (or rethrow and abort the remaining clears)
    val m = Artifacts.memo[String, String]()
    var calls = 0
    intercept[RuntimeException] {
      m.get("k") { calls += 1; throw new RuntimeException("boom") }
    }
    assert(calls == 1)
    assert(m.peek("k").isEmpty, "poisoned holder must read as absent")
    assert(calls == 1, "peek re-ran the failed compute")
    // get() on the poisoned key retries the ORIGINAL thunk (lazy val
    // semantics) — remove() is the recovery path, then a fresh get
    // memoizes normally
    intercept[RuntimeException] { m.get("k")("never evaluated") }
    assert(calls == 2)
    m.remove("k")
    assert(m.get("k")("ok") == "ok")
    assert(m.peek("k").contains("ok"))
  }

  test("Memo: a get on another key returns while a build is blocked") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val m = Artifacts.memo[String, String]()
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var aDone = false
    val builder = new Thread(() => {
      m.get("A") { started.countDown(); release.await(60, TimeUnit.SECONDS); aDone = true; "a" }
      ()
    })
    builder.start()
    try {
      assert(started.await(60, TimeUnit.SECONDS), "the build for A never started")
      assert(m.get("B")("b") == "b")
      assert(!aDone, "get(B) waited for the build of A")
    } finally {
      release.countDown()
      builder.join(60000)
    }
    assert(m.peek("A").contains("a"))
  }

  test("Memo: a get on another key from inside a build of the same memo returns") {
    // what lets Tables.eventsByDate read events() from its own memo
    val m = Artifacts.memo[String, String]()
    assert(m.get("A")(m.get("B")("b") + "a") == "ba")
    assert(m.peek("B").contains("b"))
  }

  test("a write whose commit fails releases its pins") {
    import spark.implicits._
    import sources.{SnapshotTable, TextIndex, VectorIndex}
    def pinsLeft(write: => Any): Set[Int] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      intercept[SnapshotTable.ConstraintViolation](write)
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }
    val vi = Artifacts.exitRoot("graft-pins-vi")
    VectorIndex.build(spark, Seq((1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label"), vi)
    SnapshotTable.addConstraint(vi, "small_ids", "vec_id < 100")
    // vec 1 is replaced (a second pin), vec 100 fails the constraint
    val vLeft = pinsLeft(VectorIndex.upsert(spark,
      Seq((1L, Seq(0.5f, 0.5f), 0), (100L, Seq(0.9f, 0.1f), 0))
        .toDF("vec_id", "embedding", "label"), vi))
    val ti = Artifacts.exitRoot("graft-pins-ti")
    TextIndex.build(spark, Seq((1L, "red fish")).toDF("doc_id", "text"), ti)
    SnapshotTable.addConstraint(ti, "small_ids", "doc_id < 100")
    val tLeft = pinsLeft(TextIndex.append(spark,
      Seq((100L, "blue fish")).toDF("doc_id", "text"), ti))
    assert(vLeft.isEmpty && tLeft.isEmpty,
      s"pinned RDDs left by VectorIndex.upsert: $vLeft, by TextIndex.append: $tLeft")
  }

  /** Every `.scala` file under `dir` (relative to the project root). */
  private def scalaFiles(dir: java.nio.file.Path): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    assert(java.nio.file.Files.isDirectory(dir), s"no sources at ${dir.toAbsolutePath}")
    val walk = java.nio.file.Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("only Artifacts pins a DataFrame or releases its blocks") {
    val src = java.nio.file.Paths.get("src", "main", "scala")
    val files = scalaFiles(src)
    // a hand-written release (a `try … finally` one included) has to
    // call `unpersist` or the old `freeLocalCheckpoint` helper
    val banned =
      """\.(localCheckpoint|checkpoint|unpersist)\(|freeLocalCheckpoint""".r
    val hits = files.filter(_.getFileName.toString != "Artifacts.scala").flatMap { f =>
      banned.findAllIn(java.nio.file.Files.readString(f)).map(m => s"$f: $m")
    }
    assert(files.size > 50, s"only ${files.size} sources found under $src")
    if (hits.nonEmpty) fail(s"pin or release outside Artifacts:\n${hits.mkString("\n")}")
  }

  test("only Graft.session builds a session; suites make temp dirs through Artifacts") {
    def holding(dir: java.nio.file.Path, needle: String, allowed: Set[String]) =
      scalaFiles(dir).filter(f => !allowed(f.getFileName.toString) &&
        java.nio.file.Files.readString(f).contains(needle))
    // each needle is split so that this file does not match it
    val builders = holding(java.nio.file.Paths.get("src"), "SparkSession" + ".builder",
      Set("Graft.scala", "ExtensionsSpec.scala"))
    // the four fuzz, drift and race suites delete their tables in afterAll
    val tempDirs = holding(java.nio.file.Paths.get("src", "test"), "createTemp" + "Directory",
      Set("SnapshotFuzzSpec.scala", "SnapshotPruneFuzzSpec.scala",
        "SnapshotRaceFuzzSpec.scala", "SnapshotSchemaDriftSpec.scala"))
    def section(what: String, files: Seq[java.nio.file.Path]) =
      if (files.isEmpty) Nil else s"${files.size} files $what:" +: files.map(_.toString)
    val report = section("build their own SparkSession", builders) ++
      section("make temp dirs outside Artifacts.exitRoot", tempDirs)
    if (report.nonEmpty) fail(report.mkString("\n"))
  }

  test("only SnapshotTable retries a write conflict; no writer takes a retry count") {
    // each needle is split so that this file does not match it
    val catches = "SnapshotConflict" + " =>"
    val counts = ("max" + "Retries|max" + "ConflictRetries").r
    val hits = scalaFiles(java.nio.file.Paths.get("src", "main", "scala")).flatMap { f =>
      val text = java.nio.file.Files.readString(f)
      val caught =
        if (f.getFileName.toString != "SnapshotTable.scala" && text.contains(catches))
          Seq(s"$f: catches the conflict")
        else Nil
      caught ++ counts.findAllIn(text).distinct.map(m => s"$f: $m")
    }
    if (hits.nonEmpty)
      fail(s"conflict retry outside SnapshotTable.retrying:\n${hits.mkString("\n")}")
  }

  test("a JVM that exits without a clear deletes its temp roots and events layout") {
    import scala.jdk.CollectionConverters._
    import scala.sys.process._
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvm ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.ExitRootsProbe", sf)
    val out = new StringBuilder
    val code = Process(cmd).!(ProcessLogger(l => { out.append(l).append('\n'); () }, _ => ()))
    assert(code == 0, s"probe JVM failed:\n$out")
    val dirs = out.toString.linesIterator.collect {
      case l if l.startsWith("root ") => java.nio.file.Paths.get(l.drop(5))
    }.toSeq
    assert(dirs.size == 2, s"probe did not report its two roots:\n$out")
    assert(dirs.exists(_.getFileName.toString.startsWith("graft-part-")),
      s"no events layout root among $dirs")
    val left = dirs.filter(java.nio.file.Files.exists(_))
    assert(left.isEmpty, s"roots outlived the JVM: ${left.mkString(", ")}")
  }
}

/** Child JVM for CachesSpec: makes an artifact temp root and the events
  * layout, prints both, and exits without `Graft.clearCaches`.
  */
object ExitRootsProbe {
  def main(args: Array[String]): Unit = {
    val root = Artifacts.tempRoot("graft-exitprobe-")
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "f"), Array[Byte](1))
    val spark = Graft.session("local[1]", Some(1))
    val file = Tables.eventsByDate(spark, args(0)).inputFiles.head
    val part = Iterator.iterate(java.nio.file.Paths.get(new java.net.URI(file)))(_.getParent)
      .find(_.getFileName.toString.startsWith("graft-part-")).get
    println(s"root $root")
    println(s"root $part")
    sys.exit(0)
  }
}
