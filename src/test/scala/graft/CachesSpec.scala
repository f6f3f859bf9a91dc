package graft

import org.scalatest.funsuite.AnyFunSuite

/** Graft.clearCaches: dropping every per-(session, dataset) memo —
  * table relations, eventsByDate layout, LSH signature/pair
  * checkpoints, graph edge table, text and vector index roots — must
  * be invisible to results: a cleared session re-derives each artifact
  * identically. This is the long-lived-service contract (VERDICT r5
  * #7): the memos bound a Verify/Bench run's rework, not a service's
  * memory, and a clear leaves no temp root behind.
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
}
