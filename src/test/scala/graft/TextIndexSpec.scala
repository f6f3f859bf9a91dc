package graft

import graft.sources.{SnapshotTable, TextIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Inverted text index (sources/TextIndex): the bucket-sliced postings
  * table must answer term searches EXACTLY like a raw corpus scan —
  * the index is an access path, never a semantics change — while
  * opening only the probed buckets' files; incremental appends merge
  * postings by (token, doc) and rewrite only the touched buckets.
  */
class TextIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(): String =
    Artifacts.exitRoot("graft-ti")

  // raw-scan reference: same tokenization, same ranking
  private def rawSearch(docs: org.apache.spark.sql.DataFrame,
      terms: Seq[String], k: Int) = {
    val t = terms.distinct
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token").isin(t: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("token")).as("nt"),
        sum(col("tf")).cast("long").as("score"))
      .filter(col("nt") === t.size)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  private lazy val docs = Tables.documents(spark, TestSpark.sf0001)

  test("index-backed search equals the raw corpus scan") {
    val root = freshRoot()
    TextIndex.build(spark, docs, root)
    for (terms <- Seq(Seq("table"), Seq("spark", "vector"),
        Seq("spark", "vector", "stream"))) {
      val viaIndex = TextIndex.search(spark, root, terms, 15).collect().toSeq
      val viaScan = rawSearch(docs, terms, 15).collect().toSeq
      assert(viaIndex == viaScan, s"index diverged from scan for $terms")
      assert(viaIndex.nonEmpty, s"degenerate test: no hits for $terms")
    }
    // absent term: empty, not an error
    assert(TextIndex.search(spark, root, Seq("zzznotaword"), 5).count() == 0)
    // duplicate terms collapse (AND of the distinct set)
    val dup = TextIndex.search(spark, root, Seq("table", "table"), 5).collect().toSeq
    val one = TextIndex.search(spark, root, Seq("table"), 5).collect().toSeq
    assert(dup == one)
  }

  test("a term search opens only its bucket's files") {
    val root = freshRoot()
    TextIndex.build(spark, docs, root)
    val v = SnapshotTable.currentVersion(root)
    val dir = java.nio.file.Paths.get(root, s"v=$v")
    val total = java.nio.file.Files.list(dir).iterator()
    var nAll = 0
    while (total.hasNext) {
      val f = total.next().getFileName.toString
      if (f.endsWith(".parquet") && !f.startsWith("_")) nAll += 1
    }
    val b = TextIndex.bucketOf("table", TextIndex.bucketCount(root))
    val kept = SnapshotTable.pruneFilesEq(spark, root, "bucket", b.toString)
    assert(kept.nonEmpty && kept.size < nAll,
      s"bucket probe kept ${kept.size} of $nAll files — no pruning")
    // driver-side bucket hash agrees with the build's Spark-side hash:
    // the term's postings are actually IN that bucket
    val inBucket = SnapshotTable
      .readPoint(spark, root, "bucket", b.toString)
      .filter(col("token") === "table").count()
    assert(inBucket > 0, "bucketOf disagrees with the build-side xxhash64")
  }

  test("append merges postings by (token, doc) and keeps search exact") {
    import spark.implicits._
    val root = freshRoot()
    val base = Seq(
      (1L, "red fish blue fish"),
      (2L, "one fish two fish red"),
      (3L, "no match here")).toDF("doc_id", "text")
    TextIndex.build(spark, base, root, buckets = 8)
    // doc 4 is new; doc 1 is a re-ingested revision adding more tokens
    val extra = Seq(
      (4L, "red red fish"),
      (1L, "red again")).toDF("doc_id", "text")
    TextIndex.append(spark, extra, root)

    val expected = rawSearch(
      base.unionAll(extra)
        .groupBy("doc_id").agg(concat_ws(" ", collect_list("text")).as("text")),
      Seq("red", "fish"), 10).collect().toSeq
    val got = TextIndex.search(spark, root, Seq("red", "fish"), 10)
      .collect().toSeq
    assert(got == expected, "append-merged index diverged from the scan")
    // doc 1's "red" tf merged across the two ingests: 1 + 1 = 2
    val tf1 = SnapshotTable.read(spark, root)
      .filter(col("token") === "red" && col("doc_id") === 1L)
      .select("tf").head().getLong(0)
    assert(tf1 == 2L)
    // two committed versions: build + one touched-bucket append
    assert(SnapshotTable.currentVersion(root) == 2)
  }

  test("phrase search: consecutive-token adjacency, overlap counting, segments") {
    import spark.implicits._
    val root = freshRoot()
    val base = Seq(
      (1L, "big red fish and big red fish again"), // "big red" twice
      (2L, "red big fish"),                        // both words, wrong order
      (3L, "big blue fish"),                       // only "big"
      (4L, "fish fish fish"),                      // overlap probe, no phrase
      (5L, "ends with big")).toDF("doc_id", "text") // phrase split by doc edge
    TextIndex.build(spark, base, root, buckets = 8)
    val hits = TextIndex.searchPhrase(spark, root, Seq("big", "red"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hits == Seq((1L, 2L)), s"phrase hits wrong: $hits")
    // overlapping occurrences count with position semantics: "fish fish"
    // in "fish fish fish" is 2 matches
    val ov = TextIndex.searchPhrase(spark, root, Seq("fish", "fish"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ov == Seq((4L, 2L)), s"overlap counting wrong: $ov")
    // 3-token phrase
    val tri = TextIndex.searchPhrase(spark, root, Seq("big", "red", "fish"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(tri == Seq((1L, 2L)), s"trigram wrong: $tri")

    // doc 5 ends with "big"; a revision STARTING with "red" must NOT
    // create a phantom "big red" across the segment boundary
    TextIndex.append(spark, Seq((5L, "red herring")).toDF("doc_id", "text"), root)
    val after = TextIndex.searchPhrase(spark, root, Seq("big", "red"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after == Seq((1L, 2L)),
      s"segment boundary leaked a phantom phrase: $after")
    // while a phrase WITHIN the appended revision does match
    val within = TextIndex.searchPhrase(spark, root, Seq("red", "herring"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(within == Seq((5L, 1L)), s"within-segment phrase lost: $within")
  }

  test("two revisions of a doc in ONE call never phrase-match across rows") {
    import spark.implicits._
    val root = freshRoot()
    // doc 5 appears twice in the same build: 'a b' and 'c d'. Raw
    // per-row positions would make a=[0] and d=[1] adjacent — the
    // per-row concatenation offsets must keep them apart, while
    // within-row phrases still match.
    val base = Seq(
      (5L, "a b"), (5L, "c d"),
      (6L, "a d")).toDF("doc_id", "text")
    TextIndex.build(spark, base, root, buckets = 4)
    val ad = TextIndex.searchPhrase(spark, root, Seq("a", "d"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ad == Seq((6L, 1L)), s"cross-row phantom phrase: $ad")
    val ab = TextIndex.searchPhrase(spark, root, Seq("a", "b"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ab == Seq((5L, 1L)), s"within-row phrase lost: $ab")
    // doc stats concatenate AND fold to ONE row per doc (ADVICE r15:
    // un-aggregated duplicate dl rows would fan out the non-multirow
    // BM25 join and overcount N/avgdl): dl(5) = 2 + 2, one row
    val dl5 = graft.sources.SnapshotTable
      .read(spark, java.nio.file.Paths.get(root, "docstats").toString)
      .filter(col("doc_id") === 5L)
      .collect().map(_.getAs[Long]("dl")).toSeq
    assert(dl5 == Seq(4L), s"doc-stats rows for a dup-row build: $dl5")
    // and the ranked path scores the dup-row build exactly like a
    // clean single-row build over the concatenated corpus
    val clean = freshRoot()
    TextIndex.build(spark,
      Seq((5L, "a b c d"), (6L, "a d")).toDF("doc_id", "text"),
      clean, buckets = 4)
    val rankedDup = TextIndex.searchRanked(spark, root, Seq("a", "d"), 10)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val rankedClean = TextIndex.searchRanked(spark, clean, Seq("a", "d"), 10)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(rankedDup == rankedClean,
      s"dup-row build BM25 diverged: $rankedDup vs $rankedClean")
  }

  test("append is ONE transaction: crashes roll both tables back or both forward") {
    import spark.implicits._
    import graft.sources.SnapshotTransaction
    val root = freshRoot()
    TextIndex.build(spark,
      Seq((1L, "red fish"), (2L, "blue sky")).toDF("doc_id", "text"),
      root, buckets = 4)
    val batch = Seq((3L, "red sky at night")).toDF("doc_id", "text")
    def state() = (
      SnapshotTable.currentVersion(root),
      SnapshotTable.currentVersion(
        java.nio.file.Paths.get(root, "docstats").toString),
      TextIndex.search(spark, root, Seq("red"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq,
      TextIndex.searchRanked(spark, root, Seq("red", "sky"), 10)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq)
    val before = state()

    // UNDECIDED crash: neither postings nor doc stats may land —
    // the pre-r16 two-commit form left BM25 stats missing the batch
    SnapshotTransaction.failpoint =
      at => if (at == "after-intent") throw SnapshotTransaction.SimulatedCrash(at)
    try intercept[SnapshotTransaction.SimulatedCrash] {
      TextIndex.append(spark, batch, root)
    } finally SnapshotTransaction.failpoint = _ => ()
    assert(!TextIndex.recoverAppend(root), "undecided crash must roll BACK")
    assert(state() == before, "a rolled-back append leaked state")

    // re-run applies exactly once
    TextIndex.append(spark, batch, root)
    val applied = state()
    assert(applied._3.map(_._1).contains(3L))
    assert(applied._1 == before._1 + 1 && applied._2 == before._2 + 1)

    // DECIDED crash (mid-publish, between the two tables): recovery
    // rolls FORWARD and tells the caller the batch landed
    val batch2 = Seq((4L, "red dawn")).toDF("doc_id", "text")
    SnapshotTransaction.failpoint =
      at => if (at == "mid-publish") throw SnapshotTransaction.SimulatedCrash(at)
    try intercept[SnapshotTransaction.SimulatedCrash] {
      TextIndex.append(spark, batch2, root)
    } finally SnapshotTransaction.failpoint = _ => ()
    assert(TextIndex.recoverAppend(root),
      "decided crash must roll FORWARD (batch landed — don't re-run)")
    val after = state()
    assert(after._3.map(_._1).contains(4L), "rolled-forward batch missing")
    assert(after._1 == applied._1 + 1 && after._2 == applied._2 + 1,
      "both tables must advance exactly once")
    // ranked search still consistent: every red-matching doc has a dl row
    assert(after._4.map(_._1).toSet == after._3.map(_._1).toSet
      ++ TextIndex.search(spark, root, Seq("sky"), 10).collect().map(_.getLong(0)))
  }

  test("NEAR/w proximity: window semantics, revision independence, slop guard") {
    import spark.implicits._
    val root = freshRoot()
    val base = Seq(
      (1L, "spark big fast table"),        // distance 3 → NEAR/3 hit
      (2L, "spark a b c d e f table"),     // distance 7 → NEAR/3 miss
      (3L, "table then spark"),            // order-independent, distance 2
      (4L, "spark x table y spark"),       // two spark occs, both within 3
      (5L, "no terms here")).toDF("doc_id", "text")
    TextIndex.build(spark, base, root, buckets = 8)
    def near(w: Int) = TextIndex.searchNear(spark, root, "spark", "table", w, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(near(3).toSet == Set((1L, 1L), (3L, 1L), (4L, 2L)), s"got ${near(3)}")
    assert(near(7).toSet == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L)))
    // same-call revision rows are proximity-INDEPENDENT: doc 6 ends
    // with spark, its second row starts with table — never near
    val root2 = freshRoot()
    TextIndex.build(spark,
      Seq((6L, "ends with spark"), (6L, "table starts")).toDF("doc_id", "text"),
      root2, buckets = 4)
    assert(TextIndex.searchNear(spark, root2, "spark", "table",
      TextIndex.MaxSlop, 10).count() == 0,
      "cross-revision proximity leaked through the ingest gap")
    // appended revisions (segment-shifted) are likewise independent
    TextIndex.append(spark,
      Seq((1L, "table immediately")).toDF("doc_id", "text"), root)
    assert(near(3).toSet == Set((1L, 1L), (3L, 1L), (4L, 2L)),
      "cross-segment proximity leaked")
    // guards: slop bounds and self-NEAR
    intercept[IllegalArgumentException] {
      TextIndex.searchNear(spark, root, "spark", "table",
        TextIndex.MaxSlop + 1, 10)
    }
    intercept[IllegalArgumentException] {
      TextIndex.searchNear(spark, root, "spark", "spark", 3, 10)
    }
  }

  test("delete equals a fresh build over the filtered corpus; optimize folds the DV") {
    import spark.implicits._
    val root = freshRoot()
    val corpus = Seq(
      (1L, "red fish blue fish"),
      (2L, "red sky at night"),
      (3L, "one red fish"),
      (4L, "blue sky")).toDF("doc_id", "text")
    TextIndex.build(spark, corpus, root, buckets = 4)
    // corpus surgery: docs 2 and 4 flagged (say, by a contamination
    // pass) — subtract them without rewriting the index
    TextIndex.delete(spark, root, "doc_id IN (2, 4)")
    val reference = freshRoot()
    TextIndex.build(spark, corpus.filter(!col("doc_id").isin(2L, 4L)),
      reference, buckets = 4)
    def snap(r: String) = (
      TextIndex.search(spark, r, Seq("red"), 10)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq,
      TextIndex.searchPhrase(spark, r, Seq("red", "fish"), 10)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq,
      TextIndex.searchRanked(spark, r, Seq("red", "sky"), 10)
        .collect().map(x => (x.getLong(0), x.getFloat(1))).toSeq)
    val expected = snap(reference)
    assert(snap(root) == expected,
      "DV-deleted index diverged from a fresh filtered build")
    assert(!expected._3.map(_._1).contains(2L)) // degenerate-test guard
    // the DV is real (no rewrite happened): postings v2 links v1 files
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      root, s"v=${SnapshotTable.currentVersion(root)}", "_dv")))
    // delete is idempotent — re-running the same surgery changes nothing
    TextIndex.delete(spark, root, "doc_id IN (2, 4)")
    assert(snap(root) == expected, "re-run delete changed results")
    // optimize folds the vectors away and still answers identically
    val vOpt = TextIndex.optimize(spark, root)
    assert(snap(root) == expected, "optimize after delete changed results")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      root, s"v=$vOpt", "_dv")), "optimize left a deletion vector")
    // and the index remains appendable after the fold
    TextIndex.append(spark, Seq((9L, "red fish")).toDF("doc_id", "text"), root)
    assert(TextIndex.search(spark, root, Seq("red"), 10)
      .collect().map(_.getLong(0)).contains(9L))
  }

  test("build refuses an existing root; zero-token append still counts the doc") {
    import spark.implicits._
    val root = freshRoot()
    TextIndex.build(spark, Seq((1L, "x y")).toDF("doc_id", "text"), root, buckets = 4)
    intercept[IllegalArgumentException] {
      TextIndex.build(spark, Seq((2L, "z")).toDF("doc_id", "text"), root, buckets = 4)
    }
    // a batch of only zero-token docs produces no postings but MUST
    // land in the doc-length table: BM25's N and avgdl count it
    TextIndex.append(spark, Seq((9L, "")).toDF("doc_id", "text"), root)
    val stats = graft.sources.SnapshotTable
      .read(spark, java.nio.file.Paths.get(root, "docstats").toString)
    assert(stats.filter(col("doc_id") === 9L).count() == 1)
    assert(stats.filter(col("doc_id") === 9L).head().getAs[Long]("dl") == 0L)
  }

  test("ranked search matches the raw-corpus BM25 computation") {
    val root = freshRoot()
    TextIndex.build(spark, docs, root)
    val terms = Seq("hash", "join", "stream")
    // raw reference: same formula over the corpus text
    val k1 = 1.2d; val b = 0.75d
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dl = docs.select(col("doc_id"),
      size(filter(split(col("text"), " "), t => t =!= "")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val idf = tf.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val expected = tf.join(dl, Seq("doc_id")).join(idf, Seq("token"))
      .crossJoin(stats)
      .select(col("doc_id"),
        (log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1)) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("ts"))
      .groupBy(col("doc_id")).agg(sum(col("ts")).cast("float").as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(15)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val got = TextIndex.searchRanked(spark, root, terms, 15)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(got == expected, "index-backed BM25 diverged from the corpus scan")
    assert(got.nonEmpty)
  }

  test("append touches only the new docs' buckets (others hard-link forward)") {
    import spark.implicits._
    val root = freshRoot()
    val base = (1L to 200L).map(i => (i, s"w$i common")).toDF("doc_id", "text")
    TextIndex.build(spark, base, root, buckets = 16)
    val dir1 = java.nio.file.Paths.get(root, "v=1")
    // one new doc with one rare token: touches that token's bucket and
    // "common"'s bucket only
    TextIndex.append(spark, Seq((201L, "w201only common")).toDF("doc_id", "text"), root)
    val dir2 = java.nio.file.Paths.get(root, "v=2")
    def files(p: java.nio.file.Path) = {
      val s = java.nio.file.Files.list(p)
      try {
        val it = s.iterator()
        var v = Vector.empty[String]
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.endsWith(".parquet") && !n.startsWith("_")) v :+= n
        }
        v
      } finally s.close()
    }
    val carried = files(dir1).toSet intersect files(dir2).toSet
    assert(carried.nonEmpty,
      "no files carried across the append — every bucket was rewritten")
    // search still exact over the merged corpus
    assert(TextIndex.search(spark, root, Seq("w201only"), 5).count() == 1)
    assert(TextIndex.search(spark, root, Seq("common"), 500).count() == 201)
  }
}
