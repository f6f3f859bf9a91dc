package graft

import graft.sources.{SnapshotTable, TextIndex, VectorIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Readers during index maintenance (r17, VERDICT r16 item 6): the
  * index roots are single-WRITER, but a reader holding a pinned
  * version must see a consistent index while append / ingest /
  * delete / optimize publishes later versions — committed version
  * directories are immutable (new versions hard-link the files), so
  * pinned results must be BIT-IDENTICAL before and after every
  * maintenance class. Also pins the one place immutability alone
  * wasn't enough: optimize() clears the live `_multirow` flag, so a
  * pinned BM25 reader must carry the capture-time multirow state in
  * its pin or it would skip the duplicate-fold over still-multi-row
  * pinned postings.
  */
class IndexConcurrentReaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(tag: String): String = Artifacts.exitRoot(s"graft-$tag")

  test("text: pinned BM25 is bit-identical across ingest, delete, optimize") {
    val root = fresh("ti-reader")
    val txn = fresh("ti-reader-txn")
    TextIndex.init(root)
    TextIndex.ingestBatch(spark,
      Seq((1L, "spark table index"), (2L, "spark spark stream"),
        (3L, "table stream merge"), (4L, "index table spark"))
        .toDF("doc_id", "text"),
      root, txn, batchId = 0L)
    val terms = Seq("spark", "table")

    // reader A pins the head after batch 0 (multirow state captured)
    val pinA = TextIndex.pinVersions(root)
    assert(pinA.multi, "stream-ingested root should be multirow")
    val a0 = TextIndex.searchRanked(spark, root, terms, 10, at = pinA)
      .collect().toSeq

    // writer publishes batch 1: doc 2 re-ingested (multi-row tf for
    // 'spark') plus a brand-new doc — reader A must not move
    TextIndex.ingestBatch(spark,
      Seq((2L, "spark table"), (5L, "table table spark")).toDF("doc_id", "text"),
      root, txn, batchId = 1L)
    val a1 = TextIndex.searchRanked(spark, root, terms, 10, at = pinA)
      .collect().toSeq
    assert(a1 == a0, "pinned reader moved across a concurrent ingest")
    val headAfterIngest = TextIndex.searchRanked(spark, root, terms, 10)
      .collect().toSeq
    assert(headAfterIngest != a0,
      "head reader should see the ingested docs (degenerate fixture otherwise)")

    // reader B pins the post-ingest head; writer deletes doc 3
    val pinB = TextIndex.pinVersions(root)
    val b0 = TextIndex.searchRanked(spark, root, terms, 10, at = pinB)
      .collect().toSeq
    TextIndex.delete(spark, root, "doc_id = 3")
    assert(TextIndex.searchRanked(spark, root, terms, 10, at = pinB)
      .collect().toSeq == b0, "pinned reader moved across a concurrent delete")

    // reader C pins the post-delete head; writer optimizes (folds
    // multi-row postings AND clears the live multirow flag — the pin
    // must carry its capture-time multirow state)
    val pinC = TextIndex.pinVersions(root)
    assert(pinC.multi, "pre-optimize pin should still be multirow")
    val c0 = TextIndex.searchRanked(spark, root, terms, 10, at = pinC)
      .collect().toSeq
    TextIndex.optimize(spark, root)
    assert(!TextIndex.pinVersions(root).multi,
      "optimize should clear the multirow flag at the new head")
    assert(TextIndex.searchRanked(spark, root, terms, 10, at = pinC)
      .collect().toSeq == c0,
      "pinned reader moved across a concurrent optimize " +
        "(capture-time multirow state not honored?)")
    // every earlier pin still answers bit-identically too
    assert(TextIndex.searchRanked(spark, root, terms, 10, at = pinA)
      .collect().toSeq == a0)
    assert(TextIndex.searchRanked(spark, root, terms, 10, at = pinB)
      .collect().toSeq == b0)
    // optimize is debt-clearing, never semantic: the head answer is
    // unchanged by the fold itself
    assert(TextIndex.searchRanked(spark, root, terms, 10).collect().toSeq ==
      TextIndex.searchRanked(spark, root, terms, 10, at = pinC).collect().toSeq)
  }

  test("vector: pinned candidates are bit-identical across upsert and delete") {
    val root = fresh("vi-reader")
    VectorIndex.build(spark,
      Seq((1L, Seq(1f, 0f), 0), (2L, Seq(0.9f, 0.1f), 0),
        (3L, Seq(0f, 1f), 1), (4L, Seq(0.1f, 0.9f), 1))
        .toDF("vec_id", "embedding", "label"), root)
    val v1 = SnapshotTable.currentVersion(root)
    def probe(version: Int) =
      VectorIndex.candidates(spark, root, Seq(0, 1), version)
        .select(col("vec_id"), element_at(col("embedding"), 1).as("e1"))
        .collect().map(r => (r.getLong(0), r.getFloat(1))).sortBy(_._1).toSeq
    val at1 = probe(v1)

    // writer replaces vec 2's embedding and adds vec 5
    VectorIndex.upsert(spark,
      Seq((2L, Seq(0.5f, 0.5f), 0), (5L, Seq(0.8f, 0.2f), 0))
        .toDF("vec_id", "embedding", "label"), root)
    assert(probe(v1) == at1, "pinned reader moved across a concurrent upsert")
    val v2 = SnapshotTable.currentVersion(root)
    val at2 = probe(v2)
    assert(at2 != at1, "head reader should see the upsert")
    assert(at2.toMap.get(2L).contains(0.5f), "replacement not visible at head")

    // writer DV-deletes vec 1 — both earlier pins stay bit-identical
    VectorIndex.delete(spark, root, "vec_id = 1")
    assert(probe(v1) == at1, "pinned reader moved across a concurrent delete")
    assert(probe(v2) == at2, "pinned reader moved across a concurrent delete")
    val head = probe(SnapshotTable.currentVersion(root))
    assert(!head.exists(_._1 == 1L), "deleted vector still probes at head")
  }
}
