package graft.streaming

import graft.Artifacts
import graft.functions.{TextFunctions => TF}
import graft.queries.Dedup
import graft.sources.{BandHistory, SnapshotTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming INCREMENTAL NEAR-DUP ingest — the foreachBatch
  * composition of the three subsystems a production crawl pipeline
  * wires together: the MinHash/LSH band pipeline (batch-vs-history,
  * q_dedup_minhash_incremental's contract), the snapshot layer's
  * partition-sliced commits (batch_id partitions ride the `_partmap`
  * file-link fast path, so per-batch commit cost is ∝ batch, not
  * history), and Structured Streaming's foreachBatch.
  *
  * Per micro-batch of (doc_id, text):
  *   1. band the batch (shingle → md5 → 8×32-bit min signatures) —
  *      per-doc work on batch rows only;
  *   2. probe the PERSISTED history band table ([[BandHistory]]:
  *      broadcast anti-join against the saturated-bucket set, then a
  *      bucket-pruned file read of earlier batches only — each
  *      surviving bucket holds ≤ 10 history rows, so candidates are
  *      capped without any history-wide counting), Jaccard-verify
  *      candidates by re-shingling ONLY candidate docs (batch side
  *      from the in-memory slice, history side fetched from the docs
  *      table);
  *   3. commit docs, bands (+ any newly saturated buckets), and found
  *      pairs as this batch_id's partitions of the snapshot tables
  *      (`<root>/docs`, `<root>/bands`, `<root>/sat`, `<root>/pairs`).
  *
  * Exactly-once table contents from an at-least-once source: a
  * replayed batch re-bands the same rows, rediscovers the same pairs
  * against `batch_id < this` history (its own prior partition is
  * excluded, so replay never self-pairs), and re-overwrites the same
  * three partitions with identical content — the tables converge. The
  * three commits are not atomic as a group, but each is idempotent,
  * so a crash between them heals on redelivery.
  *
  * At 100 TB: history bands/docs are append-only partitioned tables;
  * the only per-batch terms that touch history are the bucket-pruned
  * band probe (opens only the hash buckets the batch hits; ≤ cap rows
  * per non-saturated bucket) and the candidate-doc fetch
  * (candidate-sized). Nothing shuffles, windows, or fully scans
  * history per batch — [[BandHistory]]'s contract.
  */
object NearDupSink {

  def docsRoot(root: String) = s"$root/docs"
  def bandsRoot(root: String) = s"$root/bands"
  def pairsRoot(root: String) = s"$root/pairs"

  /** The foreachBatch handler: `stream.writeStream.foreachBatch(
    * NearDupSink.ingestBatch(root) _)`. Batch schema: (doc_id, text).
    *
    * `optimizeEvery` > 0 folds maintenance into the stream: every
    * N-th batch first runs [[BandHistory.optimize]] below THIS
    * batch's id — sound, because foreachBatch hands over batch k only
    * once every batch < k is recorded in the streaming checkpoint, so
    * batches < k can never be redelivered (the optimize sealed-
    * watermark contract). Keeps the band table's file count bounded
    * by Buckets + N×Buckets instead of growing with stream lifetime.
    */
  def ingestBatch(root: String, optimizeEvery: Int = 0)
      (batch: DataFrame, batchId: Long): Unit = {
    if (optimizeEvery > 0 && batchId > 0 && batchId % optimizeEvery == 0)
      BandHistory.optimize(batch.sparkSession, root, batchId)
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val slicePlan = batch.select(col("doc_id"), col("text"))
      .withColumn("batch_id", lit(batchId))
    Artifacts.pinned(slicePlan, eager = true) { slice =>
      Artifacts.pinned(Dedup.bandDocs(slice.select(col("doc_id"), col("text"))),
          eager = true) { bands =>
        def commitBatch(pairs: Option[DataFrame]): Unit = {
          SnapshotTable.restatePartitions(spark, docsRoot(root), slice, "batch_id")
          BandHistory.append(spark, root, bands, batchId)
          pairs.foreach(p =>
            SnapshotTable.restatePartitions(spark, pairsRoot(root), p, "batch_id"))
        }
        if (SnapshotTable.currentVersion(bandsRoot(root)) == 0) commitBatch(None)
        else {
          // capped candidates via the production history band table:
          // broadcast anti-join against the saturated-bucket set, then
          // a bucket-pruned file read of batches < this one (replay:
          // never self-pair) — no history-wide window
          val candPlan = BandHistory
            .candidates(spark, root, bands, beforeBatchId = batchId)
          Artifacts.pinned(candPlan, eager = false) { cand =>
            val histDocs = SnapshotTable.read(spark, docsRoot(root))
              .filter(col("batch_id") < batchId)
            def candShingles(src: DataFrame, idName: String, shName: String) =
              src.join(cand.select(col(idName).as("doc_id")).distinct(),
                  Seq("doc_id"))
                .select(col("doc_id").as(idName),
                  TF.shinglesFast(TF.tokens(col("text")), 3).as(shName))
            val verified = cand
              .join(candShingles(slice, "batch_doc", "sh1"), Seq("batch_doc"))
              .join(candShingles(histDocs, "hist_doc", "sh2"), Seq("hist_doc"))
              .select(col("batch_doc"), col("hist_doc"),
                round(TF.jaccard(col("sh1"), col("sh2")), 4).as("jaccard"))
              .filter(col("jaccard") >= 0.1)
              .withColumn("batch_id", lit(batchId))
            // eager: materialize BEFORE the band table advances
            Artifacts.pinned(verified, eager = true)(p =>
              commitBatch(Some(p).filter(!_.isEmpty)))
          }
        }
      }
    }
  }
}
