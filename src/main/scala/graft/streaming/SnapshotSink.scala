package graft.streaming

import graft.Artifacts
import graft.sources.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming upsert sink into a [[SnapshotTable]] — the
  * `writeStream.foreachBatch` bridge that turns an at-least-once
  * stream into a transactional keyed table with time travel, CDC,
  * and OCC against other writers.
  *
  * Per micro-batch:
  *   1. collapse the batch to its LATEST row per key (`orderCol`
  *      descending, row_number = 1 — re-delivered and intra-batch
  *      duplicate keys collapse here), pinned once so OCC retries
  *      never re-read the (ephemeral) batch source;
  *   2. merge-by-key against the current snapshot: rows whose key the
  *      batch names are replaced, all others carried forward;
  *   3. commit as a read-modify-write of the version that was merged
  *      against. If a concurrent writer lands first, the commit
  *      aborts with [[SnapshotTable.SnapshotConflict]] and
  *      [[SnapshotTable.retrying]] re-reads and re-merges — the
  *      foreachBatch twin of the multi-writer contract
  *      SnapshotTxnSpec pins for batch writers.
  *
  * Exactly-once table contents from an at-least-once source: a
  * replayed batch re-merges the same keys to the same values, so the
  * table converges (same idempotence argument as
  * ForeachBatchUpsertSpec's ParquetDml variant — this sink adds the
  * version history and concurrency story on top).
  *
  * At 100 TB the merge is a key-partitioned anti-join of table vs a
  * micro-batch-sized key set; with the table bucketed on the key it
  * is one broadcast anti-join per batch, and compactFiles bounds the
  * file count the per-batch commits accumulate.
  */
object SnapshotSink {

  /** A foreachBatch handler: `stream.writeStream.foreachBatch(
    * SnapshotSink.upsertBatch(root, "k", "ts") _)`.
    */
  def upsertBatch(root: String, keyCol: String, orderCol: String)
      (batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol).desc)
    val newest = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    Artifacts.pinned(newest, eager = true) { latest =>
      // one merge semantics for batch and streaming: the table op
      // does keyed replace-or-insert as a read-modify-write commit,
      // and each retry re-reads the new head and re-merges
      SnapshotTable.retrying(SnapshotTable.mergeByKey(spark, root, latest, Seq(keyCol)))
    }
  }

  /** Streaming DYNAMIC PARTITION OVERWRITE sink — the transactional
    * twin of `partitionOverwriteMode=dynamic`: each micro-batch
    * replaces exactly the partitions it carries rows for (via
    * [[SnapshotTable.commitPartitions]]), leaving every other
    * partition untouched. The natural shape for re-stated
    * time-bucketed feeds (an hourly partition re-arrives complete and
    * clobbers its previous statement).
    *
    * Exactly-once table contents from an at-least-once source: a
    * replayed batch re-overwrites the same partitions with the same
    * rows, so the table converges (one extra no-op-content version,
    * same argument as [[upsertBatch]]).
    *
    * The 100 TB win over [[upsertBatch]] is the conflict domain:
    * full-table keyed merges ALWAYS overlap, so N concurrent stream
    * writers serialize through conflict-retry; partition-sliced
    * commits conflict only when two streams re-state the SAME
    * partition, so streams feeding disjoint partitions (per-region,
    * per-source, per-hour shards) commit concurrently — that contract
    * is exactly what SnapshotRaceFuzzSpec proves under races.
    */
  def overwritePartitionsBatch(root: String, partitionCol: String)
      (batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    // pinned once: OCC retries must never re-read the (ephemeral)
    // micro-batch source
    Artifacts.pinned(batch, eager = true) { slice =>
      SnapshotTable.restatePartitions(spark, root, slice, partitionCol)
    }
  }
}
