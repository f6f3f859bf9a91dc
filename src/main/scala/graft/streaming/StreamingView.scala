package graft.streaming

import graft.sources.{IncrementalView, SnapshotTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** Continuously-maintained materialized view: the streaming capstone
  * that composes three pieces this library already proves separately —
  * the snapshot CDC feed ([[SnapshotTable.streamChanges]]), signed-
  * delta view maintenance ([[IncrementalView.applySumDeltas]]), and
  * transactional commits — into `readStream(changes) → foreachBatch →
  * versioned view table`. The view is ITSELF a SnapshotTable, so it
  * has time travel ("what did the rollup say at v3?"), CDC, and OCC
  * against other writers of the view root.
  *
  * Correctness leans on the deltas forming an abelian group: a
  * micro-batch may bundle several published versions' changes and the
  * file stream may discover them in any order, yet sum/count deltas
  * commute, so the maintained view converges to sumView(latest) after
  * every feed drain. Per-batch cost ∝ delta rows + |view| — the base
  * table is never re-read (the whole point at 100 TB).
  */
object StreamingView {

  /** A foreachBatch handler maintaining the (keys → sum, count) view
    * of a snapshot table's change feed into `viewRoot`:
    * `SnapshotTable.streamChanges(spark, tableRoot).writeStream
    *   .foreachBatch(StreamingView.maintainSumView(viewRoot, keys, value) _)`.
    */
  def maintainSumView(viewRoot: String, keys: Seq[String], valueCol: String)
      (batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    SnapshotTable.retrying {
      val cur = SnapshotTable.currentVersion(viewRoot)
      val base =
        if (cur == 0)
          // empty view with the right schema: the feed's first batch
          // carries v1's rows as inserts, so zero-init is exact
          IncrementalView.sumView(
            batch.drop("_change_type").filter(lit(false)), keys, valueCol)
        else SnapshotTable.read(spark, viewRoot, cur)
      val next = IncrementalView.applySumDeltas(base, batch, keys, valueCol)
      SnapshotTable.commit(spark, viewRoot, next, readVersion = cur)
    }
  }
}
