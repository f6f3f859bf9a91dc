package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DataFrame-native Lloyd's k-means for building an IVF coarse
  * quantizer over an embedding column (SURVEY.md §2.10 scale path:
  * q_ann_ivf probes a precomputed assignment; this is how that
  * assignment gets built when none exists).
  *
  * Every step is joins + aggregations: assignment is a broadcast
  * cross join against the k-row centroid table (corpus never
  * shuffles), the centroid update is a posexplode → two-level
  * aggregate. Linear per iteration at any corpus size; k and dims
  * stay driver-side small.
  */
object KMeansLite {

  /** Assign each point to its nearest centroid (L2², deterministic
    * cluster-id tiebreak). points: (id, embedding array<float|double>);
    * centroids: (cluster_id, centroid array<double>).
    */
  def assign(points: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("dist"), col("cluster_id"))
    points.crossJoin(broadcast(centroids))
      .withColumn("dist", VectorFunctions.l2Squared(col(embCol), col("centroid")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col(embCol), col("cluster_id"), col("dist"))
  }

  /** Recompute centroids as per-dimension means of their members —
    * the ONE home of the posexplode → per-(group, pos) avg →
    * array_sort(collect_list(struct)) → transform assembly idiom
    * (the struct sort on the leading `pos` field is what makes
    * collect_list's nondeterministic order irrelevant; every caller
    * must go through here rather than re-inline it).
    *
    * @param groupCol  the cluster/label column centroids are built per
    * @param floatDims cast each dimension mean to FLOAT — the
    *                  cross-engine determinism lever for GRADED
    *                  queries (absorbs avg merge-order drift on both
    *                  sides); the iterative fit keeps full doubles
    */
  def updateCentroids(assigned: DataFrame, embCol: String = "embedding",
      groupCol: String = "cluster_id", floatDims: Boolean = false): DataFrame = {
    val mean = avg(col("col").cast("double"))
    assigned
      .select(col(groupCol), posexplode(col(embCol)))
      .groupBy(col(groupCol), col("pos"))
      .agg((if (floatDims) mean.cast("float") else mean).as("mean"))
      .groupBy(col(groupCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mean")))),
        s => s.getField("mean")).as("centroid"))
  }

  /** Fixed-iteration fit. Initial centroids: the k lowest-id points
    * (deterministic seed). Returns (centroids, assignment).
    *
    * Each iteration's assignment is pinned eagerly: the loop
    * otherwise stacks join+window plans on the previous iteration's
    * DataFrame, and past ~10 iterations Catalyst planning time (and
    * the risk of recomputing the whole chain on a stage retry) blows
    * up.
    */
  def fit(points: DataFrame, k: Int, iterations: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): (DataFrame, DataFrame) = {
    require(k > 0 && iterations > 0)
    var centroids = points.orderBy(col(idCol)).limit(k)
      .select(row_number().over(Window.orderBy(col(idCol))).cast("int").as("cluster_id"),
        transform(col(embCol), x => x.cast("double")).as("centroid"))
    var assigned = graft.Artifacts.pin(assign(points, centroids, idCol, embCol), eager = true)
    var i = 1
    while (i < iterations) {
      centroids = updateCentroids(assigned, embCol)
      assigned = graft.Artifacts.pin(assign(points, centroids, idCol, embCol), eager = true)
      i += 1
    }
    (centroids, assigned)
  }

  /** Sum of squared distances to assigned centroids (fit quality). */
  def inertia(assigned: DataFrame): Double =
    assigned.agg(sum(col("dist"))).head().getDouble(0)
}
