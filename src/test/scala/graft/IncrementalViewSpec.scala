package graft

import graft.sources.{IncrementalView, SnapshotTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental view maintenance from the snapshot CDC feed: a
  * grouped sum/count view updated with signed deltas per commit is
  * row-identical to recomputation from the latest snapshot — across
  * inserts, deletes, updates, and group disappearance.
  */
class IncrementalViewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import IncrementalView._

  private val keys = Seq("o_orderpriority")
  private val value = "o_totalprice"

  private def assertSameView(a: DataFrame, b: DataFrame): Unit = {
    // round the float sums for the compare: union order differs
    val ra = a.select(col(keys.head), round(col("view_sum"), 2).as("s"), col("view_count"))
    val rb = b.select(col(keys.head), round(col("view_sum"), 2).as("s"), col("view_count"))
    assert(ra.exceptAll(rb).isEmpty && rb.exceptAll(ra).isEmpty)
  }

  test("sum/count view maintained from per-commit deltas equals recompute") {
    val root = Artifacts.exitRoot("graft-ivm")
    val base = Tables.orders(spark, TestSpark.sf0001)
    SnapshotTable.commit(spark, root, base)
    var view = sumView(SnapshotTable.read(spark, root, 1), keys, value)

    // v2: delete one priority class entirely (group disappearance),
    // update some rows, insert new ones
    val v2 = base
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
      .unionByName(base.filter(col("o_orderpriority") =!= "1-URGENT").limit(20)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000))
    SnapshotTable.commit(spark, root, v2)
    view = applySumDeltas(view,
      SnapshotTable.changes(spark, root, 1, 2), keys, value)
    assertSameView(view, sumView(SnapshotTable.read(spark, root, 2), keys, value))
    // the deleted group is gone from the maintained view
    assert(view.filter(col("o_orderpriority") === "1-URGENT").count() === 0)

    // v3: keyed feed with pre/post images drives the same maintenance
    val v3 = v2.withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
    SnapshotTable.commit(spark, root, v3)
    view = applySumDeltas(view,
      SnapshotTable.changesByKey(spark, root, 2, 3, Seq("o_orderkey")),
      keys, value)
    assertSameView(view, sumView(SnapshotTable.read(spark, root, 3), keys, value))
  }

  test("empty change batch leaves the view unchanged") {
    val root = Artifacts.exitRoot("graft-ivm2")
    val base = Tables.region(spark, TestSpark.sf0001)
    SnapshotTable.commit(spark, root, base)
    SnapshotTable.commit(spark, root, base)
    val v0 = sumView(SnapshotTable.read(spark, root, 1), Seq("r_regionkey"), "r_regionkey")
    val v1 = applySumDeltas(v0,
      SnapshotTable.changes(spark, root, 1, 2), Seq("r_regionkey"), "r_regionkey")
    assert(v0.exceptAll(v1).isEmpty && v1.exceptAll(v0).isEmpty)
  }

  test("deletion-vector commits drive the same maintenance (IVM ∘ DV)") {
    // composition proof: a deleteWhere commit rewrites no data file,
    // yet its vector flows through the change feed as ordinary delete
    // rows, so the maintained view stays ≡ recompute
    val root = Artifacts.exitRoot("graft-ivm-dv")
    val base = Tables.orders(spark, TestSpark.sf0001)
    SnapshotTable.commit(spark, root, base)
    var view = sumView(SnapshotTable.read(spark, root, 1), keys, value)

    SnapshotTable.deleteWhere(spark, root, "o_orderstatus = 'F'")
    view = applySumDeltas(view,
      SnapshotTable.changes(spark, root, 1, 2), keys, value)
    assertSameView(view, sumView(SnapshotTable.read(spark, root, 2), keys, value))

    // a second vector on the same files composes too
    SnapshotTable.deleteWhere(spark, root, "o_totalprice < 50000")
    view = applySumDeltas(view,
      SnapshotTable.changes(spark, root, 2, 3), keys, value)
    assertSameView(view, sumView(SnapshotTable.read(spark, root, 3), keys, value))
  }
}
