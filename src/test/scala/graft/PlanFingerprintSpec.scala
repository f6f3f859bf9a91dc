package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan fingerprint regression guard (VERDICT r2 item 8):
  * pins join strategies and exchange counts for representative
  * queries so a plan regression (a lost broadcast, an extra shuffle,
  * a join strategy flip) fails `sbt test` instead of waiting for a
  * bench read. Fingerprints are exact-match at sf0.001 with AQE off
  * (AQE re-plans at runtime; the static plan is the stable contract).
  *
  * Two modes:
  *  - default: what the planner does at this SF (auto-broadcast on);
  *  - hint mode (autoBroadcastJoinThreshold=-1): ONLY explicit
  *    broadcast() hints survive — the 100 TB shape, where dims are
  *    small relative to facts but far above any auto threshold.
  *    Removing a hint flips the join to SortMergeJoin here and fails.
  *
  * Regenerate after an intentional plan change:
  * `sbt "Test/runMain graft.FingerprintDump"`.
  */
class PlanFingerprintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fingerprint(name: String): Map[String, Int] =
    FingerprintDump.fingerprint(spark, name, TestSpark.sf0001)

  private def withNoAutoBroadcast[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private val expectedDefault = Map(
    "q_pricing_summary" -> Map("Exchange hashpartitioning" -> 1, "Exchange rangepartitioning" -> 1),
    "q_join_star" -> Map("BroadcastExchange" -> 4, "BroadcastHashJoin" -> 4, "Exchange hashpartitioning" -> 1, "Exchange rangepartitioning" -> 1),
    "q_join_skewed" -> Map("BroadcastExchange" -> 1, "BroadcastHashJoin" -> 1, "Exchange hashpartitioning" -> 2, "Exchange rangepartitioning" -> 1),
    "q_join_range_bucketed" -> Map("BroadcastExchange" -> 1, "BroadcastHashJoin" -> 1, "Exchange hashpartitioning" -> 1, "Exchange rangepartitioning" -> 1),
    "q_topk_per_group" -> Map("Exchange hashpartitioning" -> 1, "Exchange rangepartitioning" -> 1, "WindowGroupLimit" -> 2),
    "q_sort_limit" -> Map("TakeOrderedAndProject" -> 1),
    // span dedup: dup-set semi-join + removed-counts join broadcast at
    // this SF (flip to SMJ at scale is the planner's call), two hash
    // aggs' exchanges + the distinct's, range for the output order
    "q_dedup_spans" -> Map("BroadcastExchange" -> 2, "BroadcastHashJoin" -> 2, "Exchange hashpartitioning" -> 4, "Exchange rangepartitioning" -> 1),
    "q_contamination" -> Map("BroadcastExchange" -> 1, "BroadcastHashJoin" -> 1, "Exchange hashpartitioning" -> 2, "Exchange rangepartitioning" -> 1),
    "q_ann_ivf" -> Map("BroadcastExchange" -> 1, "BroadcastHashJoin" -> 1, "Exchange hashpartitioning" -> 1, "Exchange rangepartitioning" -> 1, "WindowGroupLimit" -> 2),
    "q_shipping_priority" -> Map("BroadcastExchange" -> 2, "BroadcastHashJoin" -> 2, "Exchange hashpartitioning" -> 1, "TakeOrderedAndProject" -> 1),
    "q_kmeans_assign" -> Map("BroadcastExchange" -> 1, "BroadcastNestedLoopJoin" -> 1, "Exchange hashpartitioning" -> 1, "Exchange rangepartitioning" -> 1, "WindowGroupLimit" -> 2),
    "q_ema" -> Map("Exchange hashpartitioning" -> 1, "Exchange rangepartitioning" -> 1),
    // Q21 shape: semi+anti correlation joins. r10: every fact ⋈ fact
    // edge (orders⋈lineitem, the lineitem self-correlations) carries a
    // SHUFFLE_HASH hint — the byte-based auto threshold mis-sizes
    // narrow fact projections at scale (a 2-column lineitem slice
    // compresses under 64m at 26× while holding 15M rows; measured
    // 18.7 → 11.6 s sequential). The 2 surviving broadcasts are the
    // bounded dims (supplier-per-size, nation enum) — still
    // size-driven, not hinted.
    "q_waiting_orders" -> Map("BroadcastExchange" -> 2, "BroadcastHashJoin" -> 2, "Exchange hashpartitioning" -> 6, "ShuffledHashJoin" -> 3, "SortMergeJoin" -> 1, "TakeOrderedAndProject" -> 1),
    // Q22 shape: 1-row threshold BNL (allowlisted) + anti BHJ
    "q_global_customers" -> Map("BroadcastExchange" -> 2, "BroadcastHashJoin" -> 1, "BroadcastNestedLoopJoin" -> 1, "Exchange hashpartitioning" -> 1, "Exchange rangepartitioning" -> 1),
    // one vocab-count shuffle, then TakeOrdered(200) BEFORE the
    // single-partition rank window — the q_vocab_coverage contract
    "q_zipf_fit" -> Map("Exchange hashpartitioning" -> 1, "TakeOrderedAndProject" -> 1),
    // Q2 shape: ONE fact shuffle (the per-part min agg) + broadcast dims
    "q_min_price_supplier" -> Map("BroadcastExchange" -> 3, "BroadcastHashJoin" -> 3, "Exchange hashpartitioning" -> 1, "Exchange rangepartitioning" -> 1),
    // Q7 shape: bloc-filtered dims all broadcast, one fact shuffle
    "q_volume_shipping" -> Map("BroadcastExchange" -> 5, "BroadcastHashJoin" -> 5, "Exchange hashpartitioning" -> 1, "Exchange rangepartitioning" -> 1),
    // Q20 shape: two-level reagg + join-back of the two sum tables,
    // broadcast under the session's 64m threshold at this SF
    "q_dominant_supplier" -> Map("BroadcastExchange" -> 5, "BroadcastHashJoin" -> 5, "Exchange hashpartitioning" -> 4, "Exchange rangepartitioning" -> 1),
    // bucketed kNN (r9 adaptive blocking): the per-label stats pass
    // (count + dim-balance) runs ONCE behind a lazy localCheckpoint
    // shared by both self-join sides (2 broadcasts); the corpus×corpus
    // (label, bkey) pair join is a SortMergeJoin — the correct
    // at-scale shape for two corpus-sized sides. A CartesianProduct
    // here means the bucket restriction was lost.
    "q_knn_join" -> Map("BroadcastExchange" -> 2, "BroadcastHashJoin" -> 2, "SortMergeJoin" -> 1, "Exchange hashpartitioning" -> 3, "Exchange rangepartitioning" -> 1, "WindowGroupLimit" -> 2),
    // fact self-join on orderkey: MUST be a ShuffledHashJoin — the
    // r10 trap this round fixed was Catalyst broadcasting a 15.6M-row
    // 2-column lineitem projection because its bytes estimate sat
    // under the 64m auto threshold (28.8 → 12.1 s at 26× hinted)
    "q_basket_affinity" -> Map("Exchange hashpartitioning" -> 3, "ShuffledHashJoin" -> 1, "TakeOrderedAndProject" -> 1),
    // Q17 shape: brand slice aggregated then joined back (broadcast
    // under the session's 64m threshold at this SF)
    "q_small_qty_revenue" -> Map("BroadcastExchange" -> 3, "BroadcastHashJoin" -> 3, "Exchange hashpartitioning" -> 1),
    // EXISTS-in-disjunction MUST stay an ExistenceJoin (a semi join
    // here would silently drop the high-value-only orders). r10: both
    // correlated lineitem probes carry SHUFFLE_HASH — the same
    // narrow-fact-projection broadcast trap as q_waiting_orders
    // (lineitem_ex_v estimated under 64m at 26×, measured win).
    "q_join_existence" -> Map("ShuffledHashJoin" -> 2, "Exchange hashpartitioning" -> 4, "Exchange rangepartitioning" -> 1, "ExistenceJoin" -> 1),
  )

  test("plan fingerprints are unchanged (default planner)") {
    val diffs = expectedDefault.toSeq.sortBy(_._1).flatMap { case (name, want) =>
      val got = fingerprint(name)
      if (got == want) None else Some(s"$name:\n  want $want\n  got  $got")
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  test("explicit broadcast hints survive with auto-broadcast disabled") {
    withNoAutoBroadcast {
      // q_join_star hints exactly its two sub-25-row dims
      // (nation/region); fact-side joins (orders, customer) are
      // deliberately shuffle joins — the at-scale shape. With the
      // auto threshold off, ONLY the hints keep those two broadcast.
      val star = fingerprint("q_join_star")
      assert(star.getOrElse("BroadcastHashJoin", 0) === 2,
        s"q_join_star lost a broadcast hint: $star")
      assert(star.getOrElse("SortMergeJoin", 0) === 2, star.toString)
      // r9 hint audit: only bounded-cardinality enums (nation/region)
      // carry explicit broadcast hints. part/supplier are
      // data-proportional — at 100 TB they cannot broadcast — so
      // their join strategy is left to Catalyst/AQE size statistics:
      // with the auto threshold off, q_promo_revenue's part join must
      // now plan as a shuffle join (the scale-safe default), and with
      // it on (the normal config) the fingerprint test above pins the
      // size-driven broadcast at bench scale.
      val promo = fingerprint("q_promo_revenue")
      assert(promo.getOrElse("BroadcastHashJoin", 0) === 0 &&
        promo.getOrElse("SortMergeJoin", 0) === 1,
        s"q_promo_revenue should shuffle-join part without the auto threshold: $promo")
    }
  }
}
