package graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audit (SURVEY.md §7 Step 5): asserts the plan
  * properties that make these queries scale — predicate pushdown into
  * the parquet scan, column pruning, broadcast joins for dims,
  * TakeOrderedAndProject for global top-k, two-phase aggregation, and
  * whole-stage codegen (including the native cosine expression).
  * These assertions guard against regressions that would silently
  * turn a scalable plan into a slow one.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf0001)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** Codegen view. AQE wraps the plan and reports 0 subtrees before
    * execution, so disable it for the inspection only.
    */
  private def codegenPlan(name: String): String = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries(name)(spark, TestSpark.sf0001)
      df.queryExecution.explainString(ExplainMode.fromString("codegen"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("filters are pushed into the parquet scan") {
    val p = plan("q_filter_predicates")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("IsNotNull"), "expected not-null filters pushed")
    assert(p.contains("GreaterThanOrEqual") || p.contains("GreaterThan"),
      "expected range filters pushed")
  }

  test("scans are column-pruned to the needed columns") {
    val p = plan("q_pricing_summary")
    // lineitem has 11 columns; the query needs 7
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_orderkey"), "pruned column still read:\n" + p)
    assert(!p.contains("l_partkey"), "pruned column still read:\n" + p)
  }

  test("aggregation is two-phase (partial + final HashAggregate)") {
    val p = plan("q_pricing_summary")
    assert(p.contains("partial_sum"), "no map-side partial aggregation:\n" + p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(codegenPlan("q_pricing_summary").contains("WholeStageCodegen"),
      "aggregate not codegen'd")
  }

  test("star join broadcasts the small dimensions") {
    val p = plan("q_join_star")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("global top-k compiles to TakeOrderedAndProject (no full sort)") {
    val p = plan("q_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("native cosine expression participates in codegen") {
    assert(plan("q_cosine_topk").contains("cosine_sim"))
    val cg = codegenPlan("q_cosine_topk")
    assert(cg.contains("WholeStageCodegen"), cg.take(2000))
    // the fused loop body from CosineSimilarity.doGenCode is inlined
    assert(cg.contains("getFloat"), "fused cosine loop not in generated code")
  }

  test("q_tf_idf builds lazily: no Spark job at plan construction, no vocab broadcast hint") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    // first access to a table runs a parquet footer/schema job; that
    // load-time cost is memoized in Tables and is not what this test
    // polices — touch the table before listening
    Tables.documents(spark, TestSpark.sf0001)
    spark.sparkContext.addSparkListener(l)
    val df =
      try {
        val d = SparkEntry.queries("q_tf_idf")(spark, TestSpark.sf0001)
        d.queryExecution.optimizedPlan // force analysis + optimization, still no action
        Thread.sleep(500) // job-start events post asynchronously
        d
      } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get() === 0, "building q_tf_idf launched a Spark job (driver-side action)")
    // the |vocabulary|-row df table must not carry a broadcast hint —
    // at web scale it OOMs the driver; AQE broadcasts the small probe side
    val logical = df.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!logical.contains("broadcast"), "unexpected broadcast hint:\n" + logical.take(2000))
  }

  test("q_events_pruned scans only the filtered date partitions (static pruning)") {
    val p = plan("q_events_pruned")
    // the BETWEEN lands as a PartitionFilter on the partitioned scan,
    // not as a data filter evaluated after reading every file
    assert(p.contains("PartitionFilters"), p)
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("event_date"), pf)
    assert(pf.contains("2024-01-08") || pf.contains("19730"), pf) // bound pushed
  }

  test("q_events_dpp prunes fact partitions dynamically from the date dim") {
    val p = plan("q_events_dpp").toLowerCase
    assert(p.contains("dynamicpruning"),
      "expected dynamicpruningexpression on the events scan:\n" + p.take(2000))
  }

  test("semi/anti joins stay semi/anti physically (no join+distinct)") {
    assert(plan("q_join_semi").contains("LeftSemi"), plan("q_join_semi"))
    assert(plan("q_join_anti").contains("LeftAnti"), plan("q_join_anti"))
  }

  test("as-of join is a single window pass, not a range self-join") {
    val p = plan("q_join_asof")
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), "as-of must not be a cartesian join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "as-of must not be a BNL join")
  }

  test("sorted-neighborhood pairs join on the window bucket (bounded enumeration)") {
    // The floor(rn/W) bucket must be part of the hash/sort-merge JOIN
    // KEY (probe side exploded to own+next bucket), not only a
    // residual band filter — otherwise the probe enumerates all
    // |block|² same-block pairs before filtering (VERDICT r8 nit).
    for (name <- Seq("q_damerau", "q_jaro_winkler")) {
      val p = SparkEntry.queries(name)(spark, TestSpark.sf0001)
        .queryExecution.optimizedPlan
      val joinKeys = p.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.condition.map(_.sql).getOrElse("")
      }.mkString("\n")
      assert(joinKeys.contains("pb") && joinKeys.contains("bktb"),
        s"$name: bucket probe key missing from join condition:\n$joinKeys")
    }
  }

  test("sortWithinPartitions sorts locally with no Exchange") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    val df = Tables.lineitem(spark, TestSpark.sf0001)
      .repartition(4, col("l_orderkey"))
      .sortWithinPartitions(col("l_extendedprice"))
    // exactly one Exchange (the explicit repartition); the sort adds none
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size === 1, plan.take(1200))
    assert(plan.contains("Sort"), plan.take(1200))
    // every partition is internally sorted
    val unsorted = df
      .select(spark_partition_id().as("pid"), col("l_extendedprice"))
      .mapPartitions { it =>
        val vals = it.map(_.getDouble(1)).toSeq
        Iterator.single(vals.zip(vals.sorted).forall { case (a, b) => a == b })
      }(org.apache.spark.sql.Encoders.scalaBoolean)
      .collect()
    assert(unsorted.forall(identity), "found an unsorted partition")
  }

  /** Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
    * every one has a deliberately-broadcast TINY side (≤ a few dozen
    * rows — probe sets, plane tables, language profiles, 1-row scalar
    * aggregates). Anything NOT on this list acquiring a BNL (or ANY
    * query acquiring a CartesianProduct) is a scale regression.
    */
  private val bnlAllowed = Set(
    "q_cosine_topk", "q_ann_lsh", "q_lang_id", "q_tf_idf", "q_join_cross",
    "q_ann_lsh_wide", // same tiny plane/probe broadcasts as q_ann_lsh (4-plane twin)
    "q_dedup_embedding", "q_vector_stats", "q_clean_corpus", "q_vocab_coverage",
    "q_text_jaccard", "q_text_ngram_jaccard", "q_forecast_revenue",
    "q_promo_revenue", "q_subquery_scalar", "q_funnel", "q_gap_fill",
    "q_kmeans_assign", // 5-row broadcast centroid table (KMeansLite.assign)
    "q_embedding_outliers", // same 5-row centroid broadcast (kmeans_assign step)
    "q_kmeans_update", // same 5-row centroid broadcast (kmeans_assign step)
    "q_knn_classify", // 50-row broadcast probe set (cosine_topk pattern)
    "q_unigram_logprob", // lazy 1-row corpus-total cross join (tf_idf pattern)
    "q_session_stats", // 1-row global-percentile cross join (ExactQuantiles, r11)
    "q_conversion_lag", // 1-row global-percentile cross join (ExactQuantiles, r11)
    "q_sql_cte", // 1-row total cross join in SQL text (tf_idf pattern)
    "q_global_customers", // 1-row avg-balance threshold cross join (tf_idf pattern)
    "q_important_parts", // 1-row corpus-total threshold cross join (tf_idf pattern)
    "q_drift_psi", // 1-row split-totals cross join (tf_idf pattern)
    "q_cooccurrence", // 1-row doc-count cross join (tf_idf pattern)
    "q_ann_ivf_multiprobe", // 10-row broadcast centroid table (kmeans_assign pattern)
    "q_bm25", // lazy 1-row corpus-stats cross join (tf_idf pattern)
    "q_index_bm25", // same 1-row (N, avgdl) cross join, stats read from the index side table
    "q_index_postdelete", // same searchRanked 1-row stats cross join (post-DV index)
    "q_index_bm25_stream", // same searchRanked 1-row stats cross join (stream-built index)
    "q_hybrid_rrf", // 1-row probe-embedding + 1-row stats cross joins (tf_idf pattern)
    "q_index_rrf", // same legs, lexical side read from the inverted index
    "q_rfm", // 1-row corpus-max-date cross join (tf_idf pattern)
    "q_churn_rate", // 1-row corpus-max-date cross join (tf_idf pattern)
    "q_pagerank", // 1-row node-count cross join per unrolled iteration (tf_idf pattern)
    "q_cross_sell", // 1-row basket-total cross join (tf_idf pattern)
    "q_khop", // 1-row literal BFS seed: constant folding turns the first
              // frontier⋈edges equi-join into a 1-row broadcast BNL
    "q_shortest_path", // same 1-row literal seed as q_khop (Bellman-Ford twin)
    "q_mixture_sample", // 1-row corpus-stats cross join (tf_idf pattern)
    "q_cluster_keywords", // 1-row mean-cluster-size cross join (tf_idf pattern)
    "q_bigram_logprob", // 1-row vocab-size cross join (tf_idf pattern)
    "q_mann_kendall", // calendar-bounded day-pair theta join + 1-row stat
                      // cross joins: the broadcast side can't grow with
                      // data volume (q_event_paths class)
    "q_sql_cosine_topk", // 3-row broadcast probe set in SQL text (cosine_topk twin)
    "q_sql_tf_idf") // lazy 1-row corpus-count cross join in SQL text (tf_idf twin)

  /** Queries whose plan legitimately contains a Window with an EMPTY
    * partition spec (single-partition WindowExec). Every entry windows
    * over an input whose cardinality is BOUNDED — by the calendar (a
    * day/month series doesn't grow 100× with data volume), by an enum
    * (flags, digits, contingency cells, ≤|event_type|³ paths), or by a
    * preceding LIMIT (top-k slices). Anything windowing over
    * data-proportional rows (per-customer, per-session, per-distinct-
    * value) must use functions/PrefixSum's two-pass distributed
    * rank/cumsum instead — q_gini, q_pareto_cutoff,
    * q_concurrent_sessions, q_weighted_median, q_rfm, q_ks_test,
    * q_mann_whitney, q_histogram_equidepth all do.
    */
  private val globalWindowAllowed = Set(
    "q_share_of_total",    // 25 nation rows
    "q_autocorr",          // day series (calendar-bounded)
    "q_vocab_coverage",    // top-25 slice (post-LIMIT)
    "q_zipf_fit",          // top-200 slice (post-LIMIT)
    "q_hybrid_rrf",        // two ≤20-row rank lists
    "q_index_rrf",         // same two rank lists, index-served lexical leg
    "q_mom_growth",        // month series (calendar-bounded)
    "q_drawdown",          // day series (calendar-bounded)
    "q_survival_curve",    // ≤~30-row tenure-month histogram
    "q_seasonal_index",    // 7 weekday rows
    "q_benford",           // 9 digit rows
    "q_event_paths",       // ≤|event_type|³ distinct 3-step paths
    "q_event_paths_2level", // same bounded path table (2level twin)
    "q_event_paths_auto",  // routes to one of the two allowed bodies above
    "q_growth_accounting", // month series (calendar-bounded)
    "q_anomaly_iqr",       // day series (calendar-bounded)
    "q_activity_heatmap",  // 168 weekday×hour rows
    "q_cusum",             // day series (calendar-bounded)
    "q_mutual_info",       // ≤15 contingency cells
    "q_cramers_v",         // ≤6 contingency cells
    "q_sql_cte")           // ≤25 nation rows (rank over the nat_rev CTE)

  /** PrefixSum's global path computes its exclusive prefix offsets
    * with ONE unpartitioned window ordered by the partition id over the
    * per-partition partials: an Aggregate grouped by exactly that one
    * attribute, so ≤ #shuffle-partitions rows BY CONSTRUCTION, never
    * data-proportional. That is the one legitimate unpartitioned-window
    * shape. The shape is checked, not just the order key's name: a
    * data-sized window ordered by a column that merely carries the name
    * is flagged. The name stays as a second condition, because the
    * shape alone also fits a window over a per-distinct-value aggregate
    * (`orderBy(k)` over `groupBy(k)`), which grows with the data.
    */
  private def isPidOffsetsWindow(
      w: org.apache.spark.sql.catalyst.plans.logical.Window): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}
    def aggregate(p: LogicalPlan): Option[Aggregate] = p match {
      case a: Aggregate => Some(a)
      case Project(_, c) => aggregate(c)
      case _ => None
    }
    (w.orderSpec.map(_.child), aggregate(w.child)) match {
      case (Seq(o: Attribute), Some(a)) =>
        o.name == "__ps_pid" && (a.groupingExpressions match {
          case Seq(g: Attribute) => g.exprId == o.exprId
          case _ => false
        })
      case _ => false
    }
  }

  test("the pid-offsets exemption keys on the partials shape, not a column name") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, i % 7L)).toDF("tb", "v")
    def unpartitioned(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
    // the real shape: PrefixSum's global offsets window is exempt
    val real = unpartitioned(graft.functions.PrefixSum.attach(df, Nil,
      Seq(col("tb")), rank = Some("rk"), sums = Seq("v" -> "cs")))
    assert(real.size == 1 && real.forall(isPidOffsetsWindow))
    // a data-sized window ordered by a column renamed __ps_pid is not
    val renamed = unpartitioned(df.withColumnRenamed("tb", "__ps_pid")
      .withColumn("rk", row_number().over(Window.orderBy(col("__ps_pid")))))
    assert(renamed.size == 1 && !renamed.exists(isPidOffsetsWindow),
      "a renamed order column must not earn the exemption")
    // nor is a cumulation over a per-distinct-value aggregate, which has
    // the partials' shape but grows with the data
    val perValue = unpartitioned(df.groupBy(col("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cs", sum(col("c")).over(Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    assert(perValue.size == 1 && !perValue.exists(isPidOffsetsWindow),
      "a per-distinct-value window must not earn the exemption")
  }

  /** Every query's optimized plan and executed-plan text, built once
    * and shared by the inventory-wide audits below.
    */
  private lazy val inventoryPlans: Map[String, (LogicalPlan, String)] =
    SparkEntry.all.map { q =>
      val qe = SparkEntry.queries(q.name)(spark, TestSpark.sf0001).queryExecution
      q.name -> (qe.optimizedPlan, qe.executedPlan.toString)
    }.toMap

  test("single-partition Window only over bounded-cardinality inputs") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.all.flatMap { q =>
      val (plan, _) = inventoryPlans(q.name)
      val globals = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !isPidOffsetsWindow(w) => w
      }
      if (globals.nonEmpty && !globalWindowAllowed(q.name))
        Some(s"${q.name}: ${globals.size} unpartitioned Window(s) — use PrefixSum")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("PrefixSum queries window only on partitioned (pid-sliced) specs") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (name <- Seq("q_gini", "q_pareto_cutoff", "q_concurrent_sessions",
        "q_weighted_median", "q_rfm", "q_ks_test", "q_mann_whitney",
        "q_histogram_equidepth")) {
      val (plan, _) = inventoryPlans(name)
      val globals = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !isPidOffsetsWindow(w) => w
      }
      assert(globals.isEmpty, s"$name still has a single-partition Window")
    }
  }

  /** Queries whose plan legitimately contains an ObjectHashAggregate
    * (a value-BUFFERING aggregate: exact percentile / collect_list /
    * listagg — the per-group buffer lives on the executor heap).
    * Two admissible classes, each entry tagged:
    *
    *   "bounded"      — the buffered values per group CANNOT grow with
    *                    data volume (an enum, a profile slice, a
    *                    centroid table, a mergeable sketch whose size
    *                    is fixed by its accuracy parameter);
    *   "exact-anchor" — the buffer IS data-proportional (exact
    *                    percentile over a corpus-fraction group), kept
    *                    deliberately as the bit-exact ORACLE ANCHOR
    *                    next to a graded scale-safe sketch twin.
    *                    EMPTY since r17: every former anchor now runs
    *                    its exact quantiles on ExactQuantiles.
    *
    * Anything else acquiring an ObjectHashAggregate is an unreviewed
    * executor-memory risk and fails the audit (VERDICT r7 item 5).
    */
  private val objectHashAllowed = Map(
    "q_collect_list" -> "bounded", // per-user set/list of event TYPES (≤|enum| values)
    "q_index_phrase" -> "bounded", // per-(doc, term) position-list fold: buffer ≤ doc token count, rows/group ≤ ingest segments — document-bounded, never corpus
    "q_string_agg" -> "bounded", // listagg of ≤25 nation names per region
    "q_lang_id" -> "bounded", // per-lang profile slice (top-k bigrams)
    "q_ann_ivf_multiprobe" -> "bounded", // per-label centroid assembly (k×dims rows)
    "q_knn_join" -> "bounded", // per-label chosen-dims assembly (≤ min(8, dim)=8 structs/label)
    "q_label_coherence" -> "bounded", // per-label centroid assembly (exactly dims=64 structs/label)
    "q_band_by_quantile" -> "bounded", // approx_percentile only: t-digest buffer fixed by accuracy
    "q_percentile_approx_scale" -> "bounded", // approx_percentile only since r17 (exact leg on ExactQuantiles)
    "q_approx_percentile" -> "bounded") // approx_percentile only since r17 (exact leg on ExactQuantiles)
  // r11: q_percentile, q_percentile_disc, q_mad, q_session_stats,
  // q_conversion_lag, q_ship_lag LEFT this list — rewritten on
  // functions.ExactQuantiles ((group, value, count) pre-aggregation +
  // PrefixSum rank intervals; VERDICT r10 item 3), so their plans no
  // longer contain any value-buffering aggregate.
  // r17 (VERDICT r16 item 2): the LAST exact-anchor entries left too —
  // q_percentile_multi, q_winsorize, q_funnel now run their exact
  // quantiles on ExactQuantiles (no buffering aggregate at all), and
  // the two sketch-vs-exact graders keep only the bounded t-digest.
  // The suite no longer contains any data-proportional agg buffer.

  test("value-buffering aggregates only where bounded or twin-anchored") {
    val offenders = SparkEntry.all.flatMap { q =>
      val (_, p) = inventoryPlans(q.name)
      if (p.contains("ObjectHashAggregate") && !objectHashAllowed.contains(q.name))
        Some(s"${q.name}: unreviewed ObjectHashAggregate (value-buffering) — " +
          "justify as bounded or pair with a sketch twin")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no query plans a CartesianProduct; BNL only on the tiny-broadcast list") {
    val offenders = SparkEntry.all.flatMap { q =>
      val (_, p) = inventoryPlans(q.name)
      val cart = p.contains("CartesianProduct")
      val bnl = p.contains("BroadcastNestedLoopJoin") && !bnlAllowed(q.name)
      if (cart) Some(s"${q.name}: CartesianProduct")
      else if (bnl) Some(s"${q.name}: unexpected BroadcastNestedLoopJoin")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
