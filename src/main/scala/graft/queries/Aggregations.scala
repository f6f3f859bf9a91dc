package graft.queries

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.4 aggregation inventory. All group-bys here are
  * partial+final HashAggregate (map-side combine) — the shuffle moves
  * only |groups| rows per input partition, so every query scales
  * linearly in input and constant in shuffle.
  */
object Aggregations extends QueryModule {

  /** Global (no-key) aggregate: single-row result, all-partial. */
  val aggGlobal = QueryDef(
    "q_agg_global",
    (s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("row_count"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        countDistinct(col("l_suppkey")).as("supplier_count")),
    Some("""
      SELECT count(*) AS row_count,
             round(sum(l_quantity), 2) AS sum_qty,
             round(avg(l_extendedprice), 4) AS avg_price,
             min(l_quantity) AS min_qty,
             max(l_quantity) AS max_qty,
             count(DISTINCT l_suppkey) AS supplier_count
      FROM lineitem
    """))

  /** Exact COUNT DISTINCT per group (expand rewrite inside Spark). */
  val countDistinctQ = QueryDef(
    "q_count_distinct",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("distinct_customers"),
          count(lit(1)).as("order_count"))
        .orderBy(col("o_orderstatus")),
    Some("""
      SELECT o_orderstatus, count(DISTINCT o_custkey) AS distinct_customers,
             count(*) AS order_count
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus
    """))

  /** Raw HLL++ output (flag → approx distinct) — the sketch the
    * graded query wraps; ApproxSpec bounds its error directly.
    */
  private[graft] def approxDistinctRaw(
      s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
      .orderBy(col("l_returnflag"))

  /** HLL++ approximate distinct — sketch-based, mergeable, the
    * at-scale replacement for exact distinct. GRADED FORM (r7 verdict
    * item 2): the sketch and the exact distinct run in the SAME
    * aggregate, and the emitted row is the deterministic pair
    * (exact count, `|approx − exact| ≤ 5%·exact` boolean) — the HLL
    * rsd is 2%, so 5% (2.5σ) can only flip on a broken sketch. The
    * DuckDB oracle computes the identical exact count and a literal
    * TRUE, turning the old rows-only exemption into a full
    * hash-graded row while the plan still exercises the approx path.
    * ApproxSpec additionally bounds the RAW sketch error (above).
    */
  val approxDistinct = QueryDef(
    "q_approx_count_distinct",
    (s, d) => {
      // exact and sketch as SEPARATE aggregates joined on the (tiny)
      // group key: a single agg mixing countDistinct's Expand rewrite
      // with the imperative HLL buffer falls off the codegen
      // HashAggregate path (measured 6.2s vs 0.5s split, sf0.1 write)
      val exact = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      val approx = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("af"))
        .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx"))
      exact.join(broadcast(approx), col("l_returnflag") === col("af"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("approx") - col("exact_orders"))
            <= col("exact_orders") * lit(0.05)).as("approx_within_5pct"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
             TRUE AS approx_within_5pct
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """))

  /** Raw t-digest percentile output (flag → approx median/p90) for
    * ApproxSpec's direct error bound.
    */
  /** The per-flag exact price-quantile PANEL (p05/q25/q50/q75/p90/
    * p95/q99), computed ONCE per (session, dataset) through
    * [[graft.functions.ExactQuantiles]] over the shared ranked price
    * table and lazily localCheckpointed — 3 rows. Four graded
    * consumers read their columns from it (q_winsorize's clip bounds,
    * q_approx_percentile's and q_percentile_approx_scale's exact
    * comparison legs, q_percentile_multi's vector): without the
    * shared artifact each paid its own boundary-filter pass over the
    * ~|distinct prices| ranked table per invocation (measured +2-3 s
    * each at sf0.1 after the r17 de-buffering). Same artifact class
    * as Dedup's verified-pair checkpoint: derived deterministically
    * from the corpus, built once, read by several queries — warmAll
    * materializes it as ingest-class work. Oracles unchanged.
    */
  private val priceQuantileCache = graft.Artifacts.memo[
    (org.apache.spark.sql.SparkSession, String), org.apache.spark.sql.DataFrame]()

  private[graft] def priceQuantilePanel(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    priceQuantileCache.get((s, d))(
      graft.functions.ExactQuantiles.cont(
        Tables.lineitem(s, d), Seq("l_returnflag"), "l_extendedprice",
        Seq(0.05 -> "p05", 0.25 -> "q25", 0.5 -> "q50", 0.75 -> "q75",
          0.9 -> "p90", 0.95 -> "p95", 0.99 -> "q99"),
        tag = s"$d#lineitem.l_returnflag.l_extendedprice",
        knownMaxDistinct = graft.functions.ExactQuantiles
          .knownMaxDistinctForSource(d, "lineitem", Seq("l_returnflag"),
            "l_extendedprice")).localCheckpoint(false))

  private[graft] def approxPercentileRaw(
      s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("price_median_approx"),
        expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("price_p90_approx"))
      .orderBy(col("l_returnflag"))

  /** Approximate percentiles via Spark's t-digest-style sketch
    * (mergeable partials — the at-scale replacement for exact
    * percentile's full shuffle of values). GRADED FORM: the row
    * carries the exact values (float-cast, the suite's percentile
    * convention) plus `|approx − exact| ≤ 2%·exact` booleans. At
    * accuracy 10000 the sketch's rank error is 1e-4, so the 2% value
    * bound has orders-of-magnitude headroom — deterministic-green by
    * construction, and a real hash-graded oracle row (r7 item 2).
    * The exact leg runs on [[graft.functions.ExactQuantiles]] since
    * r17 — the plan's only buffering aggregate is the bounded
    * t-digest itself.
    */
  val approxPercentileQ = QueryDef(
    "q_approx_percentile",
    (s, d) => {
      // exact comparison column via ExactQuantiles (r17, VERDICT r16
      // item 2): read from the shared 3-row price-quantile panel — no
      // value-buffering ObjectHashAggregate anywhere in this plan
      val exact = priceQuantilePanel(s, d)
        .select(col("l_returnflag"), col("q50").as("m"), col("p90"))
      val approx = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("af"))
        .agg(expr("approx_percentile(l_extendedprice, array(0.5D, 0.9D), 10000)")
          .as("aq"))
        .select(col("af"), col("aq")(0).as("am"), col("aq")(1).as("ap90"))
      exact.join(broadcast(approx), col("l_returnflag") === col("af"))
        .select(col("l_returnflag"),
          col("m").cast("float").as("price_median"),
          col("p90").cast("float").as("price_p90"),
          (abs(col("am") - col("m")) <= col("m") * lit(0.02)).as("median_within_2pct"),
          (abs(col("ap90") - col("p90")) <= col("p90") * lit(0.02)).as("p90_within_2pct"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             CAST(quantile_cont(l_extendedprice, 0.5) AS FLOAT) AS price_median,
             CAST(quantile_cont(l_extendedprice, 0.9) AS FLOAT) AS price_p90,
             TRUE AS median_within_2pct,
             TRUE AS p90_within_2pct
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """))

  /** ROLLUP subtotal lattice; gid computed portably as
    * grouping(a)*2+grouping(b) (engine-native grouping_id bit orders
    * differ). NULLS FIRST pinned on both sides (Spark default asc is
    * nulls-first, DuckDB's is nulls-last).
    */
  val rollupQ = QueryDef(
    "q_rollup",
    (s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("total"),
          (grouping(col("o_orderstatus")).cast("long") * 2
            + grouping(col("o_orderpriority")).cast("long")).as("gid"))
        .orderBy(col("gid"),
          col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
    Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
             round(sum(o_totalprice), 2) AS total,
             CAST(grouping(o_orderstatus) AS BIGINT) * 2
               + CAST(grouping(o_orderpriority) AS BIGINT) AS gid
      FROM orders
      GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
    """))

  /** CUBE over the two lineitem flags. */
  val cubeQ = QueryDef(
    "q_cube",
    (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("qty"),
          (grouping(col("l_returnflag")).cast("long") * 2
            + grouping(col("l_linestatus")).cast("long")).as("gid"))
        .orderBy(col("gid"),
          col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS cnt,
             round(sum(l_quantity), 2) AS qty,
             CAST(grouping(l_returnflag) AS BIGINT) * 2
               + CAST(grouping(l_linestatus) AS BIGINT) AS gid
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
    """))

  /** Explicit GROUPING SETS via the SQL entry point (exercises Spark's
    * SQL parser path alongside the DataFrame DSL used elsewhere).
    */
  val groupingSetsQ = QueryDef(
    "q_grouping_sets",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_gs_v")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
               CAST(grouping(o_orderstatus) AS BIGINT) * 2
                 + CAST(grouping(o_orderpriority) AS BIGINT) AS gid
        FROM orders_gs_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
      """)
    },
    Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
             CAST(grouping(o_orderstatus) AS BIGINT) * 2
               + CAST(grouping(o_orderpriority) AS BIGINT) AS gid
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
    """))

  /** Filtered aggregates: count/sum restricted by per-aggregate
    * predicates (FILTER clause ≡ count(CASE WHEN)).
    */
  val aggFiltered = QueryDef(
    "q_agg_filtered",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(when(col("o_orderpriority") === "1-URGENT", lit(1))).as("urgent_count"),
          count(when(col("o_orderpriority") === "5-LOW", lit(1))).as("low_count"),
          centsSum(when(col("o_totalprice") > 100000.0, col("o_totalprice"))).as("big_total"))
        .orderBy(col("o_orderstatus")),
    Some(s"""
      SELECT o_orderstatus,
             count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent_count,
             count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low_count,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) FILTER (WHERE o_totalprice > 100000.0) / 100.0 AS big_total
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus
    """))

  /** arg-max/arg-min: value carried by the extreme of a UNIQUE
    * ordering column (event_id) — uniqueness makes the result
    * deterministic, which ties on a non-unique orderer would not be.
    */
  val maxByQ = QueryDef(
    "q_max_by",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max_by(col("event_type"), col("event_id")).as("latest_type"),
          min_by(col("event_type"), col("event_id")).as("earliest_type"),
          count(lit(1)).as("event_count"))
        .orderBy(col("user_id")),
    Some("""
      SELECT user_id, arg_max(event_type, event_id) AS latest_type,
             arg_min(event_type, event_id) AS earliest_type,
             count(*) AS event_count
      FROM events
      GROUP BY user_id
      ORDER BY user_id
    """))

  /** collect_list / collect_set, array_sort-ed then joined to a string
    * on both sides for a canonical, hash-stable representation.
    */
  val collectQ = QueryDef(
    "q_collect_list",
    (s, d) =>
      Tables.events(s, d)
        .filter(col("user_id") < 50)
        .groupBy(col("user_id"))
        .agg(
          array_join(array_sort(collect_list(col("event_type"))), ",").as("all_types"),
          array_join(array_sort(collect_set(col("event_type"))), ",").as("distinct_types"))
        .orderBy(col("user_id")),
    Some("""
      SELECT user_id,
             array_to_string(list_sort(list(event_type)), ',') AS all_types,
             array_to_string(list_sort(list(DISTINCT event_type)), ',') AS distinct_types
      FROM events
      WHERE user_id < 50
      GROUP BY user_id
      ORDER BY user_id
    """))

  /** Statistical aggregates: sample stddev/variance, correlation,
    * covariance. FLOAT casts (not decimal rounding) absorb
    * accumulation-order noise: the merge order of partial moments
    * varies with task completion order, flipping the last ulps of the
    * double — `round(x, 4)` of a value sitting on a `.xxx5` boundary
    * then flips the rounded digit run-to-run (observed in round 1's
    * driver run), while a float cast discards ~29 mantissa bits and
    * collapses that noise with no decimal-boundary hazard.
    */
  val statsQ = QueryDef(
    "q_stats",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          stddev_samp(col("l_quantity")).cast("float").as("qty_stddev"),
          var_samp(col("l_quantity")).cast("float").as("qty_var"),
          corr(col("l_quantity"), col("l_extendedprice")).cast("float").as("qty_price_corr"),
          covar_samp(col("l_discount"), col("l_tax")).cast("float").as("disc_tax_covar"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             CAST(stddev_samp(l_quantity) AS FLOAT) AS qty_stddev,
             CAST(var_samp(l_quantity) AS FLOAT) AS qty_var,
             CAST(corr(l_quantity, l_extendedprice) AS FLOAT) AS qty_price_corr,
             CAST(covar_samp(l_discount, l_tax) AS FLOAT) AS disc_tax_covar
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** Exact interpolated percentiles (≡ DuckDB `quantile_cont`),
    * computed by [[graft.functions.ExactQuantiles]] — the
    * (group, value, count) pre-aggregation + distributed rank-window
    * path, NOT Spark's value-buffering `percentile` aggregate (which
    * holds every group value in one ObjectHashAggregate buffer; a
    * corpus-fraction group OOMs the executor). Exact semantics, same
    * oracle; nothing data-proportional held per task. Was an
    * "exact-anchor" allowlist entry through r10; rewritten r11
    * (VERDICT item 3) with the q_percentile_window machinery.
    */
  val percentileQ = QueryDef(
    "q_percentile",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      // tags share the warmed ranked tables with q_percentile_disc
      // and q_mad's median pass (VERDICT r13 item 2)
      val qty = graft.functions.ExactQuantiles.cont(li, Seq("l_returnflag"),
        "l_quantity", Seq(0.25 -> "qty_p25_raw", 0.5 -> "qty_median_raw"),
        tag = s"$d#lineitem.l_returnflag.l_quantity",
        knownMaxDistinct = graft.functions.ExactQuantiles
          .knownMaxDistinctForSource(d, "lineitem", Seq("l_returnflag"), "l_quantity"))
      // price leg from the shared 3-row panel (r17) — one boundary
      // pass per session instead of one per invocation
      val price = priceQuantilePanel(s, d)
        .select(col("l_returnflag"), col("p90").as("price_p90_raw"))
      qty.join(price, Seq("l_returnflag"))
        .select(col("l_returnflag"),
          round(col("qty_p25_raw"), 4).as("qty_p25"),
          round(col("qty_median_raw"), 4).as("qty_median"),
          round(col("price_p90_raw"), 4).as("price_p90"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.25), 4) AS qty_p25,
             round(quantile_cont(l_quantity, 0.5), 4) AS qty_median,
             round(quantile_cont(l_extendedprice, 0.9), 4) AS price_p90
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** Pivot: per-user event counts spread across the five event types.
    * Pivot values are pinned (never inferred — inference is an extra
    * distinct pass and nondeterministic column order at scale).
    */
  val pivotQ = QueryDef(
    "q_pivot",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)
        .orderBy(col("user_id")),
    Some("""
      SELECT user_id,
             count(*) FILTER (WHERE event_type = 'click') AS click,
             count(*) FILTER (WHERE event_type = 'view') AS view,
             count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             count(*) FILTER (WHERE event_type = 'signup') AS signup,
             count(*) FILTER (WHERE event_type = 'error') AS error
      FROM events
      GROUP BY user_id
      ORDER BY user_id
    """))

  /** Pivot with MULTIPLE aggregates per cell — each pivot value fans
    * out to {value}_{aggAlias} columns (count + rounded sum here), the
    * API form reports actually use. Same single-shuffle two-phase
    * HashAggregate as q_pivot: the pivot list is explicit, so the
    * schema is static and no extra distinct-values job runs — the
    * at-scale contract (an unlisted pivot pays a full distinct scan
    * first). Counts fill to 0 for absent combinations; sums stay NULL
    * (both engines agree: COUNT of nothing is 0, SUM of nothing is
    * NULL).
    */
  val pivotMultiQ = QueryDef(
    "q_pivot_multi",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val"))
        .na.fill(0L, Seq("click_n", "view_n", "purchase_n"))
        .orderBy(col("user_id")),
    Some("""
      SELECT user_id,
             count(*) FILTER (WHERE event_type = 'click') AS click_n,
             round(sum(value) FILTER (WHERE event_type = 'click'), 2) AS click_val,
             count(*) FILTER (WHERE event_type = 'view') AS view_n,
             round(sum(value) FILTER (WHERE event_type = 'view'), 2) AS view_val,
             count(*) FILTER (WHERE event_type = 'purchase') AS purchase_n,
             round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase_val
      FROM events
      GROUP BY user_id
      ORDER BY user_id
    """))

  /** Fixed-width histogram: integer bucket math on both engines
    * (floor of price/width, capped), no boundary ambiguity.
    */
  val histogramQ = QueryDef(
    "q_histogram",
    (s, d) =>
      Tables.orders(s, d)
        .select(least(floor(col("o_totalprice") / 50000.0), lit(9.0))
          .cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("bucket")),
    Some("""
      SELECT CAST(least(floor(o_totalprice / 50000.0), 9.0) AS BIGINT) AS bucket,
             count(*) AS cnt
      FROM orders
      GROUP BY bucket
      ORDER BY bucket
    """))

  /** Deterministic mode: most frequent o_orderpriority per order
    * status, ties broken lexicographically-smallest. Spark's native
    * `mode()` leaves ties arbitrary, so the portable formulation is
    * counts + min_by over (cnt desc, value asc) — expressed as min_by
    * on a (negated-count, value) struct, which both engines order
    * identically. Two map-side-combining aggregations, no window —
    * shuffle volume is |status×priority| then |status| rows.
    */
  val modeQ = QueryDef(
    "q_mode",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("o_orderstatus"))
        .agg(min_by(col("o_orderpriority"),
          struct((-col("cnt")).as("nc"), col("o_orderpriority").as("v"))).as("mode_priority"),
          max(col("cnt")).as("mode_count"))
        .orderBy(col("o_orderstatus")),
    Some("""
      SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_count
      FROM (
        SELECT o_orderstatus, o_orderpriority, cnt,
               row_number() OVER (PARTITION BY o_orderstatus
                 ORDER BY cnt DESC, o_orderpriority) AS rn
        FROM (
          SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
          FROM orders GROUP BY o_orderstatus, o_orderpriority))
      WHERE rn = 1
      ORDER BY o_orderstatus
    """))

  /** any_value on a column functionally dependent on the group key
    * (customer name per customer key): the one formulation where
    * any_value is deterministic and therefore oracle-able — and
    * exactly the real-world use (SELECT the dependent columns without
    * dragging them through GROUP BY). */
  val anyValueQ = QueryDef(
    "q_any_value",
    (s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_custkey"))
        .agg(any_value(col("c_name")).as("customer_name"),
          count(lit(1)).as("order_count"),
          round(sum(col("o_totalprice")), 2).as("total_spent"))
        .filter(col("order_count") >= 15)
        .orderBy(col("o_custkey")),
    Some("""
      SELECT o_custkey,
             any_value(c_name) AS customer_name,
             count(*) AS order_count,
             round(sum(o_totalprice), 2) AS total_spent
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY o_custkey
      HAVING count(*) >= 15
      ORDER BY o_custkey
    """))

  /** Discrete percentile: the smallest actual element whose cumulative
    * distribution reaches p (Postgres percentile_disc convention —
    * verified identical to DuckDB's quantile_disc). Deterministic by
    * construction: the result is a value at a rank position, so
    * duplicate values cannot flip it. Computed by
    * [[graft.functions.ExactQuantiles.disc]] (rank = max(1, ⌈p·n⌉) in
    * exact decimal), not the value-buffering percentile_disc
    * aggregate — same rewrite as q_percentile (r11).
    */
  val percentileDiscQ = QueryDef(
    "q_percentile_disc",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      // same tags as q_percentile: the ranked distinct table depends
      // only on the (dataset, groups, value) triple, not cont-vs-disc
      val qty = graft.functions.ExactQuantiles.disc(li, Seq("l_returnflag"),
        "l_quantity", Seq(0.25 -> "qty_p25", 0.5 -> "qty_median"),
        tag = s"$d#lineitem.l_returnflag.l_quantity",
        knownMaxDistinct = graft.functions.ExactQuantiles
          .knownMaxDistinctForSource(d, "lineitem", Seq("l_returnflag"), "l_quantity"))
      val price = graft.functions.ExactQuantiles.disc(li, Seq("l_returnflag"),
        "l_extendedprice", Seq(0.9 -> "price_p90"),
        tag = s"$d#lineitem.l_returnflag.l_extendedprice",
        knownMaxDistinct = graft.functions.ExactQuantiles
          .knownMaxDistinctForSource(d, "lineitem", Seq("l_returnflag"), "l_extendedprice"))
      qty.join(price, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("qty_p25"), col("qty_median"),
          col("price_p90"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             quantile_disc(l_quantity, 0.25) AS qty_p25,
             quantile_disc(l_quantity, 0.5) AS qty_median,
             quantile_disc(l_extendedprice, 0.9) AS price_p90
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** Linear-regression aggregate family (regr_slope/intercept/r2/
    * count): price-vs-quantity fit per return flag. Both engines use
    * the standard moment formulas but merge partials in different
    * orders, so every regression output is FLOAT-cast (the q_stats
    * rule); regr_count is exact.
    */
  val regressionQ = QueryDef(
    "q_regression",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("regr_count(l_extendedprice, l_quantity)").as("n"),
          expr("regr_slope(l_extendedprice, l_quantity)").cast("float").as("slope"),
          expr("regr_intercept(l_extendedprice, l_quantity)").cast("float").as("intercept"),
          expr("regr_r2(l_extendedprice, l_quantity)").cast("float").as("r2"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
             CAST(regr_slope(l_extendedprice, l_quantity) AS FLOAT) AS slope,
             CAST(regr_intercept(l_extendedprice, l_quantity) AS FLOAT) AS intercept,
             CAST(regr_r2(l_extendedprice, l_quantity) AS FLOAT) AS r2
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** Higher central moments: population skewness (m3/m2^1.5) and
    * excess kurtosis (m4/m2²−3). Spark's skewness/kurtosis use the
    * population formulas; DuckDB's use sample-corrected ones, so the
    * oracle computes the population moments explicitly from a
    * two-pass CTE (μ join back) — the definitions, not the builtin
    * names, are the contract. Outputs float-cast (q_stats rule: the
    * one-pass moment merge is order-sensitive in the last ulp).
    */
  val momentsQ = QueryDef(
    "q_moments",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          skewness(col("l_extendedprice")).cast("float").as("skew"),
          kurtosis(col("l_extendedprice")).cast("float").as("kurt"))
        .orderBy(col("l_returnflag")),
    Some("""
      WITH mu AS (
        SELECT l_returnflag, avg(l_extendedprice) AS m
        FROM lineitem GROUP BY l_returnflag)
      SELECT l.l_returnflag,
             count(*) AS n,
             CAST(avg(pow(l_extendedprice - m, 3))
                  / pow(avg(pow(l_extendedprice - m, 2)), 1.5) AS FLOAT) AS skew,
             CAST(avg(pow(l_extendedprice - m, 4))
                  / pow(avg(pow(l_extendedprice - m, 2)), 2) - 3 AS FLOAT) AS kurt
      FROM lineitem l JOIN mu ON l.l_returnflag = mu.l_returnflag
      GROUP BY l.l_returnflag
      ORDER BY l.l_returnflag
    """))

  /** Multi-percentile in one pass — the summary-statistics shape
    * (p25/p50/p75/p99) every profiling pipeline emits — computed by
    * [[graft.functions.ExactQuantiles]] since r17 (VERDICT r16 item
    * 2): one ranked distinct-value table serves the whole quantile
    * vector (the tag shares it with q_percentile's price leg and
    * q_approx_percentile's exact column), no value-buffering
    * `percentile` ObjectHashAggregate anywhere. The wide result is
    * then unpivoted to scalar (group, p, value) rows: array-typed
    * result columns are unhashable in the harness compare (round-3
    * lesson), and the long shape is what a downstream profiling
    * table wants anyway. DuckDB mirror computes the list-typed
    * quantile_cont once per group and unnests it by 1-based index.
    * The mergeable t-digest twin `q_percentile_approx_scale` (same
    * vector, ≤2% error pinned in ApproxSpec) remains the sketch
    * alternative where 1e-4 rank error is acceptable.
    */
  val percentileMultiQ = QueryDef(
    "q_percentile_multi",
    (s, d) => {
      val wide = priceQuantilePanel(s, d)
      wide
        .select(col("l_returnflag"),
          posexplode(array(col("q25"), col("q50"), col("q75"), col("q99")))
            .as(Seq("i", "qv")))
        .select(
          col("l_returnflag"),
          element_at(typedLit(Seq(0.25d, 0.5d, 0.75d, 0.99d)), col("i") + 1).as("p"),
          col("qv").cast("float").as("qval"))
        .orderBy(col("l_returnflag"), col("p"))
    },
    Some("""
      WITH qv AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, [0.25, 0.5, 0.75, 0.99]) AS qs
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, CAST(ps.p AS DOUBLE) AS p, CAST(qs[ps.i] AS FLOAT) AS qval
      FROM qv CROSS JOIN (VALUES (1, 0.25), (2, 0.5), (3, 0.75), (4, 0.99)) ps(i, p)
      ORDER BY l_returnflag, p
    """))

  /** Exact multi-percentile via aggregation + a DISTINCT-VALUE rank
    * window, not buffering: Spark's percentile() is an
    * ObjectHashAggregate that holds EVERY group value in one
    * in-memory buffer — at 100 TB a hot group OOMs the executor.
    * This query computes the same interpolated quantiles exactly,
    * with nothing data-proportional held per task: a map-side-
    * combinable count aggregate reduces the input to (group, value,
    * count) rows FIRST (distinct values ≪ rows on any real corpus),
    * then a running-sum window over the distinct values assigns each
    * value its rank interval [cum−c+1, cum], and a value survives to
    * the tiny interpolation aggregate iff its interval contains a
    * floor/ceil boundary rank of some requested quantile. Same
    * answers as q_percentile_multi (the oracle is the same
    * quantile_cont). History: the first cut ran row_number over raw
    * rows and was the ONE suite member that could fail a concurrent
    * bench under memory pressure (UNABLE_TO_ACQUIRE_MEMORY at 26×
    * under conc-8, r9) — the pre-aggregation removed that failure
    * mode while keeping exact semantics (VERDICT r9 item 2).
    * Measured cost shape: at sf0.1 the corpus's prices are ~99%
    * unique (594k distinct / 600k rows) so the extra aggregate buys
    * nothing locally (+~2 s concurrent); at 26× the distinct set is
    * CONSTANT (scale replicas repeat the value domain) so the rank
    * sort shrinks 15.6M → ~600k rows and the query passes the exact
    * r9 failure condition in 8.3 s — the trade is priced for scale,
    * where value domains always saturate long before row counts.
    */
  val percentileWindowQ = QueryDef(
    "q_percentile_window",
    (s, d) => {
      // ONE binding for the requested quantiles (ADVICE r17): the
      // exploded array and the boundary OR chain must stay in sync.
      val pVals = Seq(0.25d, 0.5d, 0.75d, 0.99d)
      val ps = typedLit(pVals)
      // Pre-aggregate to (group, value, count) BEFORE any window
      // (VERDICT r9 item 2): the first cut ran row_number over every
      // ROW, so each group's sort buffered corpus/3 rows — the one
      // suite member that could fail a concurrent bench under memory
      // pressure (UNABLE_TO_ACQUIRE_MEMORY at 26× under conc-8).
      // Distinct values ≪ rows on any real corpus, and the groupBy
      // is a map-side-combinable hash aggregate, so the window's
      // sort now touches |distinct| rows. A value at cumulative
      // count `cum` with multiplicity `c` occupies ranks
      // [cum−c+1, cum]; a quantile boundary rank r hits the value
      // whose rank interval contains it — exact semantics, same
      // oracle, no per-row expansion.
      // both frames share ONE ordered window spec (r17): with the
      // order clause on the total's frame too, Spark evaluates both
      // sums in a single WindowExec pass — the old partitionBy-only
      // spec for `n` planned a SECOND Window node that re-buffered
      // every partition just to add a constant-per-group total
      // (sum over the full frame is order-insensitive, so results
      // are identical)
      val wRank = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_extendedprice"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wRank))
        .withColumn("n", sum(col("c")).over(wAll))
        .withColumn("lo", col("cum") - col("c") + 1)
        // keep only values whose rank interval contains a floor/ceil
        // boundary of SOME p. Static OR chain, not exists(array,
        // lambda) (r17): HOF lambdas evaluate interpreted per row —
        // measured 2.3 s of this query's 3.7 s at sf0.1 — while the
        // unrolled 4-term disjunction whole-stage-codegens.
        .filter(pVals.map { p =>
          (floor(lit(1) + lit(p) * (col("n") - 1)) >= col("lo") &&
            floor(lit(1) + lit(p) * (col("n") - 1)) <= col("cum")) ||
            (ceil(lit(1) + lit(p) * (col("n") - 1)) >= col("lo") &&
              ceil(lit(1) + lit(p) * (col("n") - 1)) <= col("cum"))
        }.reduce(_ || _))
        .select(col("l_returnflag"), col("l_extendedprice"), col("lo"),
          col("cum"), col("n"), explode(ps).as("p"))
        .withColumn("r", lit(1) + col("p") * (col("n") - 1))
        .filter((floor(col("r")) >= col("lo") && floor(col("r")) <= col("cum")) ||
          (ceil(col("r")) >= col("lo") && ceil(col("r")) <= col("cum")))
        .groupBy(col("l_returnflag"), col("p"))
        .agg(min(when(floor(col("r")) >= col("lo") && floor(col("r")) <= col("cum"),
          col("l_extendedprice"))).as("vlo"),
          max(when(ceil(col("r")) >= col("lo") && ceil(col("r")) <= col("cum"),
            col("l_extendedprice"))).as("vhi"),
          max(col("r")).as("r"))
        .select(col("l_returnflag"), col("p"),
          (col("vlo") + (col("r") - floor(col("r"))) * (col("vhi") - col("vlo")))
            .cast("float").as("qval"))
        .orderBy(col("l_returnflag"), col("p"))
    },
    Some("""
      WITH qv AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, [0.25, 0.5, 0.75, 0.99]) AS qs
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, CAST(ps.p AS DOUBLE) AS p, CAST(qs[ps.i] AS FLOAT) AS qval
      FROM qv CROSS JOIN (VALUES (1, 0.25), (2, 0.5), (3, 0.75), (4, 0.99)) ps(i, p)
      ORDER BY l_returnflag, p
    """))

  /** The AT-SCALE twin of the exact multi-percentile tail
    * (q_percentile_multi / q_percentile_window): the same
    * (flag, p, qval) vector from approx_percentile's mergeable
    * t-digest-style sketch — partials combine map-side like any
    * aggregate, no group's values are ever buffered or sorted, so a
    * hot key costs O(sketch) memory instead of an executor OOM.
    * This is the formulation the exact queries' Scaladocs point to
    * for 100 TB; both are benched under the write action and the
    * numbers recorded in BASELINE.md. GRADED FORM (r7 item 2): each
    * emitted row carries the exact quantile (float-cast) and a
    * `|approx − exact| ≤ 2%·exact` boolean, so the DuckDB
    * quantile_cont oracle grades it fully while the plan still runs
    * the mergeable-sketch path. The exact comparison vector runs on
    * [[graft.functions.ExactQuantiles]] since r17 (VERDICT r16 item
    * 2) — the plan's only buffering aggregate is the bounded
    * t-digest. Raw sketch error is bounded separately in ApproxSpec
    * via percentileApproxScaleRaw.
    */
  private[graft] def percentileApproxScaleRaw(
      s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(expr(
        "approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.99D), 10000)")
        .as("qs"))
      .select(col("l_returnflag"), posexplode(col("qs")).as(Seq("i", "qv")))
      .select(col("l_returnflag"),
        element_at(typedLit(Seq(0.25d, 0.5d, 0.75d, 0.99d)), col("i") + 1).as("p"),
        col("qv").as("qval"))
      .orderBy(col("l_returnflag"), col("p"))

  val percentileApproxScaleQ = QueryDef(
    "q_percentile_approx_scale",
    (s, d) => {
      val approx = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("af"))
        .agg(expr(
          "approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.99D), 10000)")
          .as("aqs"))
      val exact = priceQuantilePanel(s, d)
      exact.join(broadcast(approx), col("l_returnflag") === col("af"))
        .select(col("l_returnflag"), posexplode(col("aqs")).as(Seq("i", "aqv")),
          array(col("q25"), col("q50"), col("q75"), col("q99")).as("eqs"))
        .select(col("l_returnflag"),
          element_at(typedLit(Seq(0.25d, 0.5d, 0.75d, 0.99d)), col("i") + 1).as("p"),
          element_at(col("eqs"), col("i") + 1).cast("float").as("qval"),
          (abs(col("aqv") - element_at(col("eqs"), col("i") + 1))
            <= element_at(col("eqs"), col("i") + 1) * lit(0.02)).as("within_2pct"))
        .orderBy(col("l_returnflag"), col("p"))
    },
    Some("""
      WITH qv AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, [0.25, 0.5, 0.75, 0.99]) AS qs
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, CAST(ps.p AS DOUBLE) AS p,
             CAST(qs[ps.i] AS FLOAT) AS qval, TRUE AS within_2pct
      FROM qv CROSS JOIN (VALUES (1, 0.25), (2, 0.5), (3, 0.75), (4, 0.99)) ps(i, p)
      ORDER BY l_returnflag, p
    """))

  /** Quantile BANDING via broadcast range join — the second half of
    * the documented scale path: the ≤|groups|-row approx boundary
    * table broadcasts, every fact row lands in its quartile band with
    * three codegen'd compares (a broadcast range join degenerated to
    * array lookups — no sort, no shuffle beyond the final tiny
    * aggregate), and the per-band rollup is an ordinary two-phase
    * hash aggregate. This is how "which quartile is each row in"
    * survives 100 TB; the exact-rank alternative is one global sort
    * per group (q_percentile_window). GRADED FORM (r7 item 2): the
    * emitted row per (flag, band) is the deterministic (group total,
    * `|band share − 25%| ≤ 8 points` boolean) pair — the sketch's
    * rank error at accuracy 10000 is 1e-4, so 8 points (the same
    * bound ApproxSpec always used, sized for duplicate-value mass at
    * band boundaries) only flips on broken banding. The oracle emits
    * the same totals and literal TRUE for each of the 4 bands, making
    * rows/schema/hash all checkable. Raw band counts stay available
    * to ApproxSpec via bandCountsRaw.
    */
  private[graft] def bandCountsRaw(
      s: org.apache.spark.sql.SparkSession, d: String) = {
    val bounds = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("bf"))
      .agg(expr(
        "approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D), 10000)")
        .as("qs"))
    Tables.lineitem(s, d)
      .join(broadcast(bounds), col("l_returnflag") === col("bf"))
      .select(col("l_returnflag"),
        col("l_extendedprice"),
        when(col("l_extendedprice") <= col("qs")(0), 1L)
          .when(col("l_extendedprice") <= col("qs")(1), 2L)
          .when(col("l_extendedprice") <= col("qs")(2), 3L)
          .otherwise(4L).as("band"))
      .groupBy(col("l_returnflag"), col("band"))
      .agg(count(lit(1)).as("n"))
  }

  val bandByQuantileQ = QueryDef(
    "q_band_by_quantile",
    (s, d) => {
      val counts = bandCountsRaw(s, d)
      val totals = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("tf"))
        .agg(count(lit(1)).as("flag_total"))
      counts.join(broadcast(totals), col("l_returnflag") === col("tf"))
        .select(col("l_returnflag"), col("band"), col("flag_total"),
          (abs(col("n") / col("flag_total") - lit(0.25)) <= lit(0.08))
            .as("share_within_8pts"))
        .orderBy(col("l_returnflag"), col("band"))
    },
    Some("""
      SELECT l_returnflag, band, flag_total, TRUE AS share_within_8pts
      FROM (SELECT l_returnflag, count(*) AS flag_total
            FROM lineitem GROUP BY l_returnflag) t
      CROSS JOIN (VALUES (CAST(1 AS BIGINT)), (2), (3), (4)) b(band)
      ORDER BY l_returnflag, band
    """))

  /** Winsorized mean — the robust-stats data-cleaning shape: compute
    * per-group p05/p95, clip every value into [p05, p95], aggregate
    * the clipped column next to the raw mean. Two passes expressed as
    * an aggregate joined back (group count is tiny, the join
    * broadcasts); the clip itself is codegen'd least/greatest. Floats
    * cast per the interpolated-percentile rule. The clip bounds run
    * on [[graft.functions.ExactQuantiles]] since r17 (VERDICT r16
    * item 2) — no value-buffering percentile aggregate; the tag
    * shares the warmed ranked price table with q_percentile_multi.
    */
  val winsorizeQ = QueryDef(
    "q_winsorize",
    (s, d) => {
      val bounds = priceQuantilePanel(s, d)
        .select(col("l_returnflag").as("bf"), col("p05"), col("p95"))
      Tables.lineitem(s, d)
        .join(broadcast(bounds), col("l_returnflag") === col("bf"))
        .select(col("l_returnflag"),
          col("l_extendedprice").as("raw"),
          least(greatest(col("l_extendedprice"), col("p05")), col("p95")).as("clipped"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          avg(col("raw")).cast("float").as("raw_mean"),
          avg(col("clipped")).cast("float").as("winsorized_mean"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      WITH bounds AS (
        SELECT l_returnflag AS bf,
               quantile_cont(l_extendedprice, 0.05) AS p05,
               quantile_cont(l_extendedprice, 0.95) AS p95
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag,
             count(*) AS n,
             CAST(avg(l_extendedprice) AS FLOAT) AS raw_mean,
             CAST(avg(least(greatest(l_extendedprice, p05), p95)) AS FLOAT)
               AS winsorized_mean
      FROM lineitem JOIN bounds ON l_returnflag = bf
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** Equi-DEPTH histogram — q_histogram's fixed-width twin: decile
    * bins each holding ~10% of rows, with the value range per bin
    * (the quantization table feature binning / data profiling needs).
    * ntile(10) over a TOTAL order (price, orderkey tiebreak) is
    * deterministic in both engines; counts/min/max are exact. The
    * tiling is PrefixSum's distributed rank + ntileFromRank (exact
    * SQL-ntile semantics, never a single-partition window); the
    * approx-percentile + broadcast-range-join formulation remains the
    * cheaper-but-inexact alternative when rank exactness isn't needed.
    */
  val histogramEquidepthQ = QueryDef(
    "q_histogram_equidepth",
    (s, d) =>
      graft.functions.PrefixSum.attach(
          Tables.orders(s, d).select(col("o_totalprice"), col("o_orderkey")),
          Nil, Seq(col("o_totalprice"), col("o_orderkey")),
          rank = Some("__rank"), countTotal = Some("__n"))
        .select(col("o_totalprice"),
          graft.functions.PrefixSum.ntileFromRank(col("__rank"), col("__n"), 10)
            .as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("cnt"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy(col("decile")),
    Some("""
      SELECT decile, count(*) AS cnt, min(o_totalprice) AS lo,
             max(o_totalprice) AS hi
      FROM (
        SELECT o_totalprice,
               CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
                 AS BIGINT) AS decile
        FROM orders)
      GROUP BY decile
      ORDER BY decile
    """))

  /** Median absolute deviation per group — the robust dispersion
    * measure outlier pipelines prefer over stddev (one wild value
    * moves stddev arbitrarily; MAD needs 50% contamination). Two
    * exact-percentile passes, BOTH through
    * [[graft.functions.ExactQuantiles]] (r11 — no value-buffering
    * aggregate anywhere in the plan): the per-group median broadcast
    * back onto the rows (tiny build side), then the median of
    * absolute deviations over the deviation value domain. The
    * deviation |x−med| is computed from full-precision inputs; only
    * the displayed columns round (q_text_quality rule).
    */
  val madQ = QueryDef(
    "q_mad",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      // med is |groups| rows and feeds THREE consumers (dev input,
      // final join, and the dev agg's lineage). Since r17 it is read
      // straight off the shared price-quantile panel (q50 IS the
      // p=0.5 interpolated quantile over the same warmed ranked
      // table, so values are bit-identical — both are
      // ExactQuantiles.cont over the identical tag) — the per-
      // invocation eager checkpoint this used to pay re-ran the
      // ranked table's boundary pass every call; the panel is one
      // 3-row checkpoint materialized in warm.
      val med = priceQuantilePanel(s, d)
        .select(col("l_returnflag").as("m_flag"), col("q50").as("med"))
      val dev = li
        .join(broadcast(med), col("l_returnflag") === col("m_flag"))
        .select(col("l_returnflag"),
          abs(col("l_extendedprice") - col("med")).as("adev"))
      graft.functions.ExactQuantiles.cont(dev, Seq("l_returnflag"),
          "adev", Seq(0.5 -> "mad_raw"),
          tag = s"$d#mad.l_returnflag.adev")
        .join(broadcast(med), col("l_returnflag") === col("m_flag"))
        .select(col("l_returnflag"),
          round(col("med"), 4).as("median_price"),
          round(col("mad_raw"), 4).as("mad_price"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      WITH med AS (
        SELECT l_returnflag AS m_flag,
               quantile_cont(l_extendedprice, 0.5) AS med
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag,
             round(max(med), 4) AS median_price,
             round(quantile_cont(abs(l_extendedprice - med), 0.5), 4)
               AS mad_price
      FROM lineitem JOIN med ON l_returnflag = m_flag
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** Pairwise correlation matrix over the lineitem numerics — the
    * feature-correlation profile (long format: one row per ordered
    * pair). All six corr() aggregates run in ONE pass over the fact
    * (a single partial+final HashAggregate computes every pair's
    * co-moments simultaneously); the stack() to long format touches
    * only the 1-row aggregate. Corr values float-cast per the
    * q_stats determinism rule.
    */
  val corrMatrixQ = QueryDef(
    "q_corr_matrix",
    (s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j))
      val cs = pairs.map { case (a, b) =>
        corr(col(a), col(b)).cast("float").as(s"${a}__$b")
      }
      val agged = Tables.lineitem(s, d).agg(cs.head, cs.tail: _*)
      val stackExpr = pairs.map { case (a, b) =>
        s"'$a', '$b', ${a}__$b"
      }.mkString(s"stack(${pairs.size}, ", ", ", ") AS (col_a, col_b, corr)")
      agged.selectExpr(stackExpr).orderBy(col("col_a"), col("col_b"))
    },
    Some("""
      WITH m AS (
        SELECT CAST(corr(l_quantity, l_extendedprice) AS FLOAT) AS qty_price,
               CAST(corr(l_quantity, l_discount) AS FLOAT) AS qty_disc,
               CAST(corr(l_quantity, l_tax) AS FLOAT) AS qty_tax,
               CAST(corr(l_extendedprice, l_discount) AS FLOAT) AS price_disc,
               CAST(corr(l_extendedprice, l_tax) AS FLOAT) AS price_tax,
               CAST(corr(l_discount, l_tax) AS FLOAT) AS disc_tax
        FROM lineitem)
      SELECT col_a, col_b, corr FROM (
        SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, qty_price AS corr FROM m
        UNION ALL SELECT 'l_quantity', 'l_discount', qty_disc FROM m
        UNION ALL SELECT 'l_quantity', 'l_tax', qty_tax FROM m
        UNION ALL SELECT 'l_extendedprice', 'l_discount', price_disc FROM m
        UNION ALL SELECT 'l_extendedprice', 'l_tax', price_tax FROM m
        UNION ALL SELECT 'l_discount', 'l_tax', disc_tax FROM m)
      ORDER BY col_a, col_b
    """))

  /** The quantile-sketch SAMPLING CONTRACT as an oracle row: per
    * priority, the deterministic uniform sample is the bottom-64 rows
    * by md5(key) (cross-engine hash, ties impossible on a unique
    * key), and quartiles are read by exact rank (lower convention,
    * ⌈q·n⌉) from the sampled cents. This grades against DuckDB the
    * exact semantics functions.QuantileSketch implements natively as
    * a mergeable partial+final UDAF (QuantileSketchSpec pins
    * UDAF ≡ this declarative twin on identical hash keys — the
    * NgramsSpec kernel-vs-HOF pattern). At 100 TB the sample is
    * WindowGroupLimit-pruned per group; nothing global.
    */
  val sketchQuantilesQ = QueryDef(
    "q_sketch_quantiles",
    (s, d) => {
      val k = 64
      val sampled = Tables.orders(s, d)
        .select(col("o_orderpriority").as("prio"),
          round(round(col("o_totalprice"), 2) * 100, 0).cast("long").as("cents"),
          md5(col("o_orderkey").cast("string")).as("hk"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("prio")).orderBy(col("hk"))))
        .filter(col("rn") <= k)
      val ranked = sampled
        .withColumn("vrk", row_number().over(
          Window.partitionBy(col("prio")).orderBy(col("cents"), col("hk"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("prio"))))
      ranked.groupBy(col("prio"))
        .agg(max(col("n")).as("n_sampled"),
          max(when(col("vrk") === ceil(col("n") * 0.25), col("cents"))).as("p25_cents"),
          max(when(col("vrk") === ceil(col("n") * 0.5), col("cents"))).as("p50_cents"),
          max(when(col("vrk") === ceil(col("n") * 0.75), col("cents"))).as("p75_cents"))
        .orderBy(col("prio"))
    },
    Some("""
      WITH sampled AS (
        SELECT prio, cents,
               row_number() OVER (PARTITION BY prio ORDER BY hk) AS rn, hk
        FROM (
          SELECT o_orderpriority AS prio,
                 CAST(round(round(o_totalprice,2)*100,0) AS BIGINT) AS cents,
                 md5(CAST(o_orderkey AS VARCHAR)) AS hk
          FROM orders)),
      kept AS (SELECT prio, cents, hk FROM sampled WHERE rn <= 64),
      ranked AS (
        SELECT prio, cents,
               CAST(row_number() OVER (PARTITION BY prio ORDER BY cents, hk) AS BIGINT) AS vrk,
               CAST(count(*) OVER (PARTITION BY prio) AS BIGINT) AS n
        FROM kept)
      SELECT prio,
             CAST(max(n) AS BIGINT) AS n_sampled,
             CAST(max(CASE WHEN vrk = ceil(n * 0.25) THEN cents END) AS BIGINT) AS p25_cents,
             CAST(max(CASE WHEN vrk = ceil(n * 0.5)  THEN cents END) AS BIGINT) AS p50_cents,
             CAST(max(CASE WHEN vrk = ceil(n * 0.75) THEN cents END) AS BIGINT) AS p75_cents
      FROM ranked GROUP BY prio ORDER BY prio
    """))

  /** Boolean / bitwise aggregate forms — count_if, bool_and/bool_or
    * (SQL EVERY/ANY), and the bit_and/bit_or/bit_xor reductions. All
    * are order-independent commutative monoids, so they map-side
    * combine into two-phase HashAggregate like any sum: a 100 TB scan
    * reduces each group to one long/boolean before the shuffle.
    * bit_xor is the interesting one at scale — it is its own inverse,
    * the basis of set-reconciliation checksums (a shard's xor of row
    * keys detects drift against a replica without moving rows).
    */
  val aggBoolean = QueryDef(
    "q_agg_boolean",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("count_if(l_tax < 0.05)").as("n_low_tax"),
        expr("bool_and(l_extendedprice > l_quantity)").as("all_price_gt_qty"),
        expr("bool_or(l_quantity > 45)").as("any_big_qty"),
        expr("bit_and(l_orderkey)").as("key_bit_and"),
        expr("bit_or(l_orderkey)").as("key_bit_or"),
        expr("bit_xor(l_orderkey)").as("key_bit_xor"))
      .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             count(*) FILTER (WHERE l_tax < 0.05) AS n_low_tax,
             bool_and(l_extendedprice > l_quantity) AS all_price_gt_qty,
             bool_or(l_quantity > 45) AS any_big_qty,
             CAST(bit_and(l_orderkey) AS BIGINT) AS key_bit_and,
             CAST(bit_or(l_orderkey) AS BIGINT) AS key_bit_or,
             CAST(bit_xor(l_orderkey) AS BIGINT) AS key_bit_xor
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  def defs: Seq[QueryDef] = Seq(
    aggBoolean,
    aggGlobal, countDistinctQ, approxDistinct, rollupQ, cubeQ,
    groupingSetsQ, aggFiltered, maxByQ, collectQ, statsQ, percentileQ,
    pivotQ, pivotMultiQ, histogramQ, modeQ, anyValueQ, percentileDiscQ,
    approxPercentileQ, regressionQ, momentsQ, percentileMultiQ,
    percentileWindowQ, percentileApproxScaleQ, bandByQuantileQ,
    winsorizeQ, histogramEquidepthQ, madQ, corrMatrixQ,
    sketchQuantilesQ)
}
