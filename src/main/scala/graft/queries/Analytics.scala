package graft.queries

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.PrefixSum
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classic composite analytics (TPC-H-style): multi-clause queries
  * combining the §2 primitives the way a reference OLAP workload
  * does — selective scans feeding broadcast-dim joins, grouped
  * revenue math, windowed ranking over aggregates. These validate the
  * primitives compose, and their plans follow the same scale shapes
  * (SCALING.md).
  */
object Analytics extends QueryModule {

  /** Q3 analog — shipping priority: revenue of unshipped lineitems
    * for one market segment, top 10 orders.
    */
  val shippingPriority = QueryDef(
    "q_shipping_priority",
    (s, d) => {
      val cutoff = lit("1997-06-01").cast("timestamp")
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""
      SELECT l_orderkey, o_orderdate, o_orderpriority,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
        AND l_shipdate  > TIMESTAMP '1997-06-01 00:00:00'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10
    """))

  /** Q6 analog — forecast revenue change: tight range predicates, one
    * global aggregate; the canonical pushdown showcase.
    */
  val forecastRevenue = QueryDef(
    "q_forecast_revenue",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp")
          && col("l_discount").between(0.03, 0.07)
          && col("l_quantity") < 24)
        .agg(centsSum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("qualifying_lines")),
    Some(s"""
      SELECT ${centsSumSql("l_extendedprice * l_discount")} AS revenue,
             count(*) AS qualifying_lines
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND l_discount BETWEEN 0.03 AND 0.07
        AND l_quantity < 24
    """))

  /** Q14 analog — promo revenue share: conditional aggregation over a
    * fact⋈dim join. No broadcast HINT on part: it is data-
    * proportional (scales with SF — unbroadcastable at 100 TB), so
    * the join strategy is left to Catalyst/AQE size statistics, which
    * broadcast it exactly while it is actually small (r9 hint audit:
    * only bounded enums nation/region keep explicit hints).
    */
  val promoRevenue = QueryDef(
    "q_promo_revenue",
    (s, d) => {
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
      l.join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .agg(
          centsSum(when(col("p_type").like("PROMO%"),
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0))
            .as("promo_revenue"),
          centsSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("total_revenue"))
    },
    Some(s"""
      SELECT ${centsSumSql("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} AS promo_revenue,
             ${centsSumSql("l_extendedprice * (1 - l_discount)")} AS total_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    """))

  /** Q15 analog — top supplier per nation: windowed rank over grouped
    * revenue (aggregate → window, two shuffles).
    */
  val topSupplier = QueryDef(
    "q_top_supplier",
    (s, d) => {
      val revenue = Tables.lineitem(s, d)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"), col("s_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("revenue").desc, col("s_suppkey"))
      revenue
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") === 1)
        .select(col("s_nationkey"), col("s_suppkey"), col("s_name"), col("revenue"))
        .orderBy(col("s_nationkey"))
    },
    Some("""
      SELECT s_nationkey, s_suppkey, s_name, revenue
      FROM (
        SELECT s_nationkey, s_suppkey, s_name, revenue,
               row_number() OVER (PARTITION BY s_nationkey
                 ORDER BY revenue DESC, s_suppkey) AS rn
        FROM (
          SELECT s_nationkey, s_suppkey, s_name,
                 round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY s_nationkey, s_suppkey, s_name))
      WHERE rn = 1
      ORDER BY s_nationkey
    """))

  /** Q16 analog — parts/supplier stats: distinct supplier counts per
    * (brand, type-prefix, size) excluding one brand via anti filter.
    */
  val partsStats = QueryDef(
    "q_parts_stats",
    (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.part(s, d).filter(col("p_brand") =!= "Brand#1"),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          substring(col("p_type"), 1, 6).as("type_prefix"),
          col("p_size"), col("l_suppkey"))
        .groupBy(col("p_brand"), col("type_prefix"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_count"))
        .orderBy(col("supplier_count").desc, col("p_brand"),
          col("type_prefix"), col("p_size"))
        .limit(50),
    Some("""
      SELECT p_brand, type_prefix, p_size, supplier_count
      FROM (
        SELECT p_brand, substr(p_type, 1, 6) AS type_prefix, p_size,
               count(DISTINCT l_suppkey) AS supplier_count
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
        GROUP BY p_brand, type_prefix, p_size)
      ORDER BY supplier_count DESC, p_brand, type_prefix, p_size
      LIMIT 50
    """))

  /** EMA of order totals per customer (TimeSeries.ema as a graded
    * row): ema_0 = v_0, ema_i = 0.25·v_i + 0.75·ema_{i-1} ordered by
    * (o_orderdate, o_orderkey). The recurrence can't be a window
    * function (each value depends on the previous OUTPUT), so the
    * Spark side is the sorted-fold flatMapGroups operator — one
    * shuffle on the series key, linear per series. The oracle is a
    * DuckDB recursive CTE stepping rn→rn+1. Numerics: alpha=0.25 and
    * 1-alpha=0.75 are exactly representable, both engines run the
    * identical IEEE op sequence, and the output rounding
    * (round(e·1e6)/1e6, half-up on positive values) matches
    * TimeSeries.ema's math.round contract.
    */
  val emaOrders = QueryDef(
    "q_ema",
    (s, d) => {
      val src = Tables.orders(s, d).filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ord"),
          col("o_totalprice"))
      graft.functions.TimeSeries
        .ema(src, 0.25, "o_custkey", "o_orderkey", "ord", "o_totalprice")
        .toDF()
        .select(col("series_id").as("o_custkey"), col("seq").as("o_orderkey"),
          col("value").as("price"), col("ema").as("ema_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""
      WITH RECURSIVE ordered AS (
        SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders WHERE o_custkey < 50),
      rec AS (
        SELECT o_custkey, o_orderkey, price, rn, price AS ema
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.o_custkey, o.o_orderkey, o.price, o.rn,
               0.25 * o.price + 0.75 * r.ema
        FROM ordered o JOIN rec r
          ON o.o_custkey = r.o_custkey AND o.rn = r.rn + 1)
      SELECT o_custkey, o_orderkey, price,
             round(ema * 1000000) / 1000000.0 AS ema_price
      FROM rec ORDER BY o_custkey, o_orderkey
    """))

  /** Q18 analog — large-volume orders: orders whose lineitem quantity
    * total exceeds a threshold, with customer context. The
    * aggregate-then-semi-join shape: the heavy groupBy runs on the
    * fact table first, the joins only see the tiny qualifying set.
    */
  val largeOrders = QueryDef(
    "q_large_orders",
    (s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 200)
      big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
    Some("""
      SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
      FROM (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200) big
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 100
    """))

  /** Q8 analog — market share: one nation's share of total revenue
    * per order year. Share is a ratio of two full-precision sums,
    * FLOAT-cast to absorb the engines' different partial-sum merge
    * orders (memory: stats-agg rule); the displayed totals are
    * cent-exact order-independent sums (centsSum, ADVICE r8).
    */
  val marketShare = QueryDef(
    "q_market_share",
    (s, d) => {
      val rev = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"),
          col("n_name"))
      rev.groupBy(col("o_year"))
        .agg(centsSum(col("rev")).as("total_revenue"),
          centsSum(when(col("n_name") === "NATION_3", col("rev")).otherwise(0.0))
            .as("nation3_revenue"),
          (sum(when(col("n_name") === "NATION_3", col("rev")).otherwise(0.0))
            / sum(col("rev"))).cast("float").as("nation3_share"))
        .orderBy(col("o_year"))
    },
    Some(s"""
      SELECT o_year,
             ${centsSumSql("rev")} AS total_revenue,
             ${centsSumSql("CASE WHEN n_name = 'NATION_3' THEN rev ELSE 0.0 END")} AS nation3_revenue,
             CAST(sum(CASE WHEN n_name = 'NATION_3' THEN rev ELSE 0.0 END)
                  / sum(rev) AS FLOAT) AS nation3_share
      FROM (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               l_extendedprice * (1 - l_discount) AS rev,
               n_name
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey)
      GROUP BY o_year
      ORDER BY o_year
    """))

  /** Q21 analog — suppliers who kept orders waiting: the supplier's
    * line shipped late (> 90 days after the order date — this schema
    * has no commit/receipt dates), another supplier participated in
    * the order, and no OTHER supplier shipped late. The double
    * correlation (EXISTS + NOT EXISTS, both with an inequality on the
    * correlated key) is the hardest subquery shape in TPC-H; here it
    * is expressed directly as a left-semi then left-anti join, each
    * an equi-join on l_orderkey (the shuffle key) with the supplier
    * inequality as the join residual — no cartesian anywhere, and at
    * 100 TB all three lineitem reads shuffle on the same key so AQE
    * can reuse the exchange.
    */
  val waitingOrders = QueryDef(
    "q_waiting_orders",
    (s, d) => {
      import graft.functions.JoinRouter
      val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      // SHUFFLE_HASH is ROUTED, not pinned (r16, VERDICT r15 item 1;
      // the static hints were r10's fix for the opposite trap): the
      // narrow fact projections size-estimate under the 64m auto
      // threshold at 26× while holding millions of rows, so Spark
      // would broadcast them (measured 5.6 s slower sequential) —
      // but a STATIC hash hint puts an unspillable build on a
      // data-proportional side, the memory shape q_join_existence
      // measured failing at sf1 conc-8 on the default heap.
      // JoinRouter hints only while the per-task build estimate fits
      // the memory budget; past it the joins go unhinted and AQE
      // keeps the spillable sort-merge fallback. Fact ⋈ fact never
      // broadcasts either way; the genuinely bounded dims below
      // (supplier per size, nation enum) stay size-driven broadcasts.
      val late = l.join(JoinRouter.hintIfSafe(o, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
      val otherLines = l.select(col("l_orderkey").as("x_orderkey"),
        col("l_suppkey").as("x_suppkey"))
      val otherLate = late.select(col("l_orderkey").as("y_orderkey"),
        col("l_suppkey").as("y_suppkey"))
      JoinRouter.hintIfSafe(late, d, "lineitem")
        .join(JoinRouter.hintIfSafe(otherLines, d, "lineitem"),
          col("l_orderkey") === col("x_orderkey")
            && col("l_suppkey") =!= col("x_suppkey"), "left_semi")
        .join(otherLate,
          col("l_orderkey") === col("y_orderkey")
            && col("l_suppkey") =!= col("y_suppkey"), "left_anti")
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(25)
    },
    Some("""
      SELECT n_name, s_name, count(*) AS numwait
      FROM lineitem l1
      JOIN orders   ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
      JOIN supplier ON s_suppkey = l1.l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      WHERE l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey AND o3.o_orderstatus = 'F'
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
      GROUP BY n_name, s_name
      ORDER BY numwait DESC, s_name
      LIMIT 25
    """))

  /** Q22 analog — promising inactive customers: high-balance
    * customers (above the float-cast average of positive balances —
    * the q_stats determinism rule applied to a filter threshold) in
    * odd custkey buckets (the schema has no phone country code) with
    * no recent order (every customer in this corpus has SOME order,
    * so Q22's "never ordered" is rephrased as "none since
    * 2000-01-01"). Scalar-aggregate threshold via a broadcast 1-row
    * crossJoin (the q_tf_idf pattern — no driver action), then an
    * anti-join against the date-filtered orders on the customer key —
    * the filter is pushed into the orders scan, so the anti-join's
    * build side shrinks before the shuffle.
    */
  val globalCustomers = QueryDef(
    "q_global_customers",
    (s, d) => {
      val cust = Tables.customer(s, d)
        .withColumn("bucket", col("c_custkey") % 10)
        .filter(col("bucket").isin(1, 3, 5, 7, 9))
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg(avg(col("c_acctbal")).cast("float").as("avg_bal"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal")), 2).as("totacctbal"))
        .orderBy(col("bucket"))
    },
    Some("""
      SELECT bucket, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
      FROM (SELECT c_custkey, c_acctbal, c_custkey % 10 AS bucket FROM customer) c
      WHERE bucket IN (1, 3, 5, 7, 9)
        AND c_acctbal > (
          SELECT CAST(avg(c_acctbal) AS FLOAT) FROM customer
          WHERE c_acctbal > 0 AND c_custkey % 10 IN (1, 3, 5, 7, 9))
        AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c.c_custkey
            AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      GROUP BY bucket
      ORDER BY bucket
    """))

  /** Q4 analog — order priority checking: orders in a quarter having
    * at least one late-shipping lineitem, counted per priority. The
    * EXISTS collapses to ONE join + reaggregation: quarter-filtered
    * orders join their lines (shuffle on the order key), the late
    * filter runs as a join residual-side predicate, and the
    * distinct-qualifying-orders aggregate REUSES the join's hash
    * partitioning (no extra exchange) before the 5-row priority
    * count. One scan of each table — the earlier semi-join form read
    * orders twice and lineitem against the UNFILTERED order set.
    */
  val priorityCount = QueryDef(
    "q_priority_count",
    (s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      o.join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("o_orderkey"), col("o_orderpriority")).agg(count(lit(1)))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders o
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
        AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o.o_orderkey
            AND l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """))

  /** Q13 analog — customer order-count distribution: orders per
    * customer (left join so zero-order customers would count), then
    * the histogram of those counts — the double-aggregation shape
    * (fact-sized shuffle on custkey, then a tiny count-of-counts).
    */
  val custDist = QueryDef(
    "q_custdist",
    (s, d) => {
      val perCust = Tables.customer(s, d)
        .join(Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
          .select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""
      SELECT c_count, count(*) AS custdist
      FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
          AND o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c_custkey)
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC
    """))

  /** Q10 analog — returned-item revenue: customers ranked by revenue
    * of their returned lineitems in a quarter; fact⋈fact on the order
    * key, dims broadcast, top 20 via TakeOrdered.
    */
  val returnedRevenue = QueryDef(
    "q_returned_revenue",
    (s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    Some("""
      SELECT c_custkey, c_name, n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20
    """))

  /** Q5 analog — local-supplier revenue: per nation, revenue from
    * lineitems where the supplier and the ordering customer share the
    * nation. The supplier-nation equality is a second equi-condition
    * on the same joined row set (no extra shuffle), nation/supplier
    * dims broadcast, facts shuffle on the order key once.
    */
  val localSupplierRevenue = QueryDef(
    "q_local_supplier_revenue",
    (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey")
            && col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(centsSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("local_lines"))
        .orderBy(col("revenue").desc, col("n_name")),
    Some(s"""
      SELECT n_name,
             ${centsSumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
             count(*) AS local_lines
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY revenue DESC, n_name
    """))

  /** The three ranking semantics side-by-side on a tie-heavy column:
    * l_quantity is a small-integer domain, so "top-2 quantities per
    * flag" means something different under row_number (exactly 2
    * rows), rank (ALL tied rows, gaps), and dense_rank (all rows of
    * the top-2 DISTINCT values). One window pass computes all three
    * (same partition/order spec → one sort), and the aggregate
    * compresses the proof to per-flag survivor counts. The choice is
    * semantic, not cosmetic: at 100 TB a ties-included top-k can be
    * orders of magnitude larger than k.
    */
  val topkTies = QueryDef(
    "q_topk_ties",
    (s, d) => {
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity").desc)
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rk"),
          dense_rank().over(w).as("dr"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(col("rn") <= 2, 1L).otherwise(0L)).as("n_row_number"),
          sum(when(col("rk") <= 2, 1L).otherwise(0L)).as("n_rank"),
          sum(when(col("dr") <= 2, 1L).otherwise(0L)).as("n_dense_rank"),
          max(col("l_quantity")).as("top_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             CAST(sum(CASE WHEN rn <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_row_number,
             CAST(sum(CASE WHEN rk <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rank,
             CAST(sum(CASE WHEN dr <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dense_rank,
             max(l_quantity) AS top_qty
      FROM (
        SELECT l_returnflag, l_quantity,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS rn,
               rank()       OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS rk,
               dense_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS dr
        FROM lineitem)
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** Month-over-month revenue growth — the period-over-period report
    * every dashboard opens with: monthly revenue, previous month via
    * lag, growth ratio float-cast. The monthly aggregate is tiny, so
    * the lag window costs nothing; at 100 TB all the weight is the
    * one revenue group-by.
    */
  val momGrowth = QueryDef(
    "q_mom_growth",
    (s, d) => {
      val w = Window.orderBy(col("month"))
      Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(centsSum(col("o_totalprice")).as("revenue"))
        .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
        .select(col("month"), col("revenue"), col("prev_revenue"),
          ((col("revenue") - col("prev_revenue")) / col("prev_revenue"))
            .cast("float").as("mom_growth"))
        .orderBy(col("month"))
    },
    Some(s"""
      SELECT month, revenue, prev_revenue,
             CAST((revenue - prev_revenue) / prev_revenue AS FLOAT) AS mom_growth
      FROM (
        SELECT month, revenue, lag(revenue, 1) OVER (ORDER BY month) AS prev_revenue
        FROM (
          SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
                 ${centsSumSql("o_totalprice")} AS revenue
          FROM orders GROUP BY 1))
      ORDER BY month
    """))

  /** Maximum drawdown of the daily-revenue series — running peak via
    * an expanding max window, drawdown ratio against it, one global
    * max. The time-series risk stat, and the canonical "expanding
    * window + ratio" shape. The daily series is one aggregate (≤ a
    * few thousand rows), so the single-partition expanding window is
    * trivially safe — the same query on a per-key panel would
    * partition the window by key.
    */
  val drawdown = QueryDef(
    "q_drawdown",
    (s, d) => {
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(col("o_totalprice")).as("rev"))
        .withColumn("peak", max(col("rev")).over(w))
        .select(((col("peak") - col("rev")) / col("peak")).as("dd"))
        .agg(count(lit(1)).as("n_days"),
          max(col("dd")).cast("float").as("max_drawdown"))
    },
    Some("""
      SELECT count(*) AS n_days,
             CAST(max((peak - rev) / peak) AS FLOAT) AS max_drawdown
      FROM (
        SELECT day, rev,
               max(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS peak
        FROM (
          SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS rev
          FROM orders GROUP BY 1))
    """))

  /** RFM segmentation — the classic customer-value scoring: per
    * customer, Recency (days since last order, against the corpus max
    * date so the query is reproducible), Frequency (order count),
    * Monetary (revenue sum), each bucketed into quintiles. ntile
    * ties are broken by custkey in the ORDER BY so the bucket
    * assignment is total-order deterministic in both engines. The
    * per-customer aggregate is one shuffle; each quintile is derived
    * from a PrefixSum distributed rank + the exact group count
    * (ntileFromRank reproduces SQL ntile's ceil/floor tile split), so
    * no score ever runs a single-partition global window — |customers|
    * is 100M+ at 100 TB. Corpus max date rides the lazy 1-row cross
    * join.
    */
  val rfm = QueryDef(
    "q_rfm",
    (s, d) => {
      val maxDate = Tables.orders(s, d)
        .agg(max(col("o_orderdate")).as("corpus_max"))
      val base = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("frequency"),
          round(sum(col("o_totalprice")), 2).as("monetary"))
        .crossJoin(maxDate)
        .select(col("o_custkey"),
          datediff(col("corpus_max"), col("last_order")).cast("long").as("recency_days"),
          col("frequency"), col("monetary"))
      // Three INDEPENDENT rank machines over ONE shared pin, joined
      // back on custkey (r18, VERDICT r17 item 5): the old fold
      // CHAINED the machines, so machine k's range shuffle sat on top
      // of machines 1..k−1's whole window pipeline — construction
      // serialized three eager checkpoint+collect barriers (measured:
      // 1.65 s solo vs 4.1 s under the conc-8 bench). Now each
      // machine's input is the cheap pinned base, the machines are
      // construction-lazy (PrefixSum's global path since r18), and
      // the three rank columns rejoin 1:1 on custkey — |customers| ×
      // 2-long tables, broadcast at bench scale, degrading to hash
      // joins at corpus scale (the 64m size-driven posture).
      val pinned = graft.Artifacts.pin(base, eager = false)
      def ranked(rn: String, n: Option[String],
          ord: org.apache.spark.sql.Column*) =
        PrefixSum.attach(pinned, Nil, ord, rank = Some(rn), countTotal = n)
          .select((col("o_custkey") +: (rn +: n.toSeq).map(col)): _*)
      pinned
        .join(ranked("__r", Some("__n"), col("recency_days"), col("o_custkey")),
          "o_custkey")
        .join(ranked("__f", None, col("frequency").desc, col("o_custkey")),
          "o_custkey")
        .join(ranked("__m", None, col("monetary").desc, col("o_custkey")),
          "o_custkey")
        .select(col("o_custkey"), col("recency_days"), col("frequency"), col("monetary"),
          PrefixSum.ntileFromRank(col("__r"), col("__n"), 5).as("r_score"),
          PrefixSum.ntileFromRank(col("__f"), col("__n"), 5).as("f_score"),
          PrefixSum.ntileFromRank(col("__m"), col("__n"), 5).as("m_score"))
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_customers"),
          centsSum(col("monetary")).as("segment_revenue"))
        .orderBy(col("r_score"), col("f_score"), col("m_score"))
    },
    Some(s"""
      WITH base AS (
        SELECT o_custkey,
               CAST(date_diff('day', last_order, corpus_max) AS BIGINT) AS recency_days,
               frequency, monetary
        FROM (
          SELECT o_custkey, max(o_orderdate) AS last_order,
                 count(*) AS frequency, round(sum(o_totalprice), 2) AS monetary
          FROM orders GROUP BY o_custkey)
        CROSS JOIN (SELECT max(o_orderdate) AS corpus_max FROM orders)),
      scored AS (
        SELECT o_custkey, recency_days, frequency, monetary,
               CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey) AS BIGINT) AS r_score,
               CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT) AS f_score,
               CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT) AS m_score
        FROM base)
      SELECT r_score, f_score, m_score,
             count(*) AS n_customers,
             ${centsSumSql("monetary")} AS segment_revenue
      FROM scored
      GROUP BY r_score, f_score, m_score
      ORDER BY r_score, f_score, m_score
    """))

  /** Market-basket co-purchase affinity: part pairs appearing in the
    * same order, counted across orders — the self-join is on
    * l_orderkey, so candidate work is Σ per-order items² (orders hold
    * a handful of lines), NEVER |lineitem|². The same bucket-local
    * contract as every dedup/similarity op; at 100 TB the join
    * shuffles both sides on orderkey once and the pair aggregate is
    * the only wide output. Top-20 rides TakeOrderedAndProject.
    *
    * The join carries a ROUTED SHUFFLE_HASH hint (r10 hint, r16
    * routing): both sides are the FACT table, and the bytes-based
    * auto-broadcast threshold (raised to 64m by the r9 hint audit so
    * the real dims stay broadcast at bench scale) mis-fires here —
    * the 2-column lineitem projection compresses under 64m at 26×
    * while holding 15.6M rows, and Spark built+shipped a 15.6M-entry
    * broadcast relation (measured: 28.8 s vs 11.5 s hinted,
    * sequential min-of-2). The r9 lesson was "broadcast hints only on
    * bounded enums"; this is its dual: a self-join of a
    * data-proportional table must never broadcast, because a size
    * ESTIMATE under any fixed byte threshold cannot distinguish a
    * narrow projection of the biggest table from a genuinely small
    * one. The r16 refinement (VERDICT r15 item 1): the hash hint
    * itself is data-proportional on the build side, so JoinRouter
    * applies it only while the per-task build fits the memory budget
    * — past that the join goes unhinted and AQE's spillable
    * sort-merge carries it (still never a broadcast: the row count
    * is real, not a byte estimate).
    */
  val basketAffinity = QueryDef(
    "q_basket_affinity",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      graft.functions.JoinRouter.hintIfSafe(li.as("a"), d, "lineitem")
        .join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("part1"), col("b.l_partkey").as("part2"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("part1"), col("part2"))
        .limit(20)
    },
    Some("""
      SELECT a.l_partkey AS part1, b.l_partkey AS part2,
             count(*) AS n_orders
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY part1, part2
      ORDER BY n_orders DESC, part1, part2
      LIMIT 20
    """))

  /** 2-D skyline (Pareto frontier): parts not dominated on
    * (retail price, size) — no other part is ≤ on both axes and
    * strictly < on one. The naive formulation is an O(n²) dominance
    * self-join; this one is linear: aggregate to the per-price min
    * size (hash agg), take running mins over the price-ordered
    * domain, and keep a row iff no strictly-cheaper price reaches its
    * size (`min_prev > s`) and no ≤-price row strictly undercuts it
    * (`min_incl == s`, i.e. NOT `< s`). The running mins go through
    * PrefixSum's distributed prefix scan — the distinct-price domain
    * is data-proportional (a growing catalog mints new price points),
    * so a single-partition Window over it would be the exact shape
    * the plan audit bans. Exact dominance: the comparisons only ever
    * see parquet-loaded values, no arithmetic, so Spark and the
    * oracle agree bit-for-bit.
    */
  val skyline = QueryDef(
    "q_skyline",
    (s, d) => {
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"), col("p_size"))
      val perPrice = p.groupBy(col("p_retailprice"))
        .agg(min(col("p_size")).as("m"))
      val mins = PrefixSum.attach(perPrice, Nil, Seq(col("p_retailprice")),
          mins = Seq("m" -> "min_incl"), minsExcl = Seq("m" -> "min_prev"))
        .select(col("p_retailprice").as("sk_price"),
          col("min_incl"), col("min_prev"))
      p.join(mins, col("p_retailprice") === col("sk_price"))
        .filter((col("min_prev").isNull || col("min_prev") > col("p_size")) &&
          !(col("min_incl") < col("p_size")))
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"), col("p_size"))
        .orderBy(col("p_retailprice"), col("p_partkey"))
    },
    Some("""
      WITH per AS (
        SELECT p_retailprice AS pr, min(p_size) AS m FROM part GROUP BY 1),
      mins AS (
        SELECT pr,
               min(m) OVER (ORDER BY pr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS min_incl,
               min(m) OVER (ORDER BY pr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_prev
        FROM per)
      SELECT p_partkey, p_brand, p_retailprice, p_size
      FROM part JOIN mins ON p_retailprice = mins.pr
      WHERE (min_prev IS NULL OR min_prev > p_size)
        AND NOT (min_incl < p_size)
      ORDER BY p_retailprice, p_partkey
    """))

  /** Grouped skyline: the (price, size) Pareto frontier WITHIN each
    * brand — q_skyline's dominance logic with the running mins
    * restarting per group, which drives PrefixSum's grouped prefix
    * path (per-(slice, brand) partials, per-brand offset window). At
    * 100 TB each brand's distinct-price domain is itself
    * data-proportional, so the per-brand scan must parallelize INSIDE
    * a group — exactly what the two-pass machinery does and a plain
    * `partitionBy(brand)` window does not.
    */
  val skylineBrand = QueryDef(
    "q_skyline_brand",
    (s, d) => {
      val p = Tables.part(s, d)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("p_size"))
      val perPrice = p.groupBy(col("p_brand"), col("p_retailprice"))
        .agg(min(col("p_size")).as("m"))
      val mins = PrefixSum.attach(perPrice, Seq("p_brand"),
          Seq(col("p_retailprice")),
          mins = Seq("m" -> "min_incl"), minsExcl = Seq("m" -> "min_prev"))
        .select(col("p_brand").as("sk_brand"),
          col("p_retailprice").as("sk_price"),
          col("min_incl"), col("min_prev"))
      p.join(mins, col("p_brand") === col("sk_brand") &&
          col("p_retailprice") === col("sk_price"))
        .filter((col("min_prev").isNull || col("min_prev") > col("p_size")) &&
          !(col("min_incl") < col("p_size")))
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("p_size"))
        .orderBy(col("p_brand"), col("p_retailprice"), col("p_partkey"))
    },
    Some("""
      WITH per AS (
        SELECT p_brand AS br, p_retailprice AS pr, min(p_size) AS m
        FROM part GROUP BY 1, 2),
      mins AS (
        SELECT br, pr,
               min(m) OVER (PARTITION BY br ORDER BY pr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS min_incl,
               min(m) OVER (PARTITION BY br ORDER BY pr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_prev
        FROM per)
      SELECT p_brand, p_partkey, p_retailprice, p_size
      FROM part JOIN mins ON p_brand = mins.br AND p_retailprice = mins.pr
      WHERE (min_prev IS NULL OR min_prev > p_size)
        AND NOT (min_incl < p_size)
      ORDER BY p_brand, p_retailprice, p_partkey
    """))

  def defs: Seq[QueryDef] = Seq(
    shippingPriority, forecastRevenue, promoRevenue, topSupplier, partsStats,
    emaOrders, largeOrders, marketShare, waitingOrders, globalCustomers,
    priorityCount, custDist, returnedRevenue, localSupplierRevenue,
    topkTies, momGrowth, drawdown, rfm, basketAffinity, skyline, skylineBrand)
}
