package graft.queries

import graft.{QueryDef, QueryModule, Tables}

/** Subquery forms via the SQL entry point: Catalyst decorrelates the
  * correlated scalar subquery (RewriteCorrelatedScalarSubquery → an
  * aggregate + join) and turns IN-subqueries into semi joins
  * (RewritePredicateSubquery) — so both run as ordinary shuffles at
  * scale, never per-row lookups. The oracle is near-identical ANSI
  * text.
  */
object Subqueries extends QueryModule {

  /** Correlated scalar subquery: customers above their nation's
    * average balance.
    */
  val scalarSubquery = QueryDef(
    "q_subquery_scalar",
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_sq_v")
      // round(avg, 6): the group averages differ between engines at
      // ~1 ulp (different partial-sum order); rounding both sides
      // keeps the comparison threshold identical (balances have 2
      // decimals, so a 6-decimal threshold can't create new ties)
      s.sql("""
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM customer_sq_v c
        WHERE c_acctbal > (SELECT round(avg(c2.c_acctbal), 6)
                           FROM customer_sq_v c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey
      """)
    },
    Some("""
      SELECT c_custkey, c_nationkey, c_acctbal
      FROM customer c
      WHERE c_acctbal > (SELECT round(avg(c2.c_acctbal), 6)
                         FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
      ORDER BY c_custkey
    """))

  /** IN-subquery (rewritten to a left-semi join by Catalyst). */
  val inSubquery = QueryDef(
    "q_subquery_in",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_sq_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_sq2_v")
      s.sql("""
        SELECT o_orderkey, o_orderdate
        FROM orders_sq_v
        WHERE o_custkey IN (SELECT c_custkey FROM customer_sq2_v
                            WHERE c_mktsegment = 'BUILDING')
          AND o_orderstatus = 'O'
        ORDER BY o_orderkey
      """)
    },
    Some("""
      SELECT o_orderkey, o_orderdate
      FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer
                          WHERE c_mktsegment = 'BUILDING')
        AND o_orderstatus = 'O'
      ORDER BY o_orderkey
    """))

  /** GROUP BY ALL — the SQL-surface convenience both engines grew
    * (group on every non-aggregate select item). Exercised through
    * spark.sql so the SQL TEXT path is what's graded, same as the
    * subquery entries.
    */
  val groupByAll = QueryDef(
    "q_group_by_all",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_gba_v")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS cnt, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total
        FROM orders_gba_v
        GROUP BY ALL
        ORDER BY o_orderstatus, o_orderpriority
      """)
    },
    Some("""
      SELECT o_orderstatus, o_orderpriority,
             count(*) AS cnt, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total
      FROM orders
      GROUP BY ALL
      ORDER BY o_orderstatus, o_orderpriority
    """))

  /** Recursive CTE (new SQL surface in Spark 4): generate the month
    * calendar recursively, left-join monthly order revenue onto it —
    * the recursion replaces q_gap_fill's sequence() calendar with the
    * standard SQL idiom. The recursive part is driver-cheap (24 rows);
    * the revenue aggregation is the usual distributed groupBy.
    * DuckDB date_trunc returns DATE, so the Spark side truncates via
    * to_date(date_trunc(...)) to align types (memory rule).
    */
  val recursiveCalendar = QueryDef(
    "q_recursive_calendar",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_rec_v")
      s.sql("""
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1996-01-01'
          UNION ALL
          SELECT m + INTERVAL '1' MONTH FROM months WHERE m < DATE '1997-12-01'
        ),
        rev AS (
          SELECT to_date(date_trunc('month', o_orderdate)) AS m,
                 count(*) AS order_count,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
          FROM orders_rec_v
          GROUP BY 1
        )
        SELECT months.m AS month_start,
               coalesce(order_count, 0) AS order_count,
               coalesce(revenue, 0.0) AS revenue
        FROM months LEFT JOIN rev ON months.m = rev.m
        ORDER BY month_start
      """)
    },
    Some("""
      WITH RECURSIVE months(m) AS (
        SELECT DATE '1996-01-01'
        UNION ALL
        SELECT m + INTERVAL 1 MONTH FROM months WHERE m < DATE '1997-12-01'
      ),
      rev AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               count(*) AS order_count,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        FROM orders
        GROUP BY 1
      )
      SELECT months.m AS month_start,
             coalesce(order_count, 0) AS order_count,
             coalesce(revenue, 0.0) AS revenue
      FROM months LEFT JOIN rev ON months.m = rev.m
      ORDER BY month_start
    """))

  /** LATERAL correlated derived table (SQL-text surface): each order
    * row fans out to a 2-row computed relation referencing the outer
    * columns — the standard lateral shape that predates generator
    * functions. Aggregated down so the graded artifact stays small.
    * The sum is float-cast AFTER round(2): at ≥sf1 the engines'
    * different summation orders drift by more than 0.01 at 4e11
    * magnitude, so 2dp rounding alone stops being deterministic
    * (found by the r8 10x scale validation).
    */
  val lateralJoin = QueryDef(
    "q_lateral",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_lat_v")
      s.sql("""
        SELECT l.kind, count(*) AS cnt, CAST(sum(CAST(round(l.v * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total
        FROM orders_lat_v o JOIN LATERAL (
          SELECT 'net' AS kind, o.o_totalprice * 0.9 AS v
          UNION ALL
          SELECT 'gross' AS kind, o.o_totalprice * 1.1 AS v
        ) l
        GROUP BY l.kind
        ORDER BY l.kind
      """)
    },
    Some("""
      SELECT l.kind, count(*) AS cnt, CAST(sum(CAST(round(l.v * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total
      FROM orders o, LATERAL (
        SELECT 'net' AS kind, o.o_totalprice * 0.9 AS v
        UNION ALL
        SELECT 'gross' AS kind, o.o_totalprice * 1.1 AS v
      ) l
      GROUP BY l.kind
      ORDER BY l.kind
    """))

  /** Correlated EXISTS + NOT EXISTS in one predicate: active customers
    * (have at least one order) who never placed a large one. Catalyst
    * decorrelates the pair into a left-semi join plus a left-anti join
    * (RewritePredicateSubquery), so at scale this is two ordinary
    * shuffle joins on o_custkey — never per-row probes. Complements
    * q_subquery_in (IN → semi) and q_join_anti (DataFrame-API anti)
    * with the SQL-text EXISTS surface.
    */
  val existsSubquery = QueryDef(
    "q_subquery_exists",
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_ex_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_ex_v")
      s.sql("""
        SELECT c_custkey, c_mktsegment, c_acctbal
        FROM customer_ex_v c
        WHERE EXISTS (SELECT 1 FROM orders_ex_v o
                      WHERE o.o_custkey = c.c_custkey)
          AND NOT EXISTS (SELECT 1 FROM orders_ex_v o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_totalprice > 300000)
        ORDER BY c_custkey
      """)
    },
    Some("""
      SELECT c_custkey, c_mktsegment, c_acctbal
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey)
        AND NOT EXISTS (SELECT 1 FROM orders o2
                        WHERE o2.o_custkey = c.c_custkey
                          AND o2.o_totalprice > 300000)
      ORDER BY c_custkey
    """))

  /** The SQL-text PIVOT clause through Spark's own parser (the
    * DataFrame .pivot() twins q_pivot/q_pivot_multi grade the API;
    * this grades the SQL surface): order revenue per priority ×
    * status, static value list with per-value aliases. The pivot
    * aggregate follows the integer-cents contract — DECIMAL(38,0)
    * sums inside the pivot, one exact-integer→DOUBLE cast outside —
    * and the oracle is the equivalent conditional aggregation
    * (DuckDB's own PIVOT syntax differs; the CASE form is the
    * engine-neutral semantics both must match). Plan shape is the
    * same partial+final hash aggregate as any groupBy — PIVOT is
    * parse-time sugar, no extra shuffle.
    */
  val sqlPivot = QueryDef(
    "q_sql_pivot",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_pv_v")
      s.sql("""
        SELECT o_orderpriority,
               CAST(o_total AS DOUBLE) / 100.0 AS o_total,
               CAST(f_total AS DOUBLE) / 100.0 AS f_total,
               CAST(p_total AS DOUBLE) / 100.0 AS p_total
        FROM (SELECT o_orderpriority, o_orderstatus,
                     CAST(round(o_totalprice * 100) AS DECIMAL(38,0)) AS cents
              FROM orders_pv_v)
        PIVOT (sum(cents) FOR o_orderstatus
               IN ('O' AS o_total, 'F' AS f_total, 'P' AS p_total))
        ORDER BY o_orderpriority
      """)
    },
    Some("""
      SELECT o_orderpriority,
             CAST(sum(CASE WHEN o_orderstatus = 'O'
               THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE)
               / 100.0 AS o_total,
             CAST(sum(CASE WHEN o_orderstatus = 'F'
               THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE)
               / 100.0 AS f_total,
             CAST(sum(CASE WHEN o_orderstatus = 'P'
               THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE)
               / 100.0 AS p_total
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """))

  /** The SQL-text UNPIVOT clause (melt): a per-priority metrics row
    * widened by aggregation, then unpivoted back to (metric, val)
    * pairs — the report-reshaping surface. All three metrics are
    * exact BIGINT counts so the unpivoted value column has one type.
    * Oracle: the engine-neutral UNION ALL form. UNPIVOT is parse-time
    * sugar over an Expand node — bounded input (|priorities| rows),
    * no shuffle beyond the aggregate's.
    */
  val sqlUnpivot = QueryDef(
    "q_sql_unpivot",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_upv_v")
      s.sql("""
        SELECT o_orderpriority, metric, val
        FROM (SELECT o_orderpriority,
                     count(*) AS n_orders,
                     count(DISTINCT o_custkey) AS n_custs,
                     count(DISTINCT o_orderdate) AS n_days
              FROM orders_upv_v GROUP BY o_orderpriority)
        UNPIVOT (val FOR metric IN (n_orders, n_custs, n_days))
        ORDER BY o_orderpriority, metric
      """)
    },
    Some("""
      WITH m AS (
        SELECT o_orderpriority,
               count(*) AS n_orders,
               count(DISTINCT o_custkey) AS n_custs,
               count(DISTINCT o_orderdate) AS n_days
        FROM orders GROUP BY o_orderpriority)
      SELECT o_orderpriority, metric, val FROM (
        SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS val FROM m
        UNION ALL SELECT o_orderpriority, 'n_custs', n_custs FROM m
        UNION ALL SELECT o_orderpriority, 'n_days', n_days FROM m)
      ORDER BY o_orderpriority, metric
    """))

  def defs: Seq[QueryDef] = Seq(scalarSubquery, inSubquery, groupByAll,
    recursiveCalendar, lateralJoin, existsSubquery, sqlPivot, sqlUnpivot)
}
