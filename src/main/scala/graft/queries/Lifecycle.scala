package graft.queries

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.PrefixSum
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Customer-lifecycle, experimentation, audit-statistics, and
  * training-data packing operators — the reporting layer a production
  * deployment runs on top of the §2 primitives. Determinism contract
  * (SURVEY §5) throughout: money sums round(,2), ratios float-cast
  * after IEEE-deterministic division of stabilized operands, exact
  * integer arithmetic wherever a threshold compare could sit on a
  * float boundary, total ORDER BY with unique tiebreaks.
  *
  * Scale notes: every query aggregates the fact table FIRST (one
  * shuffle on a natural key), then runs windows/joins on the tiny
  * aggregate — at 100 TB the windows see |customers| or |days| or
  * |digits| rows, never |orders|. 1-row corpus stats ride the lazy
  * broadcast cross-join (tf_idf pattern, PlanAuditSpec-allowlisted).
  */
object Lifecycle extends QueryModule {

  /** Survival curve over customer tenure: per customer, tenure in
    * whole month-index steps (year*12+month difference — engine-stable,
    * unlike fractional months_between); survivors(t) = customers with
    * tenure ≥ t via a descending running sum over the ≤~30-row tenure
    * histogram. The expensive part is the one per-customer aggregate.
    */
  val survivalCurve = QueryDef(
    "q_survival_curve",
    (s, d) => {
      val pc = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(((year(max(col("o_orderdate"))) * 12 + month(max(col("o_orderdate"))))
          - (year(min(col("o_orderdate"))) * 12 + month(min(col("o_orderdate")))))
          .cast("long").as("tenure_months"))
      val hist = pc.groupBy(col("tenure_months"))
        .agg(count(lit(1)).as("n_customers"))
      val w = Window.orderBy(col("tenure_months").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // total as a window-over-all on the ≤|tenures| histogram — a
      // second pc reference (crossJoin of a 1-row agg) would re-run
      // the per-customer aggregate and the orders scan
      hist
        .withColumn("survivors", sum(col("n_customers")).over(w))
        .withColumn("total", sum(col("n_customers")).over(Window.partitionBy()))
        .select(col("tenure_months"), col("n_customers"), col("survivors"),
          (col("survivors") / col("total")).cast("float").as("survival_rate"))
        .orderBy(col("tenure_months"))
    },
    Some("""
      WITH pc AS (
        SELECT o_custkey,
               CAST((year(max(o_orderdate))*12 + month(max(o_orderdate)))
                  - (year(min(o_orderdate))*12 + month(min(o_orderdate))) AS BIGINT)
                 AS tenure_months
        FROM orders GROUP BY o_custkey),
      hist AS (
        SELECT tenure_months, count(*) AS n_customers FROM pc GROUP BY 1)
      SELECT tenure_months, n_customers,
             CAST(sum(n_customers) OVER (ORDER BY tenure_months DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS survivors,
             CAST(CAST(sum(n_customers) OVER (ORDER BY tenure_months DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               / CAST(sum(n_customers) OVER () AS BIGINT) AS FLOAT) AS survival_rate
      FROM hist
      ORDER BY tenure_months
    """))

  /** Churn by market segment: a customer is churned when their last
    * order predates the corpus max date by more than 90 days (max
    * date from the corpus itself so the query is reproducible on any
    * snapshot). Day counts are exact integers — no float boundary.
    */
  val churnRate = QueryDef(
    "q_churn_rate",
    (s, d) => {
      val maxDate = Tables.orders(s, d)
        .agg(max(col("o_orderdate")).cast("date").as("corpus_max"))
      val last = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).cast("date").as("last_order"))
      last
        .crossJoin(maxDate)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(when(datediff(col("corpus_max"), col("last_order")) > 90, 1)
            .otherwise(0)).as("n_churned"))
        .select(col("c_mktsegment"), col("n_customers"), col("n_churned"),
          (col("n_churned") / col("n_customers")).cast("float").as("churn_rate"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""
      WITH last AS (
        SELECT o_custkey, CAST(max(o_orderdate) AS DATE) AS last_order
        FROM orders GROUP BY o_custkey),
      mx AS (SELECT CAST(max(o_orderdate) AS DATE) AS corpus_max FROM orders)
      SELECT c_mktsegment,
             count(*) AS n_customers,
             CAST(sum(CASE WHEN date_diff('day', last_order, corpus_max) > 90
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
             CAST(CAST(sum(CASE WHEN date_diff('day', last_order, corpus_max) > 90
                           THEN 1 ELSE 0 END) AS BIGINT)
                  / count(*) AS FLOAT) AS churn_rate
      FROM last CROSS JOIN mx
      JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment
    """))

  /** Day-of-week seasonality index: average daily revenue per weekday
    * over the overall average daily revenue. Weekday is computed as
    * days-since-a-known-Sunday mod 7 (0=Sunday) — Spark's dayofweek
    * (1=Sunday) and DuckDB's dayofweek (0=Sunday) disagree, the
    * datediff formulation is engine-stable. Daily sums round(,2)
    * before the second-level aggregate so summation order cannot
    * perturb the ratio.
    */
  val seasonalIndex = QueryDef(
    "q_seasonal_index",
    (s, d) => {
      // corpus totals as window-over-all on the 7-row dow aggregate —
      // a crossJoin of a 1-row daily-table agg would scan orders and
      // re-run the per-day aggregate a second time
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("day_rev"))
      val all = Window.partitionBy()
      daily
        .withColumn("dow",
          (datediff(col("day"), lit("1970-01-04").cast("date")) % 7).cast("long"))
        .groupBy(col("dow"))
        .agg(count(lit(1)).as("n_days"),
          round(sum(col("day_rev")), 2).as("dow_rev_d"))
        .select(col("dow"), col("n_days"),
          col("dow_rev_d").cast("float").as("dow_revenue"),
          ((col("dow_rev_d") / col("n_days"))
            / (sum(col("dow_rev_d")).over(all) / sum(col("n_days")).over(all)))
            .cast("float").as("seasonal_index"))
        .orderBy(col("dow"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               round(sum(o_totalprice), 2) AS day_rev
        FROM orders GROUP BY 1),
      dw AS (
        SELECT CAST(date_diff('day', DATE '1970-01-04', day) % 7 AS BIGINT) AS dow,
               count(*) AS n_days,
               round(sum(day_rev), 2) AS dow_rev_d
        FROM daily GROUP BY 1)
      SELECT dow, n_days, CAST(dow_rev_d AS FLOAT) AS dow_revenue,
             CAST((dow_rev_d / n_days)
                  / (sum(dow_rev_d) OVER ()
                     / CAST(sum(n_days) OVER () AS BIGINT)) AS FLOAT)
               AS seasonal_index
      FROM dw
      ORDER BY dow
    """))

  /** First-order Markov transition matrix over per-user event
    * sequences: lag within (user, ts, event_id-tiebreak) order, count
    * (from, to) pairs, probability against the from-state total via a
    * partition window on the tiny transition matrix. One shuffle on
    * user_id for the lag; the matrix is |event_types|² rows.
    */
  private val markovSql = """
      WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS from_event
        FROM events),
      m AS (
        SELECT from_event, event_type AS to_event, count(*) AS n_transitions
        FROM seq WHERE from_event IS NOT NULL
        GROUP BY 1, 2)
      SELECT from_event, to_event, n_transitions,
             CAST(n_transitions / CAST(sum(n_transitions)
               OVER (PARTITION BY from_event) AS BIGINT) AS FLOAT) AS p_transition
      FROM m
      ORDER BY from_event, to_event
    """

  /** The plain one-shuffle transition matrix over any events slice —
    * shared by q_markov_transitions and the router's uniform-key
    * route.
    */
  private[graft] def markovPlain(
      events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wFrom = Window.partitionBy(col("from_event"))
    events
      .withColumn("from_event", lag(col("event_type"), 1).over(w))
      .filter(col("from_event").isNotNull)
      .groupBy(col("from_event"), col("event_type").as("to_event"))
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("p_transition",
        (col("n_transitions") / sum(col("n_transitions")).over(wFrom))
          .cast("float"))
      .orderBy(col("from_event"), col("to_event"))
  }

  val markovTransitions = QueryDef(
    "q_markov_transitions",
    (s, d) => markovPlain(Tables.events(s, d)),
    Some(markovSql))


  /** TWO-LEVEL Markov transitions — q_markov_transitions' giant-key
    * twin (same lever as q_sessionize_2level): the per-user lag
    * serializes a mega-user through ONE task; here level 1 lags
    * within (user, day) buckets (partition count × |days|, no task
    * exceeds a user-day) and level 2 adds the bucket-BOUNDARY pairs —
    * last event of a user's bucket → first event of their next
    * bucket, computed on the buckets-sized aggregate. Within-bucket
    * pairs + boundary pairs = exactly every consecutive pair, so the
    * transition matrix is identical. GRADED AGAINST THE IDENTICAL
    * ORACLE as the plain form — the hash match is the equivalence
    * proof. Measured on the 9.5M-row hot key (BASELINE r11).
    */
  /** The two-level transition matrix over any events slice — shared
    * by q_markov_transitions_2level and the router's giant-key route.
    */
  private[graft] def markov2Level(
      events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val wB = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val pre = events.withColumn("day", to_date(col("ts")))
      val within = pre
        .withColumn("from_event", lag(col("event_type"), 1).over(wB))
        .filter(col("from_event").isNotNull)
        .groupBy(col("from_event"), col("event_type").as("to_event"))
        .agg(count(lit(1)).as("n"))
      val wU = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val boundary = pre
        .groupBy(col("user_id"), col("day"))
        .agg(
          min_by(col("event_type"), struct(col("ts"), col("event_id"))).as("first_ev"),
          max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("last_ev"))
        .withColumn("prev_last", lag(col("last_ev"), 1).over(wU))
        .filter(col("prev_last").isNotNull)
        .groupBy(col("prev_last").as("from_event"), col("first_ev").as("to_event"))
        .agg(count(lit(1)).as("n"))
      val wFrom = Window.partitionBy(col("from_event"))
      within.unionByName(boundary)
        .groupBy(col("from_event"), col("to_event"))
        .agg(sum(col("n")).as("n_transitions"))
        .withColumn("p_transition",
          (col("n_transitions") / sum(col("n_transitions")).over(wFrom))
            .cast("float"))
        .orderBy(col("from_event"), col("to_event"))
  }

  val markovTransitions2Level = QueryDef(
    "q_markov_transitions_2level",
    (s, d) => markov2Level(Tables.events(s, d)),
    Some(markovSql))

  /** ENGINE-CHOSEN transition matrix (r14, VERDICT r13 item 1):
    * routed plain-vs-2level by [[graft.functions.SkewRouter]] on the
    * shared memoized events hot-key statistic — same contract as
    * q_sessionize_auto, graded against the identical oracle.
    */
  val markovTransitionsAuto = QueryDef(
    "q_markov_transitions_auto",
    (s, d) => {
      val ev = Tables.events(s, d)
      if (graft.functions.SkewRouter.plainWindowSafeForSource(
          d, "events", ev, Seq("user_id"), tag = s"$d#events.user_id"))
        markovPlain(ev)
      else markov2Level(ev)
    },
    Some(markovSql))

  /** Two-proportion A/B test: deterministic arm assignment by
    * user_id parity (engine-stable, unlike hash-based bucketing),
    * conversion = user fired ≥10 purchase events (every user
    * purchases at least once in this corpus, so the ever-purchased
    * flag is degenerate — pooled p=1 zeroes the z denominator),
    * pooled z-statistic in one conditional aggregate. All inputs to
    * the float math are exact integer counts; the z expression is a
    * fixed dag of IEEE ops, identical in both engines.
    */
  val abTest = QueryDef(
    "q_abtest",
    (s, d) => {
      val users = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(when(sum(when(col("event_type") === "purchase", 1).otherwise(0)) >= 10, 1)
          .otherwise(0).as("converted"))
        .withColumn("arm", (col("user_id") % 2).cast("long"))
      users.agg(
        sum(when(col("arm") === 0, 1).otherwise(0)).as("n_a"),
        sum(when(col("arm") === 0, col("converted")).otherwise(0)).as("conv_a"),
        sum(when(col("arm") === 1, 1).otherwise(0)).as("n_b"),
        sum(when(col("arm") === 1, col("converted")).otherwise(0)).as("conv_b"))
        .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          // ANSI makes integral `/` an integer div — cast to double first
          // (same ulp dag as the DuckDB float division).
          (col("conv_a").cast("double") / col("n_a")).cast("float").as("rate_a"),
          (col("conv_b").cast("double") / col("n_b")).cast("float").as("rate_b"),
          ((col("conv_a").cast("double") / col("n_a")
            - col("conv_b").cast("double") / col("n_b"))
            / sqrt(((col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b")))
              * (lit(1.0) - (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b")))
              * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
            .cast("float").as("z_score"))
    },
    Some("""
      WITH users AS (
        SELECT user_id, user_id % 2 AS arm,
               CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 10
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id),
      agg AS (
        SELECT
          CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
          CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
          CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
        FROM users)
      SELECT n_a, conv_a, n_b, conv_b,
             CAST(conv_a / n_a AS FLOAT) AS rate_a,
             CAST(conv_b / n_b AS FLOAT) AS rate_b,
             CAST((conv_a / n_a - conv_b / n_b)
                  / sqrt(((conv_a + conv_b) / (n_a + n_b))
                         * (1 - (conv_a + conv_b) / (n_a + n_b))
                         * (1.0 / n_a + 1.0 / n_b)) AS FLOAT) AS z_score
      FROM agg
    """))

  /** Benford first-digit audit on order totals: leading digit taken
    * from the decimal string of floor(price) (log10-bucketing would
    * risk an ulp flip at power-of-ten boundaries; string-of-integer
    * is exact in both engines), observed share vs the Benford
    * expectation log10(1 + 1/d) rounded at 6 decimals.
    */
  val benford = QueryDef(
    "q_benford",
    (s, d) => {
      // corpus total as window-over-all on the 9-row digit histogram —
      // a second `digits` reference would scan orders twice
      Tables.orders(s, d)
        .select(floor(col("o_totalprice")).cast("long").as("v"))
        .filter(col("v") > 0)
        .select(substring(col("v").cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy(col("digit"))
        .agg(count(lit(1)).as("n_orders"))
        .select(col("digit"), col("n_orders"),
          (col("n_orders") / sum(col("n_orders")).over(Window.partitionBy()))
            .cast("float").as("observed"),
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("expected"))
        .orderBy(col("digit"))
    },
    Some("""
      WITH hist AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                    AS BIGINT) AS digit,
               count(*) AS n_orders
        FROM orders
        WHERE CAST(floor(o_totalprice) AS BIGINT) > 0
        GROUP BY 1)
      SELECT digit, n_orders,
             CAST(n_orders / CAST(sum(n_orders) OVER () AS BIGINT) AS FLOAT)
               AS observed,
             round(log10(1.0 + 1.0 / digit), 6) AS expected
      FROM hist
      ORDER BY digit
    """))

  /** Pareto concentration: how many top customers cover 80% of
    * revenue. Revenue is held as exact integer cents (round(,2)*100,
    * re-rounded before the cast because the *100 can land an ulp
    * under the integer) and the 80% line is the exact integer
    * comparison cum*5 < total*4 — no float boundary anywhere. The
    * running sum orders by (revenue desc, custkey) for a total order
    * and runs through functions/PrefixSum's two-pass distributed
    * cumsum — per-customer rows never collapse to one partition.
    */
  val paretoCutoff = QueryDef(
    "q_pareto_cutoff",
    (s, d) => {
      val rev = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(round(round(sum(col("o_totalprice")), 2) * 100, 0)
          .cast("long").as("rev_cents"))
      // distributed two-pass running sum (functions/PrefixSum): the
      // per-customer rows never collapse to one partition, and the
      // corpus total rides the same partials — no Window.partitionBy()
      // second pass over the data
      PrefixSum.attach(rev, Nil,
          Seq(col("rev_cents").desc, col("o_custkey")),
          sums = Seq("rev_cents" -> "cum_cents"),
          totals = Seq("rev_cents" -> "total_cents"))
        .agg(count(lit(1)).as("n_customers"),
          (sum(when(col("cum_cents") * 5 < col("total_cents") * 4, 1).otherwise(0))
            + 1).as("n_top80"))
        .select(col("n_customers"), col("n_top80"),
          (col("n_top80") / col("n_customers")).cast("float").as("top_share"))
    },
    Some("""
      WITH rev AS (
        SELECT o_custkey,
               CAST(round(round(sum(o_totalprice), 2) * 100, 0) AS BIGINT) AS rev_cents
        FROM orders GROUP BY o_custkey),
      cum AS (
        SELECT o_custkey, rev_cents,
               CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, o_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
               CAST(sum(rev_cents) OVER () AS BIGINT) AS total_cents
        FROM rev)
      SELECT count(*) AS n_customers,
             CAST(sum(CASE WHEN cum_cents * 5 < total_cents * 4 THEN 1 ELSE 0 END)
                  + 1 AS BIGINT) AS n_top80,
             CAST(CAST(sum(CASE WHEN cum_cents * 5 < total_cents * 4 THEN 1 ELSE 0 END)
                  + 1 AS BIGINT) / count(*) AS FLOAT) AS top_share
      FROM cum
    """))

  /** Training-sequence packing plan: concatenate each source's
    * documents in doc_id order and split the token stream into
    * 256-token context windows — a document belongs to the window
    * where it STARTS (the GPT-style concat-and-chunk packing
    * contract). The running token offset is a per-source window (the
    * packing unit at 100 TB is the shard, so the cumsum partitions by
    * the shard key and never globally serializes); bin index is exact
    * integer division of the start offset. Whitespace token counts
    * per the corpus tokenization contract (TextFunctions.tokens).
    */
  val packSequences = QueryDef(
    "q_pack_sequences",
    (s, d) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(TF.tokens(col("text"))).cast("long").as("tok"))
        .withColumn("cum", sum(col("tok")).over(w))
        .select(col("source"), col("doc_id"), col("tok"),
          ((col("cum") - col("tok")) / lit(256)).cast("long").as("bin"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).as("bin_tokens"),
          min(col("doc_id")).as("start_doc"))
        .orderBy(col("source"), col("bin"))
    },
    Some("""
      WITH toks AS (
        SELECT source, doc_id,
               CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
                 AS tok
        FROM documents),
      offs AS (
        SELECT source, doc_id, tok,
               CAST(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - tok
                 AS start_off
        FROM toks)
      SELECT source, start_off // 256 AS bin,
             count(*) AS n_docs,
             CAST(sum(tok) AS BIGINT) AS bin_tokens,
             min(doc_id) AS start_doc
      FROM offs
      GROUP BY source, bin
      ORDER BY source, bin
    """))

  /** Peak concurrency by sweep line: sessions (30-min-gap contract,
    * same lag rewrite as q_sessionize) become ±1 delta points at
    * their start/end microseconds; a running sum over the total
    * (time, delta, user, session) order is the live-session count,
    * one global max. Ends sort before starts at the same instant
    * (delta asc), so touching sessions never count as concurrent.
    * The sweep runs on 2·|sessions| rows through PrefixSum's
    * distributed cumsum (range-partitioned, never one partition) —
    * the per-event work is all in the partitioned sessionization
    * windows.
    */
  val concurrentSessions = QueryDef(
    "q_concurrent_sessions",
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("us") - col("prev_us") >= 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(running))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      // explode each session to its two delta points in ONE pass — a
      // self-union would re-run the sessionization window pipeline
      // (and the events scan) once per branch
      val points = sess.select(col("user_id"), col("session_id"),
          explode(array(
            struct(col("start_us").as("t"), lit(1L).as("delta")),
            struct(col("end_us").as("t"), lit(-1L).as("delta")))).as("p"))
        .select(col("user_id"), col("session_id"), col("p.t"), col("p.delta"))
      PrefixSum.attach(points, Nil,
          Seq(col("t"), col("delta"), col("user_id"), col("session_id")),
          sums = Seq("delta" -> "live"))
        .agg((count(lit(1)) / 2).cast("long").as("n_sessions"),
          max(col("live")).as("max_concurrent"))
    },
    Some("""
      WITH sess AS (
        SELECT user_id, session_id, min(us) AS start_us, max(us) AS end_us
        FROM (
          SELECT user_id, us,
                 CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_id
          FROM (
            SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   lag(epoch_us(CAST(ts AS TIMESTAMP)), 1)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
            FROM events))
        GROUP BY user_id, session_id),
      points AS (
        SELECT user_id, session_id, start_us AS t, CAST(1 AS BIGINT) AS delta FROM sess
        UNION ALL
        SELECT user_id, session_id, end_us AS t, CAST(-1 AS BIGINT) AS delta FROM sess)
      SELECT CAST(count(*) / 2 AS BIGINT) AS n_sessions,
             max(live) AS max_concurrent
      FROM (
        SELECT CAST(sum(delta) OVER (ORDER BY t, delta, user_id, session_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS live
        FROM points)
    """))

  /** Gini coefficient of customer revenue — the inequality twin of
    * q_pareto_cutoff. Rank-sum identity G = (2·Σi·xᵢ − (n+1)·Σx) /
    * (n·Σx) over exact integer cents with a total (revenue, custkey)
    * rank order (PrefixSum's distributed two-pass row number — the
    * rank is partitioning-independent): every operand stays exact
    * integer until the one final division. Σi·x fits a long through sf0.1 with ~10⁶×
    * headroom; a 100 TB deployment would widen that one product-sum
    * to decimal(38,0) (or double, losing exactness) — noted here
    * because it is the only overflow-bounded term.
    */
  val gini = QueryDef(
    "q_gini",
    (s, d) => {
      val rev = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(round(round(sum(col("o_totalprice")), 2) * 100, 0)
          .cast("long").as("rev_cents"))
      // Σ(rank·cents) must accumulate WIDE (ADVICE-r9 class, found
      // for real by the 26× oracle run: rank reaches 3.9M and
      // customer revenue ~1.5e8 cents, so the long sum passes 9.2e18
      // between sf1 and sf26 and ANSI throws). The product is cast
      // to DECIMAL(38,0) BEFORE multiplying (a long product itself
      // overflows at ~1e9 customers), matching the oracle's HUGEINT
      // arithmetic: both engines are exact integers into the final
      // nearest-double conversion.
      PrefixSum.attach(rev, Nil,
          Seq(col("rev_cents"), col("o_custkey")), rank = Some("i"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("i").cast("decimal(38,0)") * col("rev_cents")).as("weighted"),
          sum(col("rev_cents").cast("decimal(38,0)")).as("total"))
        .select(col("n_customers"),
          ((lit(2) * col("weighted") - (col("n_customers") + 1) * col("total"))
            .cast("double") / (col("n_customers") * col("total")).cast("double"))
            .cast("float").as("gini"))
    },
    Some("""
      WITH rev AS (
        SELECT o_custkey,
               CAST(round(round(sum(o_totalprice), 2) * 100, 0) AS BIGINT) AS rev_cents
        FROM orders GROUP BY o_custkey),
      ranked AS (
        SELECT rev_cents,
               CAST(row_number() OVER (ORDER BY rev_cents, o_custkey) AS BIGINT) AS i
        FROM rev)
      SELECT count(*) AS n_customers,
             CAST(CAST(2 * sum(CAST(i AS HUGEINT) * rev_cents)
                       - (count(*) + 1) * sum(CAST(rev_cents AS HUGEINT)) AS DOUBLE)
                  / CAST(count(*) * sum(CAST(rev_cents AS HUGEINT)) AS DOUBLE) AS FLOAT) AS gini
      FROM ranked
    """))

  /** Session-duration distribution: exact p50/p90/p99 of session
    * length (microseconds, 30-min-gap sessions) plus mean events per
    * session — the summary panel next to q_sessionize's per-session
    * dump. Percentile interpolation runs on exact integers, the
    * adjudicated q_percentile basis.
    */
  val sessionStats = QueryDef(
    "q_session_stats",
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // pinned lazily: the session table feeds both the count/mean
      // aggregate and the percentile pipeline below — the
      // window-heavy sessionize must not run twice
      val sess = graft.Artifacts.pin(Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("us") - col("prev_us") >= 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(running))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("us")) - min(col("us"))).as("duration_us")), eager = false)
      // global duration percentiles via ExactQuantiles (r11): exact
      // integer µs durations pre-aggregate to their distinct-value
      // domain; nothing buffers per task (was the value-buffering
      // percentile() over every session row)
      val pct = graft.functions.ExactQuantiles.cont(sess, Nil,
        "duration_us", Seq(0.5 -> "p50_raw", 0.9 -> "p90_raw", 0.99 -> "p99_raw"),
        tag = s"$d#session_stats.duration_us")
      sess
        .agg(count(lit(1)).as("n_sessions"),
          (sum(col("n_events")).cast("double") / count(lit(1)))
            .cast("float").as("avg_events_per_session"))
        .crossJoin(broadcast(pct)) // 1-row scalar-agg BNL (tf_idf pattern)
        .select(col("n_sessions"),
          round(col("p50_raw"), 4).as("p50_duration_us"),
          round(col("p90_raw"), 4).as("p90_duration_us"),
          round(col("p99_raw"), 4).as("p99_duration_us"),
          col("avg_events_per_session"))
    },
    Some("""
      WITH sess AS (
        SELECT user_id, session_id, count(*) AS n_events,
               max(us) - min(us) AS duration_us
        FROM (
          SELECT user_id, us,
                 CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_id
          FROM (
            SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   lag(epoch_us(CAST(ts AS TIMESTAMP)), 1)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
            FROM events))
        GROUP BY user_id, session_id)
      SELECT count(*) AS n_sessions,
             round(quantile_cont(duration_us, 0.5), 4) AS p50_duration_us,
             round(quantile_cont(duration_us, 0.9), 4) AS p90_duration_us,
             round(quantile_cont(duration_us, 0.99), 4) AS p99_duration_us,
             CAST(CAST(sum(n_events) AS BIGINT) / count(*) AS FLOAT)
               AS avg_events_per_session
      FROM sess
    """))

  /** Weighted PageRank (5 unrolled power iterations, d=0.85) over the
    * nation-level trade graph: edge weight = lineitems shipped from a
    * supplier nation to a customer nation, symmetrized — so every
    * node has out-edges and no dangling-mass redistribution is
    * needed. The one fact-sized job is the edge aggregation; the
    * iterations run on a ≤25-node graph (identical edge subtrees
    * dedupe via exchange reuse). Each iteration rounds at 12 decimals
    * so double summation order (the one engine-divergent ingredient)
    * is absorbed before it can compound; the CC fixpoint loop in
    * q_dedup_cluster is the data-sized iterative twin of this
    * driver-unrolled form.
    */
  val pagerank = QueryDef(
    "q_pagerank",
    (s, d) => {
      val e0 = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").cast("long").as("src"),
          col("s_nationkey").cast("long").as("dst"))
        .agg(count(lit(1)).as("w"))
      // materialize the ≤|nations|² edge table ONCE: every iteration,
      // outw, and the node set reference it, and without the cut the
      // unrolled plan re-derives the fact aggregation 34× (measured —
      // static exchange reuse does not dedupe across the union
      // branches). Same construction-pays-one-job contract as
      // Dedup.verifiedPairs / Tables.eventsByDate.
      val edges = graft.Artifacts.pin(e0.select(col("src"), col("dst"), col("w"))
        .unionAll(e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")), eager = true)
      val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      val ew = edges.join(outw, "src")
      val nodes = edges.select(col("src").as("v")).distinct()
      val nn = nodes.agg(count(lit(1)).as("n"))
      var r = nodes.crossJoin(nn).select(col("v"), (lit(1.0) / col("n")).as("r"))
      for (_ <- 1 to 5) {
        r = r.join(ew, col("v") === col("src"))
          .groupBy(col("dst"))
          .agg(sum(col("r") * col("w") / col("ow")).as("contrib"))
          .crossJoin(nn)
          .select(col("dst").as("v"),
            round(lit(0.15) / col("n") + lit(0.85) * col("contrib"), 12).as("r"))
      }
      r.join(Tables.nation(s, d), col("v") === col("n_nationkey"))
        .select(col("v").as("nationkey"), col("n_name").as("nation"),
          round(col("r"), 9).as("pagerank"))
        .orderBy(col("pagerank").desc, col("nationkey"))
    },
    Some("""
      WITH e0 AS (
        SELECT CAST(c_nationkey AS BIGINT) AS src,
               CAST(s_nationkey AS BIGINT) AS dst, count(*) AS w
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2),
      edges AS (
        SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
          SELECT src, dst, w FROM e0
          UNION ALL
          SELECT dst AS src, src AS dst, w FROM e0)
        GROUP BY 1, 2),
      outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
      ew AS (SELECT e.src, e.dst, e.w, o.ow FROM edges e JOIN outw o ON e.src = o.src),
      nodes AS (SELECT DISTINCT src AS v FROM edges),
      nn AS (SELECT count(*) AS n FROM nodes),
      r0 AS (SELECT v, 1.0 / n AS r FROM nodes CROSS JOIN nn),
      r1 AS (SELECT dst AS v, round(0.15 / n + 0.85 * sum(r * w / ow), 12) AS r
             FROM r0 JOIN ew ON v = src CROSS JOIN nn GROUP BY dst, n),
      r2 AS (SELECT dst AS v, round(0.15 / n + 0.85 * sum(r * w / ow), 12) AS r
             FROM r1 JOIN ew ON v = src CROSS JOIN nn GROUP BY dst, n),
      r3 AS (SELECT dst AS v, round(0.15 / n + 0.85 * sum(r * w / ow), 12) AS r
             FROM r2 JOIN ew ON v = src CROSS JOIN nn GROUP BY dst, n),
      r4 AS (SELECT dst AS v, round(0.15 / n + 0.85 * sum(r * w / ow), 12) AS r
             FROM r3 JOIN ew ON v = src CROSS JOIN nn GROUP BY dst, n),
      r5 AS (SELECT dst AS v, round(0.15 / n + 0.85 * sum(r * w / ow), 12) AS r
             FROM r4 JOIN ew ON v = src CROSS JOIN nn GROUP BY dst, n)
      SELECT v AS nationkey, n_name AS nation, round(r, 9) AS pagerank
      FROM r5 JOIN nation ON v = n_nationkey
      ORDER BY pagerank DESC, nationkey
    """))

  private val eventPathsSql =
    """
      WITH seq AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id, session_id
                 ORDER BY us, event_id) AS rn,
               session_id
        FROM (
          SELECT user_id, event_id, event_type, us,
                 CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_id
          FROM (
            SELECT user_id, event_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   lag(epoch_us(CAST(ts AS TIMESTAMP)), 1)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
            FROM events))),
      paths AS (
        SELECT concat_ws('>',
                 max(CASE WHEN rn = 1 THEN event_type END),
                 max(CASE WHEN rn = 2 THEN event_type END),
                 max(CASE WHEN rn = 3 THEN event_type END)) AS path
        FROM seq WHERE rn <= 3
        GROUP BY user_id, session_id),
      counted AS (
        SELECT path, count(*) AS n_sessions FROM paths GROUP BY path)
      SELECT path, n_sessions,
             CAST(n_sessions / CAST(sum(n_sessions) OVER () AS BIGINT) AS FLOAT)
               AS share
      FROM counted
      ORDER BY n_sessions DESC, path
      LIMIT 15
    """

  /** Top session-opening paths: the first three event types of each
    * 30-min-gap session, joined with '>', counted across sessions —
    * the "how do journeys start" panel next to q_markov_transitions'
    * one-step matrix. Position columns come from conditional
    * aggregates over a row_number (collect_list order is not
    * guaranteed under parallel aggregation; max-of-one-position is),
    * and concat_ws skips the nulls of short sessions identically in
    * both engines. Share rides a window-over-all on the tiny path
    * table; top-15 is TakeOrdered.
    */
  /** The plain one-shuffle opening-paths table over any events slice —
    * shared by q_event_paths and the router's uniform-key route.
    */
  private[graft] def eventPathsPlain(
      events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val inSess = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("ts"), col("event_id"))
      events
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("us") - col("prev_us") >= 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(running))
        .withColumn("rn", row_number().over(inSess))
        .filter(col("rn") <= 3)
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          max(when(col("rn") === 1, col("event_type"))).as("e1"),
          max(when(col("rn") === 2, col("event_type"))).as("e2"),
          max(when(col("rn") === 3, col("event_type"))).as("e3"))
        .groupBy(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .agg(count(lit(1)).as("n_sessions"))
        .withColumn("share",
          (col("n_sessions") / sum(col("n_sessions")).over(Window.partitionBy()))
            .cast("float"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(15)
  }

  val eventPaths = QueryDef(
    "q_event_paths",
    (s, d) => eventPathsPlain(Tables.events(s, d)),
    Some(eventPathsSql))

  /** TWO-LEVEL session-opening paths — q_event_paths' giant-key twin.
    * Level 1 sessionizes within (user, day) buckets and keeps each
    * PROVISIONAL session's first ≤3 events (a merged session's rows
    * are the time-ordered concatenation of its provisionals', so its
    * first 3 are always inside the union of each provisional's first
    * 3 — an exact candidate superset). Level 2 merges provisional
    * sessions on the buckets-sized span table (the q_sessionize_2level
    * gap-merge), then re-ranks ONLY the ≤3-per-provisional candidates
    * inside each merged session. No task ever sorts more than a
    * user-day; the re-rank window touches ≤3×|provisionals| rows.
    * GRADED AGAINST THE IDENTICAL ORACLE as q_event_paths — hash
    * match = equivalence. Measured on the 9.5M-row hot key
    * (BASELINE r11).
    */
  /** The two-level opening-paths table over any events slice — shared
    * by q_event_paths_2level and the router's giant-key route.
    */
  private[graft] def eventPaths2LevelOf(
      events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val wB = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val runB = wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the per-bucket (start, end) span rides the SAME ordered window
      // spec as rn_b (full frame → one WindowExec evaluates all three)
      // so the bucket-span table needs NO second pass over `pre` (r17):
      // the old shape consumed `pre` twice — once filtered to rn_b ≤ 3
      // and once re-aggregated for the spans — and the whole
      // scan + sessionize-window pipeline ran twice per invocation.
      // Now the ≤3-per-bucket candidate slice (bounded by buckets,
      // never events — skew-safe by construction) is checkpointed once
      // and the span table is its rn_b = 1 rows (min/max over the full
      // bucket frame are attached to every row, so the first row
      // carries the bucket's exact span — identical values to the old
      // groupBy).
      val wBkt = Window.partitionBy(col("user_id"), col("day"), col("bucket_sess"))
        .orderBy(col("ts"), col("event_id"))
      val wBktAll = wBkt.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val pre = events
        .withColumn("day", to_date(col("ts")))
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(wB))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("us") - col("prev_us") >= 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("bucket_sess", sum(col("new_sess")).over(runB))
        .withColumn("rn_b", row_number().over(wBkt))
        .withColumn("start_us", min(col("us")).over(wBktAll))
        .withColumn("end_us", max(col("us")).over(wBktAll))
      val candFull = graft.Artifacts.pin(pre.filter(col("rn_b") <= 3)
        .select(col("user_id"), col("day"), col("bucket_sess"),
          col("us"), col("event_id"), col("event_type"), col("rn_b"),
          col("start_us"), col("end_us")), eager = false)
      val cand = candFull
        .select(col("user_id"), col("day"), col("bucket_sess"),
          col("us"), col("event_id"), col("event_type"))
      val wU = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
      val runU = wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val merged = candFull.filter(col("rn_b") === 1)
        .select(col("user_id"), col("day"), col("bucket_sess"),
          col("start_us"), col("end_us"))
        .withColumn("prev_end", lag(col("end_us"), 1).over(wU))
        .withColumn("new_grp",
          when(col("prev_end").isNull
            || col("start_us") - col("prev_end") >= 1800000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_grp")).over(runU))
        .select(col("user_id").as("mu"), col("day").as("mday"),
          col("bucket_sess").as("mbs"), col("session_id"))
      val wS = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("us"), col("event_id"))
      cand
        .join(merged, col("user_id") === col("mu")
          && col("day") === col("mday") && col("bucket_sess") === col("mbs"))
        .withColumn("rn", row_number().over(wS))
        .filter(col("rn") <= 3)
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          max(when(col("rn") === 1, col("event_type"))).as("e1"),
          max(when(col("rn") === 2, col("event_type"))).as("e2"),
          max(when(col("rn") === 3, col("event_type"))).as("e3"))
        .groupBy(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .agg(count(lit(1)).as("n_sessions"))
        .withColumn("share",
          (col("n_sessions") / sum(col("n_sessions")).over(Window.partitionBy()))
            .cast("float"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(15)
  }

  val eventPaths2Level = QueryDef(
    "q_event_paths_2level",
    (s, d) => eventPaths2LevelOf(Tables.events(s, d)),
    Some(eventPathsSql))

  /** ENGINE-CHOSEN opening paths (r14, VERDICT r13 item 1): routed
    * plain-vs-2level by [[graft.functions.SkewRouter]] on the shared
    * memoized events hot-key statistic — same contract as
    * q_sessionize_auto, graded against the identical oracle.
    */
  val eventPathsAuto = QueryDef(
    "q_event_paths_auto",
    (s, d) => {
      val ev = Tables.events(s, d)
      if (graft.functions.SkewRouter.plainWindowSafeForSource(
          d, "events", ev, Seq("user_id"), tag = s"$d#events.user_id"))
        eventPathsPlain(ev)
      else eventPaths2LevelOf(ev)
    },
    Some(eventPathsSql))

  /** Signup→purchase conversion latency: per user the first signup
    * and the first purchase at-or-after it (exact microseconds),
    * conversion share and lag percentiles over the converted cohort.
    * One per-user aggregate; percentile interpolation over exact
    * integer lags (the q_percentile basis). The funnel-latency twin
    * of q_funnel's stage-count view.
    */
  val conversionLag = QueryDef(
    "q_conversion_lag",
    (s, d) => {
      val perUser = Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "signup", col("us"))).as("s_us"),
          min(when(col("event_type") === "purchase", col("us"))).as("p_any_us"))
        .filter(col("s_us").isNotNull)
      // first purchase at-or-after signup needs the signup time first:
      // second conditional pass joins back on the per-user aggregate
      val lagged = Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .filter(col("event_type") === "purchase")
        .join(perUser.select(col("user_id").as("u"), col("s_us")),
          col("user_id") === col("u"))
        .filter(col("us") >= col("s_us"))
        .groupBy(col("user_id"))
        .agg((min(col("us")) - min(col("s_us"))).as("lag_us"))
      // lazy checkpoint: the joined cohort feeds both the rate
      // aggregate and the percentile pipeline (built once, not twice)
      val cohort = graft.Artifacts.pin(perUser.join(
          lagged.select(col("user_id").as("u2"), col("lag_us")),
          col("user_id") === col("u2"), "left"), eager = false)
      // lag percentiles via ExactQuantiles (r11): exact integer µs
      // lags over the CONVERTED cohort (percentile() ignored nulls;
      // the explicit filter is the same population), pre-aggregated
      // to the distinct-lag domain — no per-task value buffering
      val pct = graft.functions.ExactQuantiles.cont(
        cohort.filter(col("lag_us").isNotNull), Nil, "lag_us",
        Seq(0.5 -> "p50_raw", 0.9 -> "p90_raw"),
        tag = s"$d#conversion_lag.lag_us")
      cohort
        .agg(count(lit(1)).as("n_signup_users"),
          sum(when(col("lag_us").isNotNull, 1).otherwise(0)).as("n_converted"),
          (sum(when(col("lag_us").isNotNull, 1).otherwise(0)).cast("double")
            / count(lit(1))).cast("float").as("conversion_rate"))
        .crossJoin(broadcast(pct)) // 1-row scalar-agg BNL (tf_idf pattern)
        .select(col("n_signup_users"), col("n_converted"),
          col("conversion_rate"),
          round(col("p50_raw"), 4).as("p50_lag_us"),
          round(col("p90_raw"), 4).as("p90_lag_us"))
    },
    Some("""
      WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup'
                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS s_us
        FROM events GROUP BY user_id
        HAVING s_us IS NOT NULL),
      lagged AS (
        SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) - min(p.s_us) AS lag_us
        FROM events e JOIN per_user p ON e.user_id = p.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= p.s_us
        GROUP BY e.user_id)
      SELECT count(*) AS n_signup_users,
             CAST(sum(CASE WHEN lag_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converted,
             CAST(CAST(sum(CASE WHEN lag_us IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*) AS FLOAT) AS conversion_rate,
             round(quantile_cont(lag_us, 0.5), 4) AS p50_lag_us,
             round(quantile_cont(lag_us, 0.9), 4) AS p90_lag_us
      FROM per_user LEFT JOIN lagged USING (user_id)
    """))

  /** Shipping-lag percentiles by order priority: exact integer
    * order-date→ship-date day counts, p50/p90/max per priority class
    * — the operational-latency SLO panel. One fact join, one grouped
    * aggregate.
    */
  val shipLag = QueryDef(
    "q_ship_lag",
    (s, d) => {
      // lag percentiles via ExactQuantiles (r11): the lag_days value
      // domain is tiny integers (0..~120 days) — the
      // (group, value, count) pre-aggregation reduces the percentile
      // input to |priorities|×|days| rows no matter the fact size
      val src = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lag_days"))
      val pct = graft.functions.ExactQuantiles.cont(src,
        Seq("o_orderpriority"), "lag_days",
        Seq(0.5 -> "p50_raw", 0.9 -> "p90_raw"),
        tag = s"$d#ship_lag.o_orderpriority.lag_days")
      src.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lineitems"),
          max(col("lag_days")).as("max_lag_days"))
        .join(pct, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n_lineitems"),
          round(col("p50_raw"), 4).as("p50_lag_days"),
          round(col("p90_raw"), 4).as("p90_lag_days"),
          col("max_lag_days"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n_lineitems,
             round(quantile_cont(lag_days, 0.5), 4) AS p50_lag_days,
             round(quantile_cont(lag_days, 0.9), 4) AS p90_lag_days,
             max(lag_days) AS max_lag_days
      FROM (
        SELECT o_orderpriority,
               CAST(date_diff('day', CAST(o_orderdate AS DATE),
                              CAST(l_shipdate AS DATE)) AS BIGINT) AS lag_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """))

  /** Monthly growth accounting — the new/retained/resurrected/
    * churned ledger every product review opens with, over customer
    * order activity (the events corpus spans a single month, so the
    * customer/order panel is the one with real retention dynamics).
    * Per-customer active months (engine-stable month index), lag
    * classifies each active month; churned(m) = active(m-1) −
    * retained(m) computed arithmetically on the tiny monthly
    * aggregate (no user-level churn rows). One shuffle on custkey;
    * everything after runs on |months| rows.
    */
  val growthAccounting = QueryDef(
    "q_growth_accounting",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("m"))
      val byMonth = Window.orderBy(col("m"))
      val um = Tables.orders(s, d)
        .select(col("o_custkey").as("user_id"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("m"))
        .distinct()
        .withColumn("prev_m", lag(col("m"), 1).over(w))
      um.groupBy(col("m"))
        .agg(
          sum(when(col("prev_m").isNull, 1).otherwise(0)).as("n_new"),
          sum(when(col("m") - col("prev_m") === 1, 1).otherwise(0)).as("n_retained"),
          sum(when(col("m") - col("prev_m") > 1, 1).otherwise(0)).as("n_resurrected"),
          count(lit(1)).as("n_active"))
        .withColumn("n_churned",
          coalesce(lag(col("n_active"), 1).over(byMonth), lit(0L))
            - col("n_retained"))
        .select(col("m").as("month_idx"),
          (((col("m") - 1) / 12).cast("long")).as("y"),
          (((col("m") - 1) % 12) + 1).as("mo"),
          col("n_new"), col("n_retained"), col("n_resurrected"),
          col("n_active"), col("n_churned"))
        .orderBy(col("month_idx"))
    },
    Some("""
      WITH um AS (
        SELECT user_id, m, lag(m, 1) OVER (PARTITION BY user_id ORDER BY m) AS prev_m
        FROM (
          SELECT DISTINCT o_custkey AS user_id,
                 CAST(year(o_orderdate) * 12
                      + month(o_orderdate) AS BIGINT) AS m
          FROM orders)),
      monthly AS (
        SELECT m,
               CAST(sum(CASE WHEN prev_m IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN m - prev_m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
               CAST(sum(CASE WHEN m - prev_m > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
               count(*) AS n_active
        FROM um GROUP BY m)
      SELECT m AS month_idx,
             (m - 1) // 12 AS y,
             (m - 1) % 12 + 1 AS mo,
             n_new, n_retained, n_resurrected, n_active,
             coalesce(lag(n_active, 1) OVER (ORDER BY m), 0) - n_retained
               AS n_churned
      FROM monthly
      ORDER BY month_idx
    """))

  /** Robust outlier days by Tukey fences: daily revenue against
    * [q1 − 1.5·IQR, q3 + 1.5·IQR], quartiles as window-over-all
    * percentiles on the tiny daily aggregate — the IQR twin of
    * q_anomaly's stddev z-score. Fence arithmetic is one IEEE dag on
    * exact-percentile outputs, identical in both engines.
    */
  val anomalyIqr = QueryDef(
    "q_anomaly_iqr",
    (s, d) => {
      val all = Window.partitionBy()
      Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
        .withColumn("q1", expr("percentile(rev, 0.25)").over(all))
        .withColumn("q3", expr("percentile(rev, 0.75)").over(all))
        .filter(col("rev") < col("q1") - lit(1.5) * (col("q3") - col("q1"))
          || col("rev") > col("q3") + lit(1.5) * (col("q3") - col("q1")))
        .select(col("day"), col("rev"),
          when(col("rev") < col("q1") - lit(1.5) * (col("q3") - col("q1")), "low")
            .otherwise("high").as("side"),
          round(col("q1") - lit(1.5) * (col("q3") - col("q1")), 4).as("lo_fence"),
          round(col("q3") + lit(1.5) * (col("q3") - col("q1")), 4).as("hi_fence"))
        .orderBy(col("day"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               round(sum(o_totalprice), 2) AS rev
        FROM orders GROUP BY 1),
      fenced AS (
        SELECT day, rev,
               quantile_cont(rev, 0.25) OVER () AS q1,
               quantile_cont(rev, 0.75) OVER () AS q3
        FROM daily)
      SELECT day, rev,
             CASE WHEN rev < q1 - 1.5 * (q3 - q1) THEN 'low'
                  ELSE 'high' END AS side,
             round(q1 - 1.5 * (q3 - q1), 4) AS lo_fence,
             round(q3 + 1.5 * (q3 - q1), 4) AS hi_fence
      FROM fenced
      WHERE rev < q1 - 1.5 * (q3 - q1) OR rev > q3 + 1.5 * (q3 - q1)
      ORDER BY day
    """))

  /** Weekday × hour activity heatmap: event counts and corpus share
    * per cell — 168 rows out of any corpus size. Weekday is the
    * engine-stable days-since-Sunday mod 7; hour is UTC in both
    * engines (session timezone pinned).
    */
  val activityHeatmap = QueryDef(
    "q_activity_heatmap",
    (s, d) =>
      Tables.events(s, d)
        .select(
          (datediff(col("ts").cast("date"), lit("1970-01-04").cast("date")) % 7)
            .cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"))
        .groupBy(col("dow"), col("hr"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("share",
          (col("n_events") / sum(col("n_events")).over(Window.partitionBy()))
            .cast("float"))
        .orderBy(col("dow"), col("hr")),
    Some("""
      WITH cells AS (
        SELECT CAST(date_diff('day', DATE '1970-01-04',
                              CAST(ts AS DATE)) % 7 AS BIGINT) AS dow,
               CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
               count(*) AS n_events
        FROM events GROUP BY 1, 2)
      SELECT dow, hr, n_events,
             CAST(n_events / CAST(sum(n_events) OVER () AS BIGINT) AS FLOAT)
               AS share
      FROM cells
      ORDER BY dow, hr
    """))

  /** Association rules over order baskets: for each directed part
    * pair a→b with ≥3 co-occurrences, support count, confidence
    * n(a,b)/n(a) and lift n(a,b)·N / (n(a)·n(b)) — the
    * support/confidence/lift triple of classic market-basket mining,
    * extending q_basket_affinity's raw counts. One shuffle builds the
    * per-order part sets (bounded: an order has a handful of lines at
    * any corpus size, so `collect_set` is metadata-sized per group),
    * localCheckpointed so the three derivations (pair explosion, part
    * totals, order count) read the materialized baskets instead of
    * re-shuffling lineitem — this replaces the old plan's
    * distinct+self-join, which paid the same (orderkey, partkey)
    * exchange twice. Pairs are generated MAP-SIDE by set×set
    * explosion (Σ per-order parts², never |lineitem|²); part totals
    * join back broadcast-small; every ratio divides exact integers
    * once. Top-20 by lift with a (part1, part2) tiebreak.
    */
  val crossSell = QueryDef(
    "q_cross_sell",
    (s, d) => {
      val sets = graft.Artifacts.pin(Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("parts")), eager = true)
      val nOrders = sets.agg(count(lit(1)).cast("long").as("n_total"))
      val pc = sets.select(explode(col("parts")).as("l_partkey"))
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_part"))
      // co-occurrence is symmetric: count UNDIRECTED pairs (part1 <
      // part2 — half the exploded rows reach the shuffle) and mirror
      // the surviving (tiny, n_both>=3-filtered) pair table into both
      // orientations afterwards; the directed result is identical
      val und = sets
        .select(explode(col("parts")).as("part1"), col("parts"))
        .select(col("part1"), explode(col("parts")).as("part2"))
        .filter(col("part1") < col("part2"))
        .groupBy(col("part1"), col("part2"))
        .agg(count(lit(1)).as("n_both"))
        .filter(col("n_both") >= 3)
      und
        .unionByName(und.select(col("part2").as("part1"),
          col("part1").as("part2"), col("n_both")))
        .join(pc.select(col("l_partkey").as("part1"), col("n_part").as("n1")), "part1")
        .join(pc.select(col("l_partkey").as("part2"), col("n_part").as("n2")), "part2")
        .crossJoin(nOrders)
        .select(col("part1"), col("part2"), col("n_both"), col("n1"), col("n2"),
          (col("n_both").cast("double") / col("n1")).cast("float").as("confidence"),
          ((col("n_both") * col("n_total")).cast("double") / (col("n1") * col("n2")))
            .cast("float").as("lift"))
        .orderBy(col("lift").desc, col("part1"), col("part2"))
        .limit(20)
    },
    Some("""
      WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pc AS (
        SELECT l_partkey, count(*) AS n_part FROM op GROUP BY l_partkey),
      nt AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_total FROM op),
      und AS (
        SELECT a.l_partkey AS part1, b.l_partkey AS part2,
               count(*) AS n_both
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 3),
      pairs AS (
        SELECT part1, part2, n_both FROM und
        UNION ALL
        SELECT part2 AS part1, part1 AS part2, n_both FROM und)
      SELECT part1, part2, n_both,
             p1.n_part AS n1, p2.n_part AS n2,
             CAST(CAST(n_both AS DOUBLE) / p1.n_part AS FLOAT) AS confidence,
             CAST(CAST(n_both * n_total AS DOUBLE)
                  / (p1.n_part * p2.n_part) AS FLOAT) AS lift
      FROM pairs
      JOIN pc p1 ON part1 = p1.l_partkey
      JOIN pc p2 ON part2 = p2.l_partkey
      CROSS JOIN nt
      ORDER BY lift DESC, part1, part2
      LIMIT 20
    """))

  /** Flesch-style readability per document: whitespace words,
    * sentence count from terminal-punctuation runs (floor 1), a
    * vowel-group syllable proxy — identical regex semantics in both
    * engines ('[.!?]+' and '[aeiouy]+' have no engine-divergent
    * constructs). The score is one IEEE dag per row, map-side, no
    * shuffle.
    */
  val readability = QueryDef(
    "q_readability",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(TF.tokens(col("text"))).cast("long").as("words"),
          greatest(lit(1L),
            expr("cast(size(regexp_extract_all(text, '[.!?]+', 0)) AS bigint)"))
            .as("sentences"),
          expr("cast(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS bigint)")
            .as("syllables"))
        .select(col("doc_id"), col("words"), col("sentences"), col("syllables"),
          round(lit(206.835)
            - lit(1.015) * (col("words").cast("double") / col("sentences"))
            - lit(84.6) * (col("syllables").cast("double") / col("words")), 4)
            .as("flesch"))
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id, words, sentences, syllables,
             round(206.835
                   - 1.015 * (CAST(words AS DOUBLE) / sentences)
                   - 84.6 * (CAST(syllables AS DOUBLE) / words), 4) AS flesch
      FROM (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
                 AS words,
               greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
                 AS sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
                 AS syllables
        FROM documents)
      ORDER BY doc_id
    """))

  /** CUSUM changepoint detection over daily order revenue — the
    * standard "did the level shift, and when" audit statistic. The
    * classic statistic S_k = prefix_k − k·mean is a float; this form
    * cross-multiplies by n (S_k·n = n·prefix_k − k·total, in cents)
    * so the whole curve AND the argmax compare are exact bigint
    * arithmetic — no float boundary anywhere. The changepoint is the
    * row maximizing |S| (earliest day on ties), flagged via a
    * row_number over (|S| desc, day). Scale: the one fact-sized job
    * is the daily aggregate; the window runs over |days| rows.
    */
  val cusum = QueryDef(
    "q_cusum",
    (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        // re-round after round(,2)*100 before the bigint cast: the
        // *100 can land an ulp under the integer (SURVEY §5)
        .agg(round(round(sum(col("o_totalprice")), 2) * 100, 0)
          .cast("long").as("daily_cents"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy()
      val cur = daily
        .withColumn("prefix", sum(col("daily_cents")).over(w))
        .withColumn("k", row_number().over(Window.orderBy(col("day"))).cast("long"))
        .withColumn("n", count(lit(1)).over(all))
        .withColumn("total", sum(col("daily_cents")).over(all))
        .select(col("day"), col("daily_cents"),
          (col("n") * col("prefix") - col("k") * col("total")).as("cusum_scaled"))
      cur
        .withColumn("is_changepoint",
          when(row_number().over(
            Window.orderBy(abs(col("cusum_scaled")).desc, col("day"))) === 1, 1L)
            .otherwise(0L))
        .orderBy(col("day"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(round(round(sum(o_totalprice), 2) * 100, 0) AS BIGINT)
                 AS daily_cents
        FROM orders GROUP BY 1),
      cur AS (
        SELECT day, daily_cents,
               count(*) OVER ()
                 * CAST(sum(daily_cents) OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               - CAST(row_number() OVER (ORDER BY day) AS BIGINT)
                 * CAST(sum(daily_cents) OVER () AS BIGINT) AS cusum_scaled
        FROM daily)
      SELECT day, daily_cents, cusum_scaled,
             CASE WHEN row_number() OVER (ORDER BY abs(cusum_scaled) DESC, day) = 1
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_changepoint
      FROM cur
      ORDER BY day
    """))

  /** Pythagorean-means panel per brand: arithmetic ≥ geometric ≥
    * harmonic over retail price. geo = exp(avg(ln x)), harmonic =
    * n / Σ(1/x) — both double sums whose summation order differs
    * between engines; round(,6) then float-cast absorbs the ulp band
    * (the q_stats convention), validated at 3 SFs and 6 identical
    * repeated runs (NOTES.md, "What rounds 6–7 did", item 8).
    * One shuffle on the ~25-brand key; windows nowhere.
    */
  val harmonicGeo = QueryDef(
    "q_harmonic_geo",
    (s, d) =>
      Tables.part(s, d)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          round(exp(avg(log(col("p_retailprice")))), 6).cast("float").as("geo_mean"),
          round(count(lit(1)) / sum(lit(1.0) / col("p_retailprice")), 6)
            .cast("float").as("harmonic_mean"),
          round(avg(col("p_retailprice")), 6).cast("float").as("arith_mean"))
        .orderBy(col("p_brand")),
    Some("""
      SELECT p_brand, count(*) AS n,
             CAST(round(exp(avg(ln(p_retailprice))), 6) AS FLOAT) AS geo_mean,
             CAST(round(count(*) / sum(1.0 / p_retailprice), 6) AS FLOAT)
               AS harmonic_mean,
             CAST(round(avg(p_retailprice), 6) AS FLOAT) AS arith_mean
      FROM part GROUP BY p_brand
      ORDER BY p_brand
    """))

  /** Herfindahl-Hirschman concentration index of supplier revenue per
    * nation — the antitrust-style "how concentrated is this market"
    * companion to q_gini. Revenue lands as exact cents (round-twice
    * rule); shares are doubles of two bigints, so every term is
    * engine-deterministic, and the ≤|suppliers-per-nation| summation
    * is absorbed by round(,6)+float. One fact shuffle on the
    * (nation, supplier) key; windows over supplier-count rows.
    */
  val hhi = QueryDef(
    "q_hhi",
    (s, d) => {
      val rev = Tables.lineitem(s, d)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("nationkey"), col("l_suppkey"))
        .agg(round(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2) * 100, 0)
          .cast("long").as("cents"))
      val w = Window.partitionBy(col("nationkey"))
      rev
        .withColumn("total", sum(col("cents")).over(w))
        .withColumn("n_suppliers", count(lit(1)).over(w))
        .groupBy(col("nationkey"), col("n_suppliers"))
        .agg(round(sum((col("cents").cast("double") / col("total"))
          * (col("cents").cast("double") / col("total"))), 6)
          .cast("float").as("hhi"))
        .join(Tables.nation(s, d), col("nationkey") === col("n_nationkey"))
        .select(col("nationkey"), col("n_name").as("nation"),
          col("n_suppliers"), col("hhi"))
        .orderBy(col("nationkey"))
    },
    Some("""
      WITH rev AS (
        SELECT s_nationkey AS nationkey, l_suppkey,
               CAST(round(round(sum(l_extendedprice*(1-l_discount)),2)*100,0) AS BIGINT)
                 AS cents
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2),
      marg AS (
        SELECT nationkey, cents,
               CAST(sum(cents) OVER (PARTITION BY nationkey) AS BIGINT) AS total,
               CAST(count(*) OVER (PARTITION BY nationkey) AS BIGINT) AS n_suppliers
        FROM rev)
      SELECT nationkey, n_name AS nation, n_suppliers,
             CAST(round(sum((CAST(cents AS DOUBLE)/total)*(CAST(cents AS DOUBLE)/total)), 6) AS FLOAT)
               AS hhi
      FROM marg JOIN nation ON nationkey = n_nationkey
      GROUP BY nationkey, n_name, n_suppliers
      ORDER BY nationkey
    """))

  /** Mutual information and chi-square over the (order priority ×
    * order status) contingency table — the "are these columns
    * dependent" audit panel a feature-selection pass runs per column
    * pair. Cell and margin counts are exact bigints (one fact
    * aggregate, then windows over the ≤15-cell table); every double
    * term is a function of bigints only, so the cross-engine
    * difference is the ≤15-term summation order — absorbed by
    * round(,6)/round(,4).
    */
  val mutualInfo = QueryDef(
    "q_mutual_info",
    (s, d) => {
      val cell = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("x"), col("o_orderstatus").as("y"))
        .agg(count(lit(1)).as("c"))
      val marg = cell
        .withColumn("rx", sum(col("c")).over(Window.partitionBy(col("x"))))
        .withColumn("ry", sum(col("c")).over(Window.partitionBy(col("y"))))
        .withColumn("n", sum(col("c")).over(Window.partitionBy()))
      val cD = col("c").cast("double")
      val exp = col("rx").cast("double") * col("ry") / col("n")
      marg.agg(
        round(sum((cD / col("n"))
          * log(cD * col("n") / (col("rx").cast("double") * col("ry")))), 6)
          .cast("float").as("mutual_info"),
        round(sum((cD - exp) * (cD - exp) / exp), 4)
          .cast("float").as("chi_square"),
        count(lit(1)).as("n_cells"))
    },
    Some("""
      WITH cell AS (
        SELECT o_orderpriority AS x, o_orderstatus AS y, count(*) AS c
        FROM orders GROUP BY 1, 2),
      marg AS (
        SELECT x, y, c,
               CAST(sum(c) OVER (PARTITION BY x) AS BIGINT) AS rx,
               CAST(sum(c) OVER (PARTITION BY y) AS BIGINT) AS ry,
               CAST(sum(c) OVER () AS BIGINT) AS n
        FROM cell)
      SELECT CAST(round(sum((CAST(c AS DOUBLE)/n)
                   * ln(CAST(c AS DOUBLE)*n / (CAST(rx AS DOUBLE)*ry))), 6) AS FLOAT)
               AS mutual_info,
             CAST(round(sum((CAST(c AS DOUBLE) - CAST(rx AS DOUBLE)*ry/n)
                   * (CAST(c AS DOUBLE) - CAST(rx AS DOUBLE)*ry/n)
                   / (CAST(rx AS DOUBLE)*ry/n)), 4) AS FLOAT)
               AS chi_square,
             count(*) AS n_cells
      FROM marg
    """))

  /** Exact weighted median (lower convention): first price whose
    * cumulative quantity-weight reaches half the total — the
    * quantity-weighted robust center next to q_mad's unweighted one.
    * Prices as exact cents, weights as exact integer quantities, and
    * the half-total compare cross-multiplied (2·cw ≥ tw) so nothing
    * ever divides. One fact shuffle onto (flag, price); the per-flag
    * running weight routes through [[PrefixSum.attachAuto]] (r13):
    * while the largest flag's distinct-price set fits the saturation
    * guard the bounded partitioned window wins (measured 1.7× at this
    * shape), and past it the distributed cumsum takes over so the 3
    * constant flags never serialize a grown corpus onto 3 tasks.
    */
  val weightedMedian = QueryDef(
    "q_weighted_median",
    (s, d) => {
      val w = Tables.lineitem(s, d).select(col("l_returnflag").as("flag"),
        round(round(col("l_extendedprice"), 2) * 100, 0).cast("long").as("price_cents"),
        col("l_quantity").cast("long").as("qty"))
      val agg = w.groupBy(col("flag"), col("price_cents"))
        .agg(sum(col("qty")).as("wsum"))
      PrefixSum.attachAuto(agg, Seq("flag"), Seq(col("price_cents")),
          sums = Seq("wsum" -> "cw"), totals = Seq("wsum" -> "tw"),
          // routing-decision memo (r17): repeat invocations skip the
          // probe's checkpoint barrier and run the fused lazy plan
          tag = s"$d#lineitem.flag.price_cents.wsum")
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy(col("flag"))
        .agg(min(col("price_cents")).as("weighted_median_cents"))
        .orderBy(col("flag"))
    },
    Some("""
      WITH w AS (
        SELECT l_returnflag AS flag,
               CAST(round(round(l_extendedprice,2)*100,0) AS BIGINT) AS price_cents,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem),
      agg AS (
        SELECT flag, price_cents, CAST(sum(qty) AS BIGINT) AS wsum
        FROM w GROUP BY 1, 2),
      cum AS (
        SELECT flag, price_cents,
               CAST(sum(wsum) OVER (PARTITION BY flag ORDER BY price_cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
               CAST(sum(wsum) OVER (PARTITION BY flag) AS BIGINT) AS tw
        FROM agg)
      SELECT flag, CAST(min(price_cents) AS BIGINT) AS weighted_median_cents
      FROM cum WHERE 2*cw >= tw GROUP BY flag ORDER BY flag
    """))

  /** Two-sample Kolmogorov-Smirnov statistic between F and O order
    * totals — "did the distribution shift" with a fully EXACT
    * argmax: D's numerator max|k1·n2 − k2·n1| is bigint arithmetic
    * over cumulative counts (the only double is the final reported
    * ratio). Scale note: the CDF runs over DISTINCT price points —
    * |distinct values| rows, not |orders| — through PrefixSum's
    * distributed cumsum, and both sample sizes ride the same partials
    * (no Window.partitionBy() second pass).
    */
  val ksTest = QueryDef(
    "q_ks_test",
    (s, d) => {
      val src = Tables.orders(s, d)
        .filter(col("o_orderstatus").isin("F", "O"))
        .select(round(round(col("o_totalprice"), 2) * 100, 0).cast("long").as("v"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("g1"),
          when(col("o_orderstatus") === "O", 1L).otherwise(0L).as("g2"))
      val agg = src.groupBy(col("v"))
        .agg(sum(col("g1")).as("c1"), sum(col("g2")).as("c2"))
      PrefixSum.attach(agg, Nil, Seq(col("v")),
          sums = Seq("c1" -> "k1", "c2" -> "k2"),
          totals = Seq("c1" -> "n1", "c2" -> "n2"))
        .groupBy(col("n1"), col("n2"))
        .agg(max(abs(col("k1") * col("n2") - col("k2") * col("n1"))).as("d_num"))
        .select(col("n1"), col("n2"), col("d_num"),
          round(col("d_num").cast("double") / (col("n1").cast("double") * col("n2")), 6)
            .cast("float").as("ks_d"))
    },
    Some("""
      WITH s AS (
        SELECT CAST(round(round(o_totalprice,2)*100,0) AS BIGINT) AS v,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g1,
               CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS g2
        FROM orders WHERE o_orderstatus IN ('F','O')),
      agg AS (SELECT v, CAST(sum(g1) AS BIGINT) AS c1,
                     CAST(sum(g2) AS BIGINT) AS c2 FROM s GROUP BY v),
      cum AS (
        SELECT v,
               CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS BIGINT) AS k1,
               CAST(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS BIGINT) AS k2,
               CAST(sum(c1) OVER () AS BIGINT) AS n1,
               CAST(sum(c2) OVER () AS BIGINT) AS n2
        FROM agg)
      SELECT n1, n2,
             CAST(max(abs(k1*n2 - k2*n1)) AS BIGINT) AS d_num,
             CAST(round(CAST(max(abs(k1*n2 - k2*n1)) AS DOUBLE)
                   / (CAST(n1 AS DOUBLE)*n2), 6) AS FLOAT) AS ks_d
      FROM cum GROUP BY n1, n2
    """))

  /** Mann-Kendall trend test over the daily revenue series — the
    * nonparametric "is there a monotonic trend" member of the exact
    * panel (vs q_cusum's changepoint and q_autocorr's serial
    * dependence). S = Σ_{i<j} sign(x_j − x_i) over day pairs; the
    * tie-corrected variance n(n−1)(2n+5) − Σ t(t−1)(2t+5) over 18 and
    * the continuity-corrected z are the standard forms. Revenue is
    * exact integer cents (the paretoCutoff double-round pattern), so
    * every sign() compares bigints — no float boundary until the one
    * final sqrt/division, which both engines round identically. Scale:
    * the pairwise self-join is CALENDAR-bounded (day count doesn't
    * grow with data volume — the q_event_paths class), so the tiny
    * broadcast theta-join is a bounded fixed cost at any SF; the only
    * fact-sized job is the per-day aggregate.
    */
  val mannKendall = QueryDef(
    "q_mann_kendall",
    (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(round(round(sum(col("o_totalprice")), 2) * 100, 0)
          .cast("long").as("rev_cents"))
      val sAgg = daily.as("a")
        .join(daily.as("b"), col("a.day") < col("b.day"))
        .agg(sum(signum(col("b.rev_cents") - col("a.rev_cents")).cast("long"))
          .as("s_stat"))
      val nAgg = daily.agg(count(lit(1)).as("n_days"))
      val tieAgg = daily.groupBy(col("rev_cents")).agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(when(col("t") > 1,
          col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))), lit(0L))
          .as("tie_term"))
      sAgg.crossJoin(nAgg).crossJoin(tieAgg)
        .select(col("n_days"), col("s_stat"),
          round(
            (when(col("s_stat") > 0, (col("s_stat") - 1).cast("double"))
              .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double"))
              .otherwise(lit(0.0))) /
            sqrt((col("n_days") * (col("n_days") - 1)
              * (lit(2L) * col("n_days") + 5) - col("tie_term"))
              .cast("double") / 18.0),
            4).as("z_mk"))
    },
    Some("""
      WITH daily AS MATERIALIZED (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(round(round(sum(o_totalprice), 2) * 100, 0) AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1),
      s AS (
        SELECT CAST(sum(CASE WHEN b.rev_cents > a.rev_cents THEN 1
                             WHEN b.rev_cents < a.rev_cents THEN -1
                             ELSE 0 END) AS BIGINT) AS s_stat
        FROM daily a JOIN daily b ON a.day < b.day),
      n AS (SELECT count(*) AS n_days FROM daily),
      ties AS (
        SELECT COALESCE(CAST(sum(CASE WHEN t > 1
                 THEN t * (t - 1) * (2 * t + 5) ELSE 0 END) AS BIGINT), 0) AS tie_term
        FROM (SELECT count(*) AS t FROM daily GROUP BY rev_cents))
      SELECT n_days, s_stat,
             round((CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                         WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                         ELSE 0 END)
                   / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5)
                               - tie_term AS DOUBLE) / 18.0), 4) AS z_mk
      FROM s CROSS JOIN n CROSS JOIN ties
    """))

  /** Mann-Whitney U (rank-sum) between F and O order totals, with
    * tie-corrected average ranks — the nonparametric "is one sample
    * stochastically larger" companion to q_ks_test. Everything stays
    * exact by DOUBLING: 2·avgrank of a tied value group =
    * 2·cumprev + m + 1 (bigint), so 2·R1 and the reported 2·U values
    * are pure integer arithmetic — U itself can be half-integer and
    * a /2 would hit the Spark-truncates / DuckDB-rounds cast
    * divergence (SURVEY §5). AUC = U1/(n1·n2) is the one double,
    * rounded. Same scale shape as q_ks_test: one fact aggregate, then
    * PrefixSum's distributed cumsum over distinct values (exclusive
    * prefix = inclusive − m).
    */
  val mannWhitney = QueryDef(
    "q_mann_whitney",
    (s, d) => {
      val src = Tables.orders(s, d)
        .filter(col("o_orderstatus").isin("F", "O"))
        .select(round(round(col("o_totalprice"), 2) * 100, 0).cast("long").as("v"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("g1"))
      val agg = src.groupBy(col("v"))
        .agg(count(lit(1)).as("m"), sum(col("g1")).as("m1"))
      PrefixSum.attach(agg, Nil, Seq(col("v")), sums = Seq("m" -> "cum_m"))
        .withColumn("cumprev", col("cum_m") - col("m"))
        .agg(sum(col("m1")).as("n1"),
          sum(col("m") - col("m1")).as("n2"),
          sum(col("m1") * (col("cumprev") * 2 + col("m") + 1)).as("twoR1"))
        .select(col("n1"), col("n2"),
          (col("twoR1") - col("n1") * (col("n1") + 1)).as("u1_x2"),
          (col("n1") * col("n2") * 2 - (col("twoR1") - col("n1") * (col("n1") + 1)))
            .as("u2_x2"),
          round((col("twoR1") - col("n1") * (col("n1") + 1)).cast("double")
            / (col("n1").cast("double") * col("n2") * 2), 6)
            .cast("float").as("auc"))
    },
    Some("""
      WITH s AS (
        SELECT CAST(round(round(o_totalprice,2)*100,0) AS BIGINT) AS v,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g1
        FROM orders WHERE o_orderstatus IN ('F','O')),
      agg AS (SELECT v, CAST(count(*) AS BIGINT) AS m,
                     CAST(sum(g1) AS BIGINT) AS m1 FROM s GROUP BY v),
      cum AS (
        SELECT v, m, m1,
               CAST(coalesce(sum(m) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumprev
        FROM agg),
      tot AS (
        SELECT CAST(sum(m1) AS BIGINT) AS n1,
               CAST(sum(m - m1) AS BIGINT) AS n2,
               CAST(sum(m1 * (2*cumprev + m + 1)) AS BIGINT) AS twoR1
        FROM cum)
      SELECT n1, n2,
             CAST(twoR1 - n1*(n1+1) AS BIGINT) AS u1_x2,
             CAST(2*n1*n2 - (twoR1 - n1*(n1+1)) AS BIGINT) AS u2_x2,
             CAST(round(CAST(twoR1 - n1*(n1+1) AS DOUBLE)
                   / (2*CAST(n1 AS DOUBLE)*n2), 6) AS FLOAT) AS auc
      FROM tot
    """))

  /** Cramér's V effect size over the (return flag × line status)
    * contingency table — the normalized [0,1] companion to
    * q_mutual_info's raw chi-square on a second column pair. Cells
    * and margins exact bigints; chi² terms are functions of bigints;
    * the ≤6-term sum and the final sqrt are rounded. One fact
    * shuffle onto the 6-cell key.
    */
  val cramersV = QueryDef(
    "q_cramers_v",
    (s, d) => {
      val cell = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("x"), col("l_linestatus").as("y"))
        .agg(count(lit(1)).as("c"))
      val marg = cell
        .withColumn("rx", sum(col("c")).over(Window.partitionBy(col("x"))))
        .withColumn("ry", sum(col("c")).over(Window.partitionBy(col("y"))))
        .withColumn("n", sum(col("c")).over(Window.partitionBy()))
      val cD = col("c").cast("double")
      val exp = col("rx").cast("double") * col("ry") / col("n")
      marg.agg(
        max(col("n")).as("n"),
        countDistinct(col("x")).as("r"),
        countDistinct(col("y")).as("cols"),
        sum((cD - exp) * (cD - exp) / exp).as("chi2"))
        .select(col("n"), col("r"), col("cols"),
          round(col("chi2"), 4).cast("float").as("chi_square"),
          round(sqrt(col("chi2")
            / (col("n") * least(col("r") - 1, col("cols") - 1))), 6)
            .cast("float").as("cramers_v"))
    },
    Some("""
      WITH cell AS (
        SELECT l_returnflag AS x, l_linestatus AS y, count(*) AS c
        FROM lineitem GROUP BY 1, 2),
      marg AS (
        SELECT x, y, c,
               CAST(sum(c) OVER (PARTITION BY x) AS BIGINT) AS rx,
               CAST(sum(c) OVER (PARTITION BY y) AS BIGINT) AS ry,
               CAST(sum(c) OVER () AS BIGINT) AS n
        FROM cell),
      stat AS (
        SELECT max(n) AS n,
               CAST(count(DISTINCT x) AS BIGINT) AS r,
               CAST(count(DISTINCT y) AS BIGINT) AS cols,
               sum((CAST(c AS DOUBLE) - CAST(rx AS DOUBLE)*ry/n)
                   * (CAST(c AS DOUBLE) - CAST(rx AS DOUBLE)*ry/n)
                   / (CAST(rx AS DOUBLE)*ry/n)) AS chi2
        FROM marg)
      SELECT CAST(n AS BIGINT) AS n, r, cols,
             CAST(round(chi2, 4) AS FLOAT) AS chi_square,
             CAST(round(sqrt(chi2 / (n * least(r-1, cols-1))), 6) AS FLOAT)
               AS cramers_v
      FROM stat
    """))

  def defs: Seq[QueryDef] = Seq(
    survivalCurve, churnRate, seasonalIndex, markovTransitions,
    markovTransitions2Level, markovTransitionsAuto,
    eventPaths2Level, eventPathsAuto,
    abTest, benford, paretoCutoff, packSequences,
    concurrentSessions, gini, sessionStats, pagerank, eventPaths,
    conversionLag, shipLag, growthAccounting, anomalyIqr, activityHeatmap,
    crossSell, readability, cusum, harmonicGeo, hhi, mutualInfo,
    weightedMedian, ksTest, mannWhitney, mannKendall, cramersV)
}
