package graft.queries

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.9: stream semantics over the static `events` table,
  * expressed batch-first so every query stays DuckDB-checkable. The
  * Structured Streaming twins (withWatermark + the same window
  * functions) live in graft.streaming.EventStreams — these batch
  * forms and those streaming forms share the windowing semantics.
  *
  * All event-time arithmetic is done in exact epoch microseconds
  * (Spark unix_micros ≡ DuckDB epoch_us after its ns→µs cast), so
  * window/session boundaries agree between engines to the µs.
  */
object EventsTime extends QueryModule {

  /** Tumbling 10-minute windows via Spark's window(); oracle uses
    * DuckDB time_bucket (both are epoch-aligned, and any whole-day
    * origin difference is a multiple of 10 minutes).
    */
  val tumbling = QueryDef(
    "q_tumbling_window",
    (s, d) =>
      Tables.eventsByDate(s, d)
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("total_value"))
        .select(col("window.start").as("bucket_start"), col("event_type"),
          col("cnt"), col("total_value"))
        .orderBy(col("bucket_start"), col("event_type")),
    Some("""
      SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS bucket_start,
             event_type, count(*) AS cnt, round(sum(value), 2) AS total_value
      FROM events
      GROUP BY bucket_start, event_type
      ORDER BY bucket_start, event_type
    """))

  /** Sliding windows (width 10 min, slide 5 min): each event lands in
    * two windows. Oracle reproduces the assignment as a 2-way UNION
    * ALL of shifted 5-minute buckets.
    */
  val sliding = QueryDef(
    "q_sliding_window",
    (s, d) =>
      Tables.eventsByDate(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("total_value"))
        .select(col("window.start").as("bucket_start"), col("cnt"), col("total_value"))
        .orderBy(col("bucket_start")),
    Some("""
      SELECT bucket_start, count(*) AS cnt, round(sum(value), 2) AS total_value
      FROM (
        SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS bucket_start, value
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL '5 minutes', value
        FROM events
      )
      GROUP BY bucket_start
      ORDER BY bucket_start
    """))

  /** Shared oracle for both sessionization forms: q_sessionize and
    * its two-level skew-safe twin q_sessionize_2level compute the
    * SAME session table, so grading both against one SQL is the
    * equivalence proof.
    */
  private val sessionizeSql = """
      SELECT user_id, session_id, count(*) AS events_in_session,
             min(CAST(ts AS TIMESTAMP)) AS session_start,
             max(CAST(ts AS TIMESTAMP)) AS session_last,
             round(sum(value), 2) AS session_value
      FROM (
        SELECT user_id, ts, value,
               CAST(sum(CASE WHEN prev_us IS NULL
                        OR epoch_us(CAST(ts AS TIMESTAMP)) - prev_us >= 1800000000
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM (
          SELECT user_id, ts, event_id, value,
                 lag(epoch_us(CAST(ts AS TIMESTAMP)), 1)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
          FROM events
        )
      )
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id
    """

  /** The plain one-shuffle session table over any events slice —
    * shared by q_sessionize and the router's uniform-key route.
    */
  private[graft] def sessionsPlain(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull
          || unix_micros(col("ts")) - col("prev_us") >= 1800000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(running))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("events_in_session"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_last"),
        round(sum(col("value")), 2).as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Gap-based sessionization, portable rewrite: lag → gap≥30min flag
    * → running-sum session id. One shuffle on user_id; linear at any
    * scale (the flagship streaming-analytics pattern).
    */
  val sessionize = QueryDef(
    "q_sessionize",
    (s, d) => sessionsPlain(Tables.events(s, d)),
    Some(sessionizeSql))

  /** TWO-LEVEL sessionization — the skew lever SCALING.md prescribes
    * for the one giant key (a user with millions of events would
    * serialize q_sessionize's per-user window through one task).
    * Level 1 sessionizes within (user, day) buckets — the window
    * partition count multiplies by |days| and no partition exceeds a
    * user-day; level 2 re-runs the SAME gap algorithm at SESSION
    * granularity (lag end_us per user over provisional sessions,
    * merge when the boundary gap < 30 min), which is data-reduced by
    * orders of magnitude — a mega-user's session count is bounded by
    * active-time/30 min, not event count. Exactly the same session
    * table falls out: within-bucket splits already satisfy the gap
    * rule, bucket-boundary pairs are globally consecutive events, and
    * chained merges reproduce multi-day sessions. GRADED AGAINST THE
    * IDENTICAL ORACLE as q_sessionize — the hash match IS the
    * equivalence proof.
    */
  /** The two-level session table over any events slice — shared by
    * q_sessionize_2level and the router's giant-key route.
    */
  private[graft] def sessions2Level(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val byBucket = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val runB = byBucket.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = ev
        .withColumn("day", to_date(col("ts")))
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(byBucket))
        .withColumn("new_sess",
          when(col("prev_us").isNull
            || col("us") - col("prev_us") >= 1800000000L, 1L).otherwise(0L))
        .withColumn("bucket_sess", sum(col("new_sess")).over(runB))
        .groupBy(col("user_id"), col("day"), col("bucket_sess"))
        .agg(count(lit(1)).as("cnt"),
          min(col("ts")).as("p_start"), max(col("ts")).as("p_last"),
          min(col("us")).as("start_us"), max(col("us")).as("end_us"),
          sum(col("value")).as("p_value"))
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
      val runU = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pre
        .withColumn("prev_end", lag(col("end_us"), 1).over(byUser))
        .withColumn("new_grp",
          when(col("prev_end").isNull
            || col("start_us") - col("prev_end") >= 1800000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_grp")).over(runU))
        .groupBy(col("user_id"), col("session_id"))
        .agg(sum(col("cnt")).as("events_in_session"),
          min(col("p_start")).as("session_start"),
          max(col("p_last")).as("session_last"),
          round(sum(col("p_value")), 2).as("session_value"))
        .orderBy(col("user_id"), col("session_id"))
  }

  val sessionize2Level = QueryDef(
    "q_sessionize_2level",
    (s, d) => sessions2Level(Tables.events(s, d)),
    Some(sessionizeSql))

  /** ENGINE-CHOSEN sessionization (r13): [[graft.functions
    * .SkewRouter]] decides plain-vs-2level from the memoized hot-key
    * statistic — uniform keys take the one-shuffle plain window,
    * a giant key (≥ ~4M rows under one user) takes the two-level
    * rewrite whose window partitions are bounded by user-days. Both
    * routes compute the SAME session table (each is hash-graded
    * against this very oracle), so routing is invisible to results.
    * SkewRouterSpec pins the crossover choice on a synthetic skew
    * corpus and plain/auto result equality.
    */
  val sessionizeAuto = QueryDef(
    "q_sessionize_auto",
    (s, d) => {
      val ev = Tables.events(s, d)
      if (graft.functions.SkewRouter.plainWindowSafeForSource(
          d, "events", ev, Seq("user_id"), tag = s"$d#events.user_id"))
        sessionsPlain(ev)
      else sessions2Level(ev)
    },
    Some(sessionizeSql))

  /** Native session_window() (Spark's built-in gap-merge operator);
    * oracle is the equivalent lag-rewrite. end = last event + gap per
    * session_window semantics.
    */
  val sessionWindowNative = QueryDef(
    "q_session_window",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"), col("cnt"))
        .orderBy(col("user_id"), col("session_start")),
    Some("""
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS session_start,
             max(CAST(ts AS TIMESTAMP)) + INTERVAL '30 minutes' AS session_end,
             count(*) AS cnt
      FROM (
        SELECT user_id, ts,
               CAST(sum(CASE WHEN prev_us IS NULL
                        OR epoch_us(CAST(ts AS TIMESTAMP)) - prev_us >= 1800000000
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM (
          SELECT user_id, ts, event_id,
                 lag(epoch_us(CAST(ts AS TIMESTAMP)), 1)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
          FROM events
        )
      )
      GROUP BY user_id, session_id
      ORDER BY user_id, session_start
    """))

  /** Stateful-dedup batch analog: duplicate the stream (UNION ALL with
    * itself), then dropDuplicates on the event key — the batch twin of
    * streaming dropDuplicatesWithinWatermark. Deterministic because
    * duplicate rows are identical.
    */
  val dedupRows = QueryDef(
    "q_dedup_events",
    (s, d) => {
      val ev = Tables.eventsByDate(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.unionAll(ev)
        .dropDuplicates(Seq("event_id"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT DISTINCT event_id, user_id, event_type, value
      FROM (SELECT event_id, user_id, event_type, value FROM events
            UNION ALL
            SELECT event_id, user_id, event_type, value FROM events)
      ORDER BY event_id
    """))

  /** Calendar gap-filling: generate every day of a month (sequence/
    * generate_series), left-join daily order counts, zero-fill — the
    * standard dense time-series idiom (missing days must appear).
    */
  val gapFill = QueryDef(
    "q_gap_fill",
    (s, d) => {
      val days = s.range(1)
        .select(explode(expr(
          "sequence(DATE'1997-01-01', DATE'1997-01-31', INTERVAL 1 DAY)")).as("day"))
      val daily = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-02-01").cast("timestamp"))
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
      days.join(daily, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("orders"), lit(0L)).as("orders"),
          round(coalesce(col("revenue"), lit(0.0)), 2).as("revenue"))
        .orderBy(col("day"))
    },
    Some("""
      WITH days AS (
        SELECT CAST(g AS DATE) AS day
        FROM generate_series(DATE '1997-01-01', DATE '1997-01-31', INTERVAL 1 DAY) t(g)),
      daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-02-01 00:00:00'
        GROUP BY day)
      SELECT day, coalesce(orders, 0) AS orders,
             round(coalesce(revenue, 0.0), 2) AS revenue
      FROM days LEFT JOIN daily USING (day)
      ORDER BY day
    """))

  /** Funnel analysis: signup → first click strictly after → first
    * purchase strictly after that, per user; output the stage
    * counts and median time-to-convert. Each stage is an aggregate
    * then an equi-join on user_id — three bounded shuffles, the
    * standard scalable funnel shape (no per-user iteration). The
    * global median runs on [[graft.functions.ExactQuantiles]] since
    * r17 (VERDICT r16 item 2): the old `percentile(..., 0.5)` held
    * every converter's lag in ONE ObjectHashAggregate buffer — the
    * single-group worst case of the buffering shape; the rank-
    * interval path holds nothing data-proportional per task.
    */
  val funnel = QueryDef(
    "q_funnel",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val signup = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("us")).as("s_us"))
      val click = ev.filter(col("event_type") === "click")
        .join(signup, Seq("user_id"))
        .filter(col("us") > col("s_us"))
        .groupBy(col("user_id"), col("s_us")).agg(min(col("us")).as("c_us"))
      val purchase = ev.filter(col("event_type") === "purchase")
        .join(click, Seq("user_id"))
        .filter(col("us") > col("c_us"))
        .groupBy(col("user_id"), col("s_us"), col("c_us"))
        .agg(min(col("us")).as("p_us"))
      // tagged (r17): the ranked conversion-lag table is derived
      // deterministically from events, so the session memoizes ONE
      // cumulation and repeat invocations pay only the boundary agg
      val med = graft.functions.ExactQuantiles.cont(
        purchase.select(((col("p_us") - col("s_us")) / lit(1e6)).as("conv_sec")),
        Nil, "conv_sec", Seq(0.5 -> "med"),
        tag = s"$d#events.funnel_conv_sec")
      signup.agg(count(lit(1)).as("signed_up")).crossJoin(
        click.agg(count(lit(1)).as("clicked_after")).crossJoin(
          purchase.agg(count(lit(1)).as("purchased_after")).crossJoin(
            med.select(round(col("med"), 2).as("median_convert_sec")))))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      signup AS (
        SELECT user_id, min(us) AS s_us FROM ev
        WHERE event_type = 'signup' GROUP BY user_id),
      click AS (
        SELECT e.user_id, s_us, min(us) AS c_us
        FROM ev e JOIN signup USING (user_id)
        WHERE event_type = 'click' AND us > s_us
        GROUP BY e.user_id, s_us),
      purchase AS (
        SELECT e.user_id, s_us, c_us, min(us) AS p_us
        FROM ev e JOIN click USING (user_id)
        WHERE event_type = 'purchase' AND us > c_us
        GROUP BY e.user_id, s_us, c_us)
      SELECT (SELECT count(*) FROM signup) AS signed_up,
             (SELECT count(*) FROM click) AS clicked_after,
             (SELECT count(*) FROM purchase) AS purchased_after,
             (SELECT round(quantile_cont((p_us - s_us) / 1e6, 0.5), 2)
              FROM purchase) AS median_convert_sec
    """))

  /** Cohort retention: users grouped by their first-activity week,
    * tracked by how many remain active N weeks later — the classic
    * product-analytics matrix. Three bounded aggregations: per-user
    * first week (|users| rows), distinct user-week activity (|users|
    * × |weeks|), then the cohort×period matrix (|weeks|²) — every
    * shuffle key is bounded, nothing is quadratic in events.
    */
  val cohortRetention = QueryDef(
    "q_cohort_retention",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      val firstWeek = ev.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      val activity = ev.dropDuplicates(Seq("user_id", "week"))
      activity.join(firstWeek, Seq("user_id"))
        .select(col("cohort_week"),
          floor(datediff(col("week"), col("cohort_week")) / 7).cast("long")
            .as("period"))
        .groupBy(col("cohort_week"), col("period"))
        .agg(count(lit(1)).as("active_users"))
        .orderBy(col("cohort_week"), col("period"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS week
        FROM events),
      first_week AS (
        SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id),
      activity AS (SELECT DISTINCT user_id, week FROM ev)
      SELECT cohort_week,
             CAST(floor(date_diff('day', cohort_week, week) / 7) AS BIGINT) AS period,
             count(*) AS active_users
      FROM activity JOIN first_week USING (user_id)
      GROUP BY cohort_week, period
      ORDER BY cohort_week, period
    """))

  /** Rolling 7-day active users (WAU): for each active calendar day,
    * the count of DISTINCT users active in the trailing week. A
    * rolling sum of daily actives would double-count, and a
    * day-BETWEEN range join would plan as a nested loop (the plan
    * guard caught exactly that) — so each distinct (user, day) row
    * EXPLODES into the 7 observation days it contributes to (map-side
    * ×7) and a count-distinct per day finishes it. One equi semi-join
    * restricts observation days to days with activity. No range join
    * anywhere; work is |user-days| × 7.
    */
  val wauRolling = QueryDef(
    "q_wau_rolling",
    (s, d) => {
      val activity = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .dropDuplicates(Seq("user_id", "day"))
      val contrib = activity
        .select(col("user_id"), explode(sequence(
          col("day"), date_add(col("day"), 6))).as("obs_day"))
      contrib
        .join(activity.select(col("day").as("obs_day")).distinct(),
          Seq("obs_day"), "left_semi")
        .groupBy(col("obs_day"))
        .agg(countDistinct(col("user_id")).as("wau"))
        .orderBy(col("obs_day"))
    },
    Some("""
      WITH activity AS (
        SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events),
      contrib AS (
        SELECT user_id,
               CAST(unnest(generate_series(day, day + 6, INTERVAL 1 DAY)) AS DATE) AS obs_day
        FROM activity)
      SELECT obs_day, count(DISTINCT user_id) AS wau
      FROM contrib
      WHERE obs_day IN (SELECT day FROM activity)
      GROUP BY obs_day
      ORDER BY obs_day
    """))

  /** DAU/MAU stickiness: per day, daily actives over that calendar
    * month's distinct actives — two bounded count-distinct
    * aggregations joined on month, ratio float-cast (exact int ratio;
    * float is fully deterministic where round() can boundary-flip).
    * The month table (one row per calendar month) is broadcast by
    * hint: both sides are small, and without the hint AQE picked the
    * build side by whichever aggregate finished first, so repeat runs
    * planned, and compiled, different join stages.
    */
  val stickiness = QueryDef(
    "q_stickiness",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          date_trunc("month", col("ts")).as("month"))
      val dau = ev.groupBy(col("day"), col("month"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val mau = ev.groupBy(col("month"))
        .agg(countDistinct(col("user_id")).as("mau"))
      dau.join(broadcast(mau), Seq("month"))
        .select(col("day"), col("dau"), col("mau"),
          (col("dau").cast("double") / col("mau")).cast("float").as("stickiness"))
        .orderBy(col("day"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS month
        FROM events),
      dau AS (SELECT day, month, count(DISTINCT user_id) AS dau FROM ev GROUP BY day, month),
      mau AS (SELECT month, count(DISTINCT user_id) AS mau FROM ev GROUP BY month)
      SELECT day, dau, mau,
             CAST(CAST(dau AS DOUBLE) / mau AS FLOAT) AS stickiness
      FROM dau JOIN mau USING (month)
      ORDER BY day
    """))

  /** Running-mean anomaly detection, declaratively: events whose
    * value exceeds 3× the user's mean over all PRIOR events (by
    * event_id order). This is the batch twin of
    * streaming.Stateful.anomalies — StatefulSkewSpec asserts the two
    * implementations produce identical rows — expressed as one window
    * pass so it is oracle-checkable and scales like any running
    * window.
    */
  val anomalies = QueryDef(
    "q_anomaly",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          avg(col("value")).over(w).as("m"),
          count(lit(1)).over(w).as("n"))
        .filter(col("n") > 0 && col("value") > col("m") * 3)
        .select(col("user_id"), col("event_id"), col("value"),
          // float cast, not round(2): the window avg lands on .xx5
          // boundaries where engines' rounding diverges (observed at
          // sf0.01 row 119: 34.285 → 34.29 vs 34.28)
          col("m").cast("float").as("running_mean"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      SELECT user_id, event_id, value, CAST(m AS FLOAT) AS running_mean
      FROM (
        SELECT user_id, event_id, value,
               avg(value) OVER w AS m,
               count(*) OVER w AS n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      WHERE n > 0 AND value > m * 3
      ORDER BY user_id, event_id
    """))

  /** Time-series resampling (OHLC downsample): collapse the event
    * stream into 15-minute bars per event type — open/close are
    * first/last value in (ts, event_id) order (windowed first_value/
    * last_value, deterministic under duplicate timestamps), high/low/
    * volume are plain aggregates. One shuffle on the bar key; the
    * window and the groupBy share the same partitioning so the
    * exchange is reused. The standard market-data/metrics downsample.
    */
  val ohlc = QueryDef(
    "q_ohlc",
    (s, d) => {
      val w = Window
        .partitionBy(col("event_type"), col("bucket"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .withColumn("bucket", window(col("ts"), "15 minutes").getField("start"))
        .withColumn("open", first(col("value")).over(w))
        .withColumn("close", last(col("value")).over(w))
        .groupBy(col("event_type"), col("bucket"))
        .agg(
          min(col("value")).as("low"),
          max(col("value")).as("high"),
          first(col("open")).as("open"),
          first(col("close")).as("close"),
          count(lit(1)).as("volume"))
        .select(col("event_type"), col("bucket"),
          col("open"), col("high"), col("low"), col("close"), col("volume"))
        .orderBy(col("event_type"), col("bucket"))
    },
    Some("""
      SELECT event_type, bucket,
             first(value ORDER BY ts, event_id) AS open,
             max(value) AS high,
             min(value) AS low,
             last(value ORDER BY ts, event_id) AS close,
             count(*) AS volume
      FROM (
        SELECT event_type, value, ts, event_id,
               time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) AS bucket
        FROM events)
      GROUP BY event_type, bucket
      ORDER BY event_type, bucket
    """))

  private val attributionSql =
    """
      SELECT purchase_id, user_id,
             CASE WHEN click_us >= ts_us - 86400000000 THEN click_id END AS attributed_click
      FROM (
        SELECT event_id AS purchase_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
                 OVER w AS click_id,
               last_value(CASE WHEN event_type = 'click'
                 THEN epoch_us(CAST(ts AS TIMESTAMP)) END IGNORE NULLS)
                 OVER w AS click_us
        FROM events
        WHERE event_type IN ('click', 'purchase')
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      WHERE event_type = 'purchase'
      ORDER BY purchase_id
    """

  /** Last-touch attribution: each purchase is credited to the user's
    * most recent prior click within 24 h. The classic asof shape done
    * as ONE pass: carry the last click (id, ts) forward per user with
    * an IGNORE NULLS window (no self-join), then apply the lookback
    * tolerance as a filter — at 100 TB this is one shuffle on
    * user_id vs. the naive time-range self-join's quadratic blowup
    * on active users. Epoch-µs arithmetic keeps the tolerance exact
    * on both engines.
    */
  /** The plain one-shuffle attribution table over any events slice —
    * shared by q_attribution and the router's uniform-key route.
    */
  private[graft] def attributionPlain(
      events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_us",
        last(when(col("event_type") === "click", unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        when(col("click_us") >= unix_micros(col("ts")) - lit(86400000000L),
          col("click_id")).as("attributed_click"))
      .orderBy(col("purchase_id"))
  }

  val attribution = QueryDef(
    "q_attribution",
    (s, d) => attributionPlain(Tables.events(s, d)),
    Some(attributionSql))

  /** TWO-LEVEL last-touch attribution — q_attribution's giant-key
    * twin. The plain form's IGNORE-NULLS carry-forward serializes a
    * mega-user through one task; here level 1 carries the last click
    * within (user, day) buckets, level 2 computes each bucket's
    * carried-IN click (the latest click of any STRICTLY EARLIER
    * bucket — an ignore-nulls window over the buckets-sized
    * aggregate), and a row's effective last click is
    * coalesce(within-bucket, carried-in). The bucket join re-uses the
    * window's (user, day) hash partitioning, so the fact shuffles
    * once. GRADED AGAINST THE IDENTICAL ORACLE as q_attribution —
    * hash match = equivalence. Measured on the 9.5M-row hot key
    * (BASELINE r11).
    */
  /** The two-level attribution table over any events slice — shared
    * by q_attribution_2level and the router's giant-key route.
    */
  private[graft] def attribution2LevelOf(
      events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val pre = events
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("day", to_date(col("ts")))
        .withColumn("us", unix_micros(col("ts")))
      val wB = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val stamped = pre
        .withColumn("within", last(
          when(col("event_type") === "click",
            struct(col("us").as("cus"), col("event_id").as("cid"))),
          ignoreNulls = true).over(wB))
      // buckets-sized: latest click per bucket, carried from earlier
      // buckets only (rowsBetween ..., -1). max(struct(us, id)) is the
      // latest click because (us, event_id) IS the event order.
      val wU = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val carry = pre
        .groupBy(col("user_id"), col("day"))
        .agg(max(when(col("event_type") === "click",
          struct(col("us").as("cus"), col("event_id").as("cid"))))
          .as("bucket_last"))
        .withColumn("carry_in", last(col("bucket_last"), ignoreNulls = true).over(wU))
        .select(col("user_id").as("cu"), col("day").as("cday"), col("carry_in"))
      stamped
        .join(carry, col("user_id") === col("cu") && col("day") === col("cday"))
        .withColumn("eff", coalesce(col("within"), col("carry_in")))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          when(col("eff.cus") >= col("us") - lit(86400000000L),
            col("eff.cid")).as("attributed_click"))
        .orderBy(col("purchase_id"))
  }

  val attribution2Level = QueryDef(
    "q_attribution_2level",
    (s, d) => attribution2LevelOf(Tables.events(s, d)),
    Some(attributionSql))

  /** ENGINE-CHOSEN attribution (r14, VERDICT r13 item 1): routed
    * plain-vs-2level by [[graft.functions.SkewRouter]] on the shared
    * memoized events hot-key statistic — same contract as
    * q_sessionize_auto, graded against the identical oracle.
    */
  val attributionAuto = QueryDef(
    "q_attribution_auto",
    (s, d) => {
      val ev = Tables.events(s, d)
      if (graft.functions.SkewRouter.plainWindowSafeForSource(
          d, "events", ev, Seq("user_id"), tag = s"$d#events.user_id"))
        attributionPlain(ev)
      else attribution2LevelOf(ev)
    },
    Some(attributionSql))

  /** Time-WEIGHTED average of `value` per user — the correct mean for
    * irregularly-sampled state (a sensor/price that HOLDS its value
    * between observations): Σ value·Δt / Σ Δt over lead()-derived
    * intervals, instead of the naive per-event mean that over-weights
    * bursts. Δt is exact epoch-microsecond arithmetic; the weighted
    * sums are double products, so the ratio is float-cast (q_stats
    * rule). One shuffle on user_id shared by the window and the agg.
    */
  val timeWeightedAvg = QueryDef(
    "q_time_weighted_avg",
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      // no dt filter: the last event's NULL dt drops out of the
      // weighted sums on its own (sum/count skip NULLs), while
      // naive_mean must average ALL events — filtering first would
      // silently exclude each user's last event from the very column
      // this query exists to contrast against
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("dt",
          lead(unix_micros(col("ts")), 1).over(byUser) - unix_micros(col("ts")))
        .groupBy(col("user_id"))
        .agg(count(col("dt")).as("n_intervals"),
          (sum(col("value") * col("dt")) / sum(col("dt")))
            .cast("float").as("twa_value"),
          avg(col("value")).cast("float").as("naive_mean"))
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT user_id, count(dt) AS n_intervals,
             CAST(sum(value * dt) / sum(dt) AS FLOAT) AS twa_value,
             CAST(avg(value) AS FLOAT) AS naive_mean
      FROM (
        SELECT user_id, value,
               lead(epoch_us(CAST(ts AS TIMESTAMP)), 1)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 - epoch_us(CAST(ts AS TIMESTAMP)) AS dt
        FROM events)
      GROUP BY user_id
      ORDER BY user_id
    """))

  /** Lag-1 autocorrelation of daily order revenue — the seasonality /
    * momentum diagnostic for a metric series. Aggregate FIRST (the
    * fact shuffles once into ~|days| rows), THEN the lag window runs
    * on the tiny aggregate (the q_vocab_coverage rule: never a
    * single-partition window over fact-sized data), then one corr()
    * over (x, lag(x)). Corr float-cast per the q_stats rule.
    */
  val autocorr = QueryDef(
    "q_autocorr",
    (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice")).as("rev"))
      val w = Window.orderBy(col("day"))
      daily
        .withColumn("prev_rev", lag(col("rev"), 1).over(w))
        .agg(count(col("prev_rev")).as("n_pairs"),
          corr(col("rev"), col("prev_rev")).cast("float").as("lag1_autocorr"))
    },
    Some("""
      SELECT count(prev_rev) AS n_pairs,
             CAST(corr(rev, prev_rev) AS FLOAT) AS lag1_autocorr
      FROM (
        SELECT day, rev, lag(rev, 1) OVER (ORDER BY day) AS prev_rev
        FROM (
          SELECT date_trunc('day', o_orderdate) AS day,
                 sum(o_totalprice) AS rev
          FROM orders GROUP BY 1))
    """))

  /** Static partition pruning: a week-bounded daily rollup over the
    * date-partitioned events layout. The `event_date BETWEEN` filter
    * is a PARTITION filter — the scan lists only the 7 matching
    * `event_date=` directories and never opens the other 23 days'
    * files (PlanAuditSpec pins PartitionFilters on the scan). At
    * 100 TB this is the difference between reading a week and reading
    * the table; the oracle proves the pruned read loses no rows.
    */
  val eventsPruned = QueryDef(
    "q_events_pruned",
    (s, d) =>
      Tables.eventsByDate(s, d)
        .filter(col("event_date").between(lit("2024-01-08"), lit("2024-01-14")))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_date"), col("event_type")),
    Some("""
      SELECT CAST(ts AS DATE) AS event_date, event_type,
             count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
      GROUP BY event_date, event_type
      ORDER BY event_date, event_type
    """))

  /** DYNAMIC partition pruning: the fact side's scanned partitions are
    * decided at RUNTIME from the dim side of a join on the partition
    * column — the filter (`day % 7 = 0`, a monthly-maintenance-days
    * dim) lives on the date dimension, so no static filter exists on
    * the fact; Spark broadcasts the surviving dim keys and prunes the
    * fact scan to the 4 matching directories
    * (dynamicpruningexpression in the plan, pinned by PlanAuditSpec).
    * This is THE star-schema scan pattern at 100 TB: fact partitions
    * selected by dim predicates, not by fact predicates.
    */
  val eventsDpp = QueryDef(
    "q_events_dpp",
    (s, d) => {
      val dim = s.range(1, 31)
        .select(make_date(lit(2024), lit(1), col("id").cast("int")).as("d"))
        .filter(dayofmonth(col("d")) % 7 === 0)
      Tables.eventsByDate(s, d)
        .join(dim, col("event_date") === col("d"))
        .groupBy(col("event_date"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("users"))
        .orderBy(col("event_date"))
    },
    Some("""
      SELECT CAST(ts AS DATE) AS event_date,
             count(*) AS n_events, count(DISTINCT user_id) AS users
      FROM events
      WHERE day(CAST(ts AS DATE)) % 7 = 0
        -- the Spark dim enumerates January 2024 explicitly; scope the
        -- oracle to the same window so equivalence does not depend on
        -- the corpus happening to span exactly that month
        AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-30'
      GROUP BY event_date
      ORDER BY event_date
    """))

  /** SCD Type-2 dimension build: collapse each user's event stream
    * into versioned validity intervals of their event_type "state" —
    * a row per CHANGE, [valid_from, valid_to) half-open, NULL
    * valid_to marking the current version. The warehouse op every
    * dimension-table pipeline runs. Two window passes on the same
    * (user, time) order: lag() finds change points, then lead() over
    * the filtered change rows closes each interval; both shuffles key
    * on user_id, so at 100 TB this is two linear passes over a
    * partition-friendly key, no self-join.
    */
  val scd2 = QueryDef(
    "q_scd2",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val changes = Tables.eventsByDate(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"), col("event_id"))
      val w2 = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from"), col("event_id"))
      changes
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
        .withColumn("version", row_number().over(w2).cast("long"))
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("version"))
        .orderBy(col("user_id"), col("version"))
    },
    Some("""
      WITH changes AS (
        SELECT user_id, event_type,
               CAST(ts AS TIMESTAMP) AS valid_from, event_id
        FROM (
          SELECT user_id, event_type, ts, event_id,
                 lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
          FROM events)
        WHERE prev_type IS NULL OR prev_type <> event_type)
      SELECT user_id, event_type, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
             row_number() OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS version
      FROM changes
      ORDER BY user_id, version
    """))

  /** Per-day Shannon entropy of the event-type mix — the drift/
    * anomaly profiling stat (a day whose traffic collapses onto one
    * event type drops toward 0; uniform mix approaches ln K). Uses
    * the algebraic form H = ln n − (Σ c·ln c)/n so the whole thing is
    * two cheap aggregations over exact integer counts (no per-row p
    * ratios) on the date-partitioned layout; float-cast per the
    * transcendental-output rule.
    */
  val entropy = QueryDef(
    "q_entropy",
    (s, d) =>
      Tables.eventsByDate(s, d)
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_date"))
        .agg(sum(col("c")).as("n_events"),
          sum(col("c") * log(col("c"))).as("sclogc"))
        .select(col("event_date"), col("n_events"),
          (log(col("n_events")) - col("sclogc") / col("n_events"))
            .cast("float").as("entropy"))
        .orderBy(col("event_date")),
    Some("""
      WITH c AS (
        SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS c
        FROM events GROUP BY 1, 2)
      SELECT event_date,
             CAST(sum(c) AS BIGINT) AS n_events,
             CAST(ln(sum(c)) - sum(c * ln(c)) / sum(c) AS FLOAT) AS entropy
      FROM c
      GROUP BY event_date
      ORDER BY event_date
    """))

  def defs: Seq[QueryDef] = Seq(
    tumbling, sliding, sessionize, sessionize2Level, sessionizeAuto,
    sessionWindowNative,
    dedupRows, gapFill,
    funnel, cohortRetention, wauRolling, stickiness, anomalies, ohlc,
    attribution, attribution2Level, attributionAuto,
    timeWeightedAvg, autocorr, eventsPruned, eventsDpp, scd2,
    entropy)
}
