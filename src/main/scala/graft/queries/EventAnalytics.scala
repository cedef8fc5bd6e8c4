package graft.queries

import graft.Tables
import graft.functions.Exact
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-analytics operators (q73–q75): the funnel / cohort / feature
  * passes a product-analytics or ML-feature pipeline runs over the
  * same event log the sessionization family (q37–q39, q49, q51)
  * consumes. All three shuffle ONCE on user_id and stay there — the
  * same key as every other per-user pass, so at 100 TB they
  * co-partition with sessionization for free.
  */
object EventAnalytics extends QueryModule {

  /** q73 funnel window: a purchase converts a click if it follows
    * within this bound (same user).
    */
  val FUNNEL_HOURS = 2

  /** q73: conversion funnel — per user, the click/purchase counts and
    * the number of CONVERTED purchases (a same-user click in the
    * preceding FUNNEL_HOURS). The "preceding click" test is a running
    * last-click-timestamp window — one pass, no self-join, in contrast
    * to q59's interval-join formulation of the same predicate (both
    * shapes are useful; the window wins when the log is already
    * user-partitioned).
    */
  def q73Funnel(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables(spark, dir).events
      .withColumn("last_click_us",
        max(when(col("event_type") === "click", unix_micros(col("ts"))))
          .over(byUser))
      .withColumn("converted",
        col("event_type") === "purchase" && col("last_click_us").isNotNull &&
          unix_micros(col("ts")) - col("last_click_us") <=
            FUNNEL_HOURS * 3600L * 1000000L)
    ev.groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        sum(when(col("converted"), 1L).otherwise(0L)).as("n_converted"))
      .filter(col("n_clicks") > 0 || col("n_purchases") > 0)
  }

  val q73Sql: String =
    s"""WITH w AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us,
      |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
      |  FROM events)
      |SELECT user_id,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
      |  CAST(sum(CASE WHEN event_type = 'purchase' AND last_click_us IS NOT NULL
      |                 AND us - last_click_us <= ${FUNNEL_HOURS * 3600L * 1000000L}
      |            THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
      |FROM w GROUP BY user_id
      |HAVING n_clicks > 0 OR n_purchases > 0
      |ORDER BY user_id""".stripMargin

  /** q74: retention cohorts — users grouped by first-seen day, the
    * classic (cohort_day, day_offset) -> active-user matrix. Two
    * aggregations on user_id then one on the (cohort, offset) pair;
    * the cohort table is |users|-sized, the matrix |days|² — both
    * shrink monotonically along the pipeline, nothing rescans the log.
    */
  def q74RetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    // one full-log shuffle: the user_id window partitioning also
    // satisfies the (user_id, day) dedup's clustering (subset key), so
    // cohort tagging and dedup share the exchange — no cohort join
    val ev = Tables(spark, dir).events
      .select(col("user_id"), to_date(col("ts")).as("day"))
    ev.withColumn("cohort_day",
        min("day").over(Window.partitionBy("user_id")))
      .dropDuplicates("user_id", "day")
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct("user_id").as("n_active"))
      .select(col("cohort_day").cast("string").as("cohort_day"),
        col("day_offset").cast("long").as("day_offset"), col("n_active"))
  }

  val q74Sql: String =
    s"""WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |cohort AS (
      |  SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id)
      |SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
      |  CAST(ud.day - c.cohort_day AS BIGINT) AS day_offset,
      |  CAST(count(DISTINCT ud.user_id) AS BIGINT) AS n_active
      |FROM ud JOIN cohort c USING (user_id)
      |GROUP BY c.cohort_day, ud.day - c.cohort_day
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** q75 rolling-feature frame: the previous N events. */
  val ROLL_N = 3

  /** q75: per-event rolling features — the feature-engineering pass an
    * ML pipeline materializes next to the raw log: for every event,
    * the count and DECIMAL-exact sum of the user's previous ROLL_N
    * event values plus the gap to the previous event. Decimal window
    * sums make the sliding frame order-independent (Spark's
    * incremental add/remove vs DuckDB's per-frame fold would otherwise
    * drift in float).
    */
  def q75RollingFeatures(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val frame = byUser.rowsBetween(-ROLL_N, -1)
    Tables(spark, dir).events
      .withColumn("prev_n", count(lit(1)).over(frame))
      .withColumn("prev_sum",
        coalesce(sum(Exact.dec(col("value"))).over(frame),
          lit(java.math.BigDecimal.ZERO)).cast("double"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser))
      .select(col("event_id"), col("user_id"), col("prev_n"),
        col("prev_sum"), coalesce(col("gap_us"), lit(-1L)).as("gap_us"))
  }

  val q75Sql: String =
    s"""SELECT event_id, user_id,
      |  CAST(count(*) OVER prev AS BIGINT) AS prev_n,
      |  CAST(coalesce(sum(CAST(value AS DECIMAL(18,4))) OVER prev, 0) AS DOUBLE) AS prev_sum,
      |  coalesce(epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id), -1) AS gap_us
      |FROM events
      |WINDOW prev AS (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN $ROLL_N PRECEDING AND 1 PRECEDING)
      |ORDER BY user_id, event_id""".stripMargin

  /** q77 pivot columns — explicit, so the pivot plans ONE aggregation
    * pass (omitting the values list costs an extra distinct scan to
    * discover them, and unbounded-cardinality pivots don't belong at
    * 100 TB anyway).
    */
  val PIVOT_TYPES = Seq("click", "error", "purchase", "signup", "view")

  /** q77: pivot — per-user event counts with one column per event
    * type (the wide feature/report shape). Equivalent to conditional
    * aggregation (which is exactly what the oracle spells out), but
    * expressed through the relational PIVOT operator.
    */
  def q77PivotTypes(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables(spark, dir).events
      .groupBy("user_id")
      .pivot("event_type", PIVOT_TYPES)
      .agg(count(lit(1)))
      .na.fill(0L, PIVOT_TYPES)
    wide.select(col("user_id") +:
      PIVOT_TYPES.map(t => col(t).as(s"n_$t")): _*)
  }

  val q77Sql: String = {
    val cols = PIVOT_TYPES.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t")
      .mkString(",\n  ")
    s"""SELECT user_id,
      |  $cols
      |FROM events GROUP BY user_id
      |ORDER BY user_id""".stripMargin
  }

  /** q78: CUBE — the full grouping-sets lattice over (event type,
    * day): per-combination, per-type, per-day, and grand totals in ONE
    * aggregation pass (q10 covers the hierarchical ROLLUP; CUBE is the
    * cross-dimensional report shape). Spark expands the lattice
    * map-side — 4 grouping sets here — and partial-aggregates each, so
    * the shuffle carries |types| x |days| x 4 rows, not the log.
    */
  def q78CubeStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(col("event_type"), to_date(col("ts")).cast("string").as("day"),
        col("value"))
      .cube(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), Exact.sumExact(col("value")).as("sum_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit("ALL")).as("day"),
        col("n"), col("sum_value"))

  val q78Sql: String =
    s"""SELECT coalesce(event_type, 'ALL') AS event_type,
      |  coalesce(CAST(CAST(ts AS DATE) AS VARCHAR), 'ALL') AS day,
      |  count(*) AS n, ${Exact.sumSql("value")} AS sum_value
      |FROM events
      |GROUP BY CUBE (event_type, CAST(CAST(ts AS DATE) AS VARCHAR))
      |ORDER BY event_type, day""".stripMargin

  /** q84: SESSION PATH transitions — the Markov-chain view of the
    * event log: for every (from -> to) consecutive pair WITHIN a
    * session (q37's 30-min gap rule), the transition count and the
    * number of distinct sessions exhibiting it. Computed entirely
    * inside the single user_id window pass: the successor row is
    * `lead`, and a transition is intra-session iff the successor's
    * new-session flag is 0 — no second (user, session) exchange, no
    * self-join. The output is |event_types|² rows.
    */
  def q84SessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, 0)
    Tables(spark, dir).events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") >
            SessionOps.GAP_MINUTES * 60L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_idx", sum("new_sess").over(cum))
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .withColumn("next_new", lead(col("new_sess"), 1).over(byUser))
      .filter(col("next_type").isNotNull && col("next_new") === 0L)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"),
        countDistinct(col("user_id"), col("sess_idx")).as("n_sessions"))
  }

  val q84Sql: String =
    s"""WITH f AS (
      |  SELECT *,
      |    CASE WHEN prev_us IS NULL
      |           OR epoch_us(ts) - prev_us > ${SessionOps.GAP_MINUTES * 60L * 1000000L}
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM (
      |    SELECT user_id, event_id, ts, event_type,
      |      lag(epoch_us(ts)) OVER w AS prev_us
      |    FROM events
      |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))),
      |s AS (
      |  SELECT *,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx,
      |    lead(event_type) OVER w AS next_type,
      |    lead(new_sess) OVER w AS next_new
      |  FROM f
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT event_type AS from_type, next_type AS to_type,
      |  count(*) AS n_transitions,
      |  CAST(count(DISTINCT (user_id, sess_idx)) AS BIGINT) AS n_sessions
      |FROM s WHERE next_type IS NOT NULL AND next_new = 0
      |GROUP BY event_type, next_type
      |ORDER BY from_type, to_type""".stripMargin

  /** q85 feature-binning width. */
  val N_BINS = 10

  /** q85: GLOBAL FEATURE BINNING — per-user spend features with their
    * global decile and percent-rank, the normalization step of an ML
    * feature pipeline. The naive formulation is `ntile(10) OVER (ORDER
    * BY ...)` — a no-partition window that funnels every row through
    * ONE task. Here the global rank comes from
    * graft.operators.GlobalRank (range-repartition + per-partition
    * offsets — fully parallel), and ntile/percent_rank are integer
    * arithmetic on (rank, n): bucket sizes follow the SQL-standard
    * remainder-to-front rule, so the output is identical to the window
    * builtin the oracle uses.
    */
  def q85FeatureBinning(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables(spark, dir).events
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        Exact.sumExact(col("value")).as("total_value"))
    val (ranked, n) = graft.operators.GlobalRank.withRowNumberAndCount(
      perUser, "r", col("total_value"), col("user_id"))
    val base = n / N_BINS
    val rem = n % N_BINS
    val cut = rem * (base + 1)
    // ceil(a/b) over positive longs, in exact integer arithmetic
    def ceilDiv(a: Column, b: Long): Column =
      floor((a + lit(b - 1)) / lit(b.toDouble)).cast("long")
    val decile =
      if (base == 0) col("r") // degenerate n < N_BINS: one row per bin
      else when(col("r") <= cut, ceilDiv(col("r"), base + 1))
        .otherwise(lit(rem) + ceilDiv(col("r") - lit(cut), base))
    val pct =
      if (n == 1) lit(0.0)
      else (col("r") - lit(1L)).cast("double") / lit((n - 1).toDouble)
    ranked
      .withColumn("decile", decile)
      .withColumn("pct_rank", pct)
      .select("user_id", "n_events", "total_value", "decile", "pct_rank")
  }

  val q85Sql: String =
    s"""WITH pu AS (
      |  SELECT user_id, count(*) AS n_events,
      |    ${Exact.sumSql("value")} AS total_value
      |  FROM events GROUP BY user_id)
      |SELECT user_id, n_events, total_value,
      |  CAST(ntile($N_BINS) OVER (ORDER BY total_value, user_id) AS BIGINT)
      |    AS decile,
      |  percent_rank() OVER (ORDER BY total_value, user_id) AS pct_rank
      |FROM pu ORDER BY user_id""".stripMargin

  /** q88: PEAK CONCURRENT SESSIONS per day — the interval-overlap
    * maximum a capacity planner asks of the session table: each q37
    * session becomes a +1 delta at its start and a -1 delta just after
    * its (inclusive) end, the deltas are swept in global time order
    * with a running sum, and each day reports its maximum. The sweep
    * is the textbook case for an ORDER-BY-only window — and therefore
    * runs through GlobalRank.withRunningSum (range repartition +
    * per-partition offsets), not a one-task global window. The -1
    * sorts before the +1 at equal timestamps (delta ascending), so a
    * session starting the instant after another expires never
    * double-counts.
    */
  def q88PeakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, 0)
    val sess = Tables(spark, dir).events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") >
            SessionOps.GAP_MINUTES * 60L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_idx", sum("new_sess").over(cum))
      .groupBy("user_id", "sess_idx")
      .agg(min("us").as("start_us"), max("us").as("end_us"))
    // both deltas from ONE pass over the session table (a union of two
    // selects would recompute the windowed sessionization twice)
    val deltas = sess
      .select(col("user_id"), col("sess_idx"),
        explode(array(
          struct(col("start_us").as("us"), lit(1L).as("delta")),
          struct((col("end_us") + 1L).as("us"), lit(-1L).as("delta")))).as("d"))
      .select(col("user_id"), col("sess_idx"), col("d.us"), col("d.delta"))
    graft.operators.GlobalRank
      .withRunningSum(deltas, "conc", col("delta"),
        col("us"), col("delta"), col("user_id"), col("sess_idx"))
      .groupBy(date_format(timestamp_micros(col("us")), "yyyy-MM-dd").as("day"))
      .agg(max("conc").as("peak_concurrency"), count(lit(1)).as("n_deltas"))
  }

  val q88Sql: String =
    s"""WITH f AS (
      |  SELECT *,
      |    CASE WHEN prev_us IS NULL
      |           OR us - prev_us > ${SessionOps.GAP_MINUTES * 60L * 1000000L}
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM (
      |    SELECT user_id, event_id, epoch_us(ts) AS us,
      |      lag(epoch_us(ts)) OVER w AS prev_us
      |    FROM events
      |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))),
      |s AS (
      |  SELECT *,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      |  FROM f),
      |sess AS (
      |  SELECT user_id, sess_idx, min(us) AS start_us, max(us) AS end_us
      |  FROM s GROUP BY user_id, sess_idx),
      |deltas AS (
      |  SELECT user_id, sess_idx, start_us AS us, 1 AS delta FROM sess
      |  UNION ALL
      |  SELECT user_id, sess_idx, end_us + 1 AS us, -1 AS delta FROM sess),
      |sweep AS (
      |  SELECT us,
      |    sum(delta) OVER (ORDER BY us, delta, user_id, sess_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      |  FROM deltas)
      |SELECT strftime(make_timestamp(us), '%Y-%m-%d') AS day,
      |  CAST(max(conc) AS BIGINT) AS peak_concurrency,
      |  count(*) AS n_deltas
      |FROM sweep GROUP BY 1 ORDER BY day""".stripMargin

  /** q89 rolling-window width in days (window = [end-6, end]). */
  val ROLL_DAYS = 7

  /** q89: ROLLING 7-DAY DISTINCT USERS — the sliding-window unique
    * count behind every DAU/WAU dashboard, computed exactly: each
    * (user, active day) pair is fanned out to the ROLL_DAYS window
    * ends it contributes to (a BOUNDED explode — the window width,
    * not the data), then one distinct count per window end. The log
    * first collapses to |users x days| before the fanout, so the
    * exploded table is window-width x that — never window-width x
    * events. Exact by construction at any scale; the HLL-sketch
    * variant for wider windows is operators/DistinctSketch.
    */
  def q89RollingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables(spark, dir).events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val maxDay = broadcast(ud.agg(max("day").as("max_day")))
    ud.withColumn("win_end",
        explode(sequence(col("day"), date_add(col("day"), ROLL_DAYS - 1),
          expr("interval 1 day"))))
      .crossJoin(maxDay)
      .filter(col("win_end") <= col("max_day"))
      .groupBy(col("win_end").cast("string").as("win_end"))
      .agg(countDistinct("user_id").as("n_users"))
  }

  val q89Sql: String =
    s"""WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |mx AS (SELECT max(day) AS max_day FROM ud),
      |fan AS (
      |  SELECT ud.user_id, CAST(w.win_end AS DATE) AS win_end
      |  FROM ud
      |  CROSS JOIN unnest(generate_series(ud.day,
      |    ud.day + INTERVAL '${ROLL_DAYS - 1} days',
      |    INTERVAL '1 day')) AS w(win_end)
      |  CROSS JOIN mx
      |  WHERE CAST(w.win_end AS DATE) <= mx.max_day)
      |SELECT CAST(win_end AS VARCHAR) AS win_end,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM fan GROUP BY win_end
      |ORDER BY win_end""".stripMargin

  /** q310: SLIDING-WINDOW DISTINCT VIA DAILY HLL SKETCHES — q89's
    * exact WAU answered the sketch way: ONE tiny HLL per calendar day
    * (built in a single pass, kilobytes each), every window estimate a
    * union of 7 sketch rows — the shape that scales to 90-day MAU at
    * 100 TB, where q89's |users×days| fanout stops being free but the
    * sketch table stays |days|-sized forever. Gate = exact count (the
    * q89 recompute) + the estimate's 3-SE error-bound flag, the
    * q260/q295 convention (DuckDB's HLL is a different implementation,
    * so the bound — not the estimate — is the cross-engine contract).
    */
  def q310SlidingHll(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.DistinctSketch
    val ud = Tables(spark, dir).events
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val daily = DistinctSketch.sketchBy(ud, "user_id", "day")
    val maxDay = broadcast(daily.agg(max("day").as("max_day")))
    val fanned = daily
      .withColumn("win_end",
        explode(sequence(col("day"), date_add(col("day"), ROLL_DAYS - 1),
          expr("interval 1 day"))))
      .crossJoin(maxDay)
      .filter(col("win_end") <= col("max_day"))
      .drop("day", "max_day")
    val est = DistinctSketch.rollup(fanned, "win_end")
      .select(col("win_end").cast("string").as("win_end"),
        col("n_distinct_est"))
    q89RollingDistinct(spark, dir)
      .join(est, "win_end")
      .select(col("win_end"), col("n_users").as("n_exact"),
        (abs(col("n_distinct_est") - col("n_users")) <=
          col("n_users") * 0.05).as("within_3se"))
  }

  val q310Sql: String =
    s"""WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |mx AS (SELECT max(day) AS max_day FROM ud),
      |fan AS (
      |  SELECT ud.user_id, CAST(w.win_end AS DATE) AS win_end
      |  FROM ud
      |  CROSS JOIN unnest(generate_series(ud.day,
      |    ud.day + INTERVAL '${ROLL_DAYS - 1} days',
      |    INTERVAL '1 day')) AS w(win_end)
      |  CROSS JOIN mx
      |  WHERE CAST(w.win_end AS DATE) <= mx.max_day)
      |SELECT CAST(win_end AS VARCHAR) AS win_end,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
      |  TRUE AS within_3se
      |FROM fan GROUP BY win_end
      |ORDER BY win_end""".stripMargin

  /** q90: ORDER-TO-SHIP LATENCY percentiles per order priority — the
    * operational-SLA report: days between order and line-item ship
    * date, summarized as n/mean/p50/p90/p99/min/max through the
    * bucket-prune distributed quantile (no per-group total sort; see
    * operators/DistributedQuantile). The fact-fact join shuffles on
    * the order key — the natural co-partition key for both tables at
    * 100 TB (and a bucketed layout makes it exchange-free).
    */
  def q90ShipLatency(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // the quantile operator scans its input three times (bounds,
    // histogram, located buckets); pin the ~16-byte projection so the
    // fact-fact join runs ONCE, not 3x (same reasoning as q65)
    val lat = t.lineitem.select(col("l_orderkey"), col("l_shipdate"))
      .join(t.orders.select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate"))
          .cast("double").as("lat_days"))
      .transform(graft.operators.Pins.pin)
    graft.operators.DistributedQuantile
      .describe(lat, Seq("o_orderpriority"), "lat_days",
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      .select(col("o_orderpriority"), col("n"), col("mean"),
        col("min").cast("long").as("min_days"),
        col("p50"), col("p90"), col("p99"),
        col("max").cast("long").as("max_days"))
  }

  val q90Sql: String =
    s"""WITH lat AS (
      |  SELECT o_orderpriority,
      |    CAST(date_diff('day', o_orderdate, l_shipdate) AS DOUBLE) AS lat_days
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |SELECT o_orderpriority, count(*) AS n,
      |  ${Exact.meanSql("lat_days")} AS mean,
      |  CAST(min(lat_days) AS BIGINT) AS min_days,
      |  quantile_cont(lat_days, 0.5) AS p50,
      |  quantile_cont(lat_days, 0.9) AS p90,
      |  quantile_cont(lat_days, 0.99) AS p99,
      |  CAST(max(lat_days) AS BIGINT) AS max_days
      |FROM lat GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q98: A/B EXPERIMENT READOUT — Welch's t statistic on event value
    * between two deterministic variants (user_id parity standing in
    * for the assignment hash), per event type. One map-side-combined
    * conditional aggregation over the log — counts and sums only cross
    * the shuffle, |types| rows out.
    *
    * Cross-engine determinism: means and variances derive from
    * DECIMAL-exact conditional sums of value and value² (the same
    * pattern as Exact.stddevExact), so the final t is a short fixed
    * sequence of IEEE ops on bit-identical inputs.
    */
  def q98AbWelch(spark: SparkSession, dir: String): DataFrame = {
    val isB = col("user_id") % 2 === 1
    def n(v: Boolean) = sum(when(if (v) isB else !isB, 1L).otherwise(0L))
    def s1(v: Boolean) =
      sum(when(if (v) isB else !isB, Exact.dec(col("value")))).cast("double")
    def s2(v: Boolean) =
      sum(when(if (v) isB else !isB, Exact.dec(col("value") * col("value"))))
        .cast("double")
    Tables(spark, dir).events
      .groupBy("event_type")
      .agg(n(false).as("n_a"), n(true).as("n_b"),
        s1(false).as("_s1a"), s1(true).as("_s1b"),
        s2(false).as("_s2a"), s2(true).as("_s2b"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        (col("_s1a") / col("n_a")).as("mean_a"),
        (col("_s1b") / col("n_b")).as("mean_b"),
        ((col("_s1a") / col("n_a") - col("_s1b") / col("n_b")) /
          sqrt(
            (col("_s2a") - col("_s1a") * col("_s1a") / col("n_a")) /
              (col("n_a") - 1) / col("n_a") +
            (col("_s2b") - col("_s1b") * col("_s1b") / col("n_b")) /
              (col("n_b") - 1) / col("n_b"))).as("t_welch"))
  }

  val q98Sql: String =
    """WITH s AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS s1a,
      |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS s1b,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(value * value AS DECIMAL(18,4)) END) AS DOUBLE) AS s2a,
      |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN CAST(value * value AS DECIMAL(18,4)) END) AS DOUBLE) AS s2b
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n_a, n_b,
      |  s1a / n_a AS mean_a, s1b / n_b AS mean_b,
      |  (s1a / n_a - s1b / n_b) /
      |    sqrt((s2a - s1a * s1a / n_a) / (n_a - 1) / n_a
      |       + (s2b - s1b * s1b / n_b) / (n_b - 1) / n_b) AS t_welch
      |FROM s ORDER BY event_type""".stripMargin

  /** q99: DAILY ANOMALY SCAN — per event type, each day's count
    * z-scored against that type's own daily mean/std; |z| > 2 flags
    * the anomaly. The log collapses to |types x days| rows in one
    * map-side-combined count; the mean/std window runs on that tiny
    * table, never the log. All inputs to the z are integers (counts),
    * so mean/std/z are IEEE-deterministic with no decimal machinery.
    */
  def q99AnomalyZscore(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val byType = Window.partitionBy("event_type")
    daily
      .withColumn("_nd", count(lit(1)).over(byType))
      .withColumn("_s1", sum("n_events").over(byType))
      .withColumn("_s2", sum(col("n_events") * col("n_events")).over(byType))
      .withColumn("_mean", col("_s1").cast("double") / col("_nd"))
      .withColumn("_std", sqrt(
        (col("_s2") - col("_s1").cast("double") * col("_s1") / col("_nd")) /
          (col("_nd") - 1)))
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("n_events"),
        ((col("n_events") - col("_mean")) / col("_std")).as("z"),
        (abs((col("n_events") - col("_mean")) / col("_std")) > 2.0)
          .as("is_anomaly"))
  }

  val q99Sql: String =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, day, n_events,
      |    count(*) OVER (PARTITION BY event_type) AS nd,
      |    sum(n_events) OVER (PARTITION BY event_type) AS s1,
      |    sum(n_events * n_events) OVER (PARTITION BY event_type) AS s2
      |  FROM d)
      |SELECT event_type, CAST(day AS VARCHAR) AS day, n_events,
      |  (n_events - CAST(s1 AS DOUBLE) / nd) /
      |    sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / nd) / (nd - 1)) AS z,
      |  abs((n_events - CAST(s1 AS DOUBLE) / nd) /
      |    sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / nd) / (nd - 1))) > 2.0 AS is_anomaly
      |FROM w ORDER BY event_type, day""".stripMargin

  /** q104 activity-interval length (microseconds): an event keeps its
    * user "active" for this long.
    */
  val ACTIVE_WINDOW_US: Long = 30L * 60L * 1000000L

  /** q104: INTERVAL-UNION ACTIVE TIME — per user, the total length of
    * the union of per-event activity intervals [ts, ts+30min): the
    * "time actually spent" metric that naive (last-first) spans
    * overstate and event counts understate. Because every interval has
    * the SAME length, the union telescopes into one lead() window pass
    * — each event contributes min(gap_to_next, window) and the last
    * contributes the full window; all integer microseconds, exact in
    * both engines.
    */
  def q104ActiveTime(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables(spark, dir).events
      .withColumn("next_us", lead(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("covered",
        when(col("next_us").isNull, ACTIVE_WINDOW_US)
          .otherwise(least(col("next_us") - unix_micros(col("ts")),
            lit(ACTIVE_WINDOW_US))))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("covered").as("active_us"))
  }

  val q104Sql: String =
    s"""WITH g AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |                             ORDER BY ts, event_id) AS next_us
      |  FROM events)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CASE WHEN next_us IS NULL THEN $ACTIVE_WINDOW_US
      |       ELSE least(next_us - us, $ACTIVE_WINDOW_US) END) AS BIGINT)
      |    AS active_us
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q105: BEHAVIORAL ENTROPY — Shannon entropy of each user's
    * event-type distribution (the engagement-diversity feature of a
    * churn/recommendation model). The log collapses to |users x types|
    * counts in one map-side-combined pass; entropy sums micro-nat
    * integer terms floor(c*ln(n/c)/n*1e6 + 0.5) — ln on identical
    * doubles (exact int->double casts, one exact division), so the
    * result is engine- and order-independent.
    */
  def q105UserEntropy(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir).events
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
    val byUser = Window.partitionBy("user_id")
    counts
      .withColumn("n", sum("c").over(byUser))
      .withColumn("_t",
        floor(col("c") * log(col("n").cast("double") / col("c")) / col("n")
          * 1e6 + 0.5).cast("long"))
      .groupBy("user_id")
      .agg(sum("c").as("n_events"), count(lit(1)).as("n_types"),
        sum("_t").as("_s"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        (col("_s").cast("double") / 1e6).as("entropy_nats"))
  }

  val q105Sql: String =
    """WITH c AS (
      |  SELECT user_id, event_type, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT user_id, c, sum(c) OVER (PARTITION BY user_id) AS n
      |  FROM c)
      |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
      |  count(*) AS n_types,
      |  CAST(sum(CAST(floor(c * ln(CAST(n AS DOUBLE) / c) / n * 1e6 + 0.5)
      |                AS BIGINT)) AS DOUBLE) / 1e6 AS entropy_nats
      |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q107: SEMI-STRUCTURED EXTRACTION — the JSON `props` payload
    * parsed with an EXPLICIT schema (`from_json(props, "k INT")`), then
    * aggregated per event type. Schema-on-read done the scale-right
    * way: a declared schema keeps the parse inside whole-stage codegen
    * and makes malformed payloads a countable column (null k), whereas
    * `schema_of_json` over the data is a full extra scan and a string
    * regex surfaces no type errors. One map-side-combined aggregation;
    * the log is scanned once reading only (event_type, props).
    */
  def q107JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").cast("long").as("k"))
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("k").isNotNull, 1L).otherwise(0L)).as("n_with_k"),
        sum("k").as("sum_k"),
        min("k").as("min_k"),
        max("k").as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))
  }

  val q107Sql: String =
    """WITH x AS (
      |  SELECT event_type, CAST(props ->> 'k' AS BIGINT) AS k FROM events)
      |SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_with_k,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  min(k) AS min_k, max(k) AS max_k,
      |  count(DISTINCT k) AS n_distinct_k
      |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q110: SCD TYPE-2 HISTORY — the events log read as a CDC stream of
    * per-user attribute changes (the JSON payload's k), compacted into
    * the classic slowly-changing-dimension shape: one row per attribute
    * VERSION with [valid_from, valid_to) bounds, open row flagged
    * current. Consecutive no-op changes collapse via lag(); version
    * close times come from lead() over the change rows. Both windows
    * share ONE user_id shuffle (the second runs on the filtered change
    * set, which preserves the clustering), and the output is
    * |versions|-sized — the log never leaves its partitioning. The
    * q49/q66 compaction family's missing third member: latest-by-key,
    * snapshot diff, and now full history.
    */
  def q110Scd2History(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").cast("long").as("attr"))
    val changes = ev
      .withColumn("prev", lag("attr", 1).over(byUser))
      .filter(col("prev").isNull || col("attr") =!= col("prev"))
    changes
      .withColumn("next_us", lead("us", 1).over(byUser))
      .select(col("user_id"), col("attr"), col("us").as("valid_from_us"),
        // open rows close at the conventional SCD2 sentinel instead of
        // NULL: a nullable BIGINT crosses the pandas fetch as float64
        // and would break the int-exact gate compare
        coalesce(col("next_us"), lit(SCD2_OPEN_US)).as("valid_to_us"),
        col("next_us").isNull.as("is_current"))
  }

  /** SCD2 open-row sentinel: 9999-12-31T23:59:59Z in epoch micros. */
  val SCD2_OPEN_US = 253402300799000000L

  val q110Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CAST(props ->> 'k' AS BIGINT) AS attr
      |  FROM events),
      |c AS (
      |  SELECT *, lag(attr) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |    AS prev
      |  FROM e),
      |ch AS (
      |  SELECT user_id, event_id, attr, us FROM c
      |  WHERE prev IS NULL OR attr <> prev)
      |SELECT user_id, attr, us AS valid_from_us,
      |  coalesce(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id),
      |           253402300799000000) AS valid_to_us,
      |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
      |    AS is_current
      |FROM ch ORDER BY user_id, valid_from_us, attr""".stripMargin

  /** q118 bot rule thresholds: flagged = at least BOT_MIN_EVENTS events
    * AND a median inter-event gap at or under BOT_MAX_MED_GAP_US.
    */
  val BOT_MIN_EVENTS = 60L
  val BOT_MAX_MED_GAP_US = 21600000000L // 6 hours

  /** q118: BOT / ABUSE SCORING — the rule-based automation filter a
    * training-data pipeline runs before ingesting user-generated
    * content: per user, event volume, type diversity, active span,
    * exact median inter-event gap, and event rate, with a flag from
    * fixed volume+cadence thresholds. One user_id shuffle (the shared
    * per-user key of the whole event family): a lead() window for the
    * gaps, then one aggregate. The median is Spark's exact interpolated
    * percentile == DuckDB quantile_cont (integer micros in, dyadic
    * .0/.5 values out — exact in both engines); the rate is quantized
    * to integer milli-events-per-minute.
    */
  def q118BotScore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
    val byUser = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    val agg = ev.withColumn("nxt", lead("tus", 1).over(byUser))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        min("tus").as("t0"), max("tus").as("t1"),
        percentile(col("nxt") - col("tus"), lit(0.5)).as("med_gap_us"))
    // single-event users have no gaps: med/rate are pinned to -1/0
    // sentinels instead of NULL (a nullable BIGINT degrades to float64
    // in the gate's pandas fetch — the q110 lesson)
    agg.select(col("user_id"), col("n_events"), col("n_types"),
      expr("(t1 - t0) div 1000000").as("span_sec"),
      coalesce(col("med_gap_us"), lit(-1.0)).as("med_gap_us"),
      when(col("t1") > col("t0"),
        floor(col("n_events") * lit(6e7) / (col("t1") - col("t0")) * lit(1e3) + lit(0.5))
          .cast("long")).otherwise(lit(0L)).as("events_per_min_milli"),
      (col("n_events") >= BOT_MIN_EVENTS &&
        coalesce(col("med_gap_us"), lit(-1.0)) <= lit(BOT_MAX_MED_GAP_US.toDouble) &&
        col("med_gap_us").isNotNull).as("is_bot"))
  }

  val q118Sql: String =
    s"""WITH o AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
      |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nxt
      |  FROM events),
      |a AS (
      |  SELECT user_id,
      |    CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
      |    min(tus) AS t0, max(tus) AS t1,
      |    quantile_cont(nxt - tus, 0.5) AS med_gap_us
      |  FROM o GROUP BY user_id)
      |SELECT user_id, n_events, n_types,
      |  (t1 - t0) // 1000000 AS span_sec,
      |  coalesce(med_gap_us, -1.0) AS med_gap_us,
      |  CASE WHEN t1 > t0
      |    THEN CAST(floor(n_events * 6e7 / (t1 - t0) * 1e3 + 0.5) AS BIGINT)
      |    ELSE 0 END AS events_per_min_milli,
      |  n_events >= $BOT_MIN_EVENTS AND med_gap_us IS NOT NULL
      |    AND med_gap_us <= ${BOT_MAX_MED_GAP_US}.0 AS is_bot
      |FROM a ORDER BY user_id""".stripMargin

  /** q131 interval half-width: each event claims [ts, ts+30min). */
  val MERGE_INTERVAL_MIN = 30

  /** q131: INTERVAL MERGE (coalesce) — each event claims a 30-minute
    * activity interval; overlapping intervals per user merge into
    * maximal spans (the general interval-algebra union, in contrast to
    * q104's same-length telescoping trick which only needs a lead()).
    * The classic two-window pass on ONE user_id shuffle: a new-span
    * flag where the start exceeds the running max of all previous
    * ends, a running sum of flags numbering the spans, then one
    * aggregate per (user, span). Works for arbitrary interval lengths
    * — the shape sessionization, downtime-merge, and meeting-coalesce
    * problems all share.
    */
  def q131IntervalMerge(spark: SparkSession, dir: String): DataFrame = {
    val halfH = MERGE_INTERVAL_MIN * 60L * 1000000L
    val iv = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) + halfH).as("e"))
    val byUser = Window.partitionBy("user_id").orderBy(col("s"), col("event_id"))
    val flagged = iv
      .withColumn("prev_max_e",
        max(col("e")).over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_max_e").isNull || col("s") > col("prev_max_e"), 1L)
          .otherwise(0L))
      .withColumn("span_id", sum("new_span").over(byUser))
    flagged.groupBy("user_id", "span_id")
      .agg(min("s").as("start_us"), max("e").as("end_us"),
        count(lit(1)).as("n_events"))
  }

  val q131Sql: String = {
    val halfH = MERGE_INTERVAL_MIN * 60L * 1000000L
    s"""WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s,
      |    epoch_us(ts) + $halfH AS e
      |  FROM events),
      |f AS (
      |  SELECT *,
      |    max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS prev_max_e
      |  FROM iv),
      |g AS (
      |  SELECT *, CASE WHEN prev_max_e IS NULL OR s > prev_max_e
      |                 THEN 1 ELSE 0 END AS new_span
      |  FROM f),
      |sp AS (
      |  SELECT *, sum(new_span) OVER (PARTITION BY user_id
      |    ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) AS span_id
      |  FROM g)
      |SELECT user_id, CAST(span_id AS BIGINT) AS span_id,
      |  min(s) AS start_us, max(e) AS end_us,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM sp GROUP BY user_id, span_id
      |ORDER BY user_id, span_id""".stripMargin
  }

  /** q132 labeling: activity window after the cutoff defining churn. */
  val CHURN_HORIZON_DAYS = 7

  /** q132: CHURN LABEL GENERATION — the (features, label) table a churn
    * model trains on, generated leak-free from the event log: for every
    * user active BEFORE the q66 cutoff, pre-cutoff behavioral features
    * (volume, type diversity, exact spend, recency) and a label =
    * "no activity in the CHURN_HORIZON_DAYS after the cutoff". One
    * conditional-aggregation pass — the before/after split rides the
    * same gated-aggregate trick as q66/q126, so feature extraction and
    * labeling cost a single |users|-sized shuffle and cannot leak
    * post-cutoff signal into features by construction.
    */
  def q132ChurnLabels(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit(graft.queries.SessionOps.DIFF_CUTOFF).cast("timestamp")
    val horizon = CHURN_HORIZON_DAYS * 86400L * 1000000L
    val cutUs = unix_micros(cutoff)
    val ev = Tables(spark, dir).events
    ev.groupBy("user_id")
      .agg(
        sum(when(col("ts") < cutoff, 1L).otherwise(0L)).as("n_before"),
        countDistinct(when(col("ts") < cutoff, col("event_type")))
          .as("types_before"),
        sum(when(col("ts") < cutoff, Exact.dec(col("value"))))
          .cast("double").as("value_before"),
        max(when(col("ts") < cutoff, unix_micros(col("ts")))).as("last_us"),
        sum(when(unix_micros(col("ts")).between(cutUs, cutUs + horizon - 1), 1L)
          .otherwise(0L)).as("n_window"))
      .filter(col("n_before") > 0)
      .select(col("user_id"), col("n_before"), col("types_before"),
        col("value_before"),
        (unix_micros(cutoff) - col("last_us")).as("recency_us"),
        (col("n_window") === 0).as("churned"))
  }

  val q132Sql: String = {
    val horizon = CHURN_HORIZON_DAYS * 86400L * 1000000L
    val cut = s"TIMESTAMP '${graft.queries.SessionOps.DIFF_CUTOFF}'"
    s"""SELECT user_id,
      |  CAST(sum(CASE WHEN ts < $cut THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
      |  CAST(count(DISTINCT CASE WHEN ts < $cut THEN event_type END) AS BIGINT)
      |    AS types_before,
      |  CAST(sum(CASE WHEN ts < $cut
      |    THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS value_before,
      |  epoch_us($cut) - max(CASE WHEN ts < $cut THEN epoch_us(ts) END)
      |    AS recency_us,
      |  sum(CASE WHEN epoch_us(ts) BETWEEN epoch_us($cut)
      |        AND epoch_us($cut) + $horizon - 1 THEN 1 ELSE 0 END) = 0
      |    AS churned
      |FROM events
      |GROUP BY user_id
      |HAVING sum(CASE WHEN ts < $cut THEN 1 ELSE 0 END) > 0
      |ORDER BY user_id""".stripMargin
  }

  /** q139: KAPLAN–MEIER SURVIVAL CURVE for within-day
    * time-to-conversion — the product-limit estimate of "how many
    * minutes from a user's first touch of the day until their first
    * purchase", with proper right-censoring: user-days with NO
    * purchase are censored at the last observed activity, not dropped
    * and not counted as converted (either of which is the classic
    * conversion-time bias). Subjects = (user, active day) pairs; the
    * whole subject table comes from ONE conditional aggregate over the
    * log (first event, last event, first purchase per user-day — a
    * single user_id-clustered shuffle, NO joins). The |subjects| table
    * collapses to the |distinct minute-durations| rollup (<= 1440
    * rows); the at-risk counts and the estimator run on THAT rollup
    * (an unpartitioned window — the q99 rollup-window shape, never the
    * log). The product S(t) = prod(1 - d_i/n_i) is carried as a SUM of
    * per-step micro-nat log terms (integer, order-independent),
    * exponentiated once at the end — identical in both engines; a
    * full-event step (d_i = n_i) uses a -1e12 micro-nat sentinel whose
    * exp underflows to exactly 0.0 in both engines.
    */
  def q139SurvivalKm(spark: SparkSession, dir: String): DataFrame = {
    val minUs = 60000000L
    val subjects = Tables(spark, dir).events
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .groupBy("user_id", "day")
      .agg(min("us").as("f"), max("us").as("l"),
        min(when(col("event_type") === "purchase", col("us"))).as("p"))
    val durs = subjects
      .select(
        when(col("p").isNotNull, expr(s"(p - f) div $minUs"))
          .otherwise(expr(s"(l - f) div $minUs")).as("dur_min"),
        when(col("p").isNotNull, 1L).otherwise(0L).as("ev"))
      .groupBy("dur_min")
      .agg(sum("ev").as("n_event"), sum(lit(1L) - col("ev")).as("n_censored"))
    val total = durs.agg(sum(col("n_event") + col("n_censored")).as("n"))
    val before = Window.orderBy("dur_min")
      .rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.orderBy("dur_min")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    durs.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("n") - coalesce(sum(col("n_event") + col("n_censored"))
          .over(before), lit(0L)))
      .withColumn("term",
        when(col("n_event") === 0L, 0L)
          .when(col("n_event") === col("n_risk"), lit(-1000000000000L))
          .otherwise(floor(
            log((col("n_risk") - col("n_event")).cast("double") /
              col("n_risk").cast("double")) * lit(1e6) + lit(0.5))
            .cast("long")))
      .withColumn("cum", sum("term").over(upto))
      .select(col("dur_min"), col("n_risk"), col("n_event"),
        col("n_censored"),
        floor(exp(col("cum").cast("double") / lit(1e6)) * lit(1e6) + lit(0.5))
          .cast("long").as("survival_micro"))
  }

  val q139Sql: String =
    """WITH sub AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
      |    CAST(min(epoch_us(ts)) AS BIGINT) AS f,
      |    CAST(max(epoch_us(ts)) AS BIGINT) AS l,
      |    CAST(min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
      |      AS BIGINT) AS p
      |  FROM events GROUP BY 1, 2),
      |d AS (
      |  SELECT CASE WHEN p IS NOT NULL THEN (p - f) // 60000000
      |              ELSE (l - f) // 60000000 END AS dur_min,
      |    CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM sub),
      |r AS (
      |  SELECT dur_min, CAST(sum(ev) AS BIGINT) AS n_event,
      |    CAST(sum(1 - ev) AS BIGINT) AS n_censored
      |  FROM d GROUP BY 1),
      |t AS (SELECT CAST(sum(n_event + n_censored) AS BIGINT) AS n FROM r),
      |w AS (
      |  SELECT dur_min, n_event, n_censored,
      |    n - CAST(coalesce(sum(n_event + n_censored) OVER (ORDER BY dur_min
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS n_risk
      |  FROM r CROSS JOIN t),
      |s AS (
      |  SELECT *, CASE WHEN n_event = 0 THEN 0
      |    WHEN n_event = n_risk THEN -1000000000000
      |    ELSE CAST(floor(ln(CAST(n_risk - n_event AS DOUBLE) /
      |      CAST(n_risk AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) END AS term
      |  FROM w),
      |c AS (
      |  SELECT dur_min, n_risk, n_event, n_censored,
      |    CAST(sum(term) OVER (ORDER BY dur_min
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM s)
      |SELECT dur_min, n_risk, n_event, n_censored,
      |  CAST(floor(exp(CAST(cum AS DOUBLE) / 1e6) * 1e6 + 0.5) AS BIGINT)
      |    AS survival_micro
      |FROM c ORDER BY dur_min""".stripMargin

  /** q140: each funnel step must follow the previous within this bound. */
  val FUNNEL_STEP_US: Long = 72L * 3600L * 1000000L

  /** q140: STRICT-ORDER WINDOW FUNNEL (the ClickHouse windowFunnel
    * shape): view -> click -> purchase, each step within
    * FUNNEL_STEP_US of the one before, earliest-qualifying timestamps.
    * Each step is a conditional min AFTER a co-partitioned join with
    * the previous step's table: every aggregate and every join hashes
    * on user_id, so past the first exchange the whole chain
    * co-partitions (and at 100 TB each step's scan prunes to its own
    * event_type slice — the step tables are |users|-sized, never the
    * log). This is the complement of q73's running-window funnel: q73
    * counts last-click conversions in one pass; q140 anchors a strict
    * multi-step sequence, which a single window pass cannot express.
    */
  def q140WindowFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t1_us"))
    val s2 = e.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("us") > col("t1_us") &&
        col("us") <= col("t1_us") + lit(FUNNEL_STEP_US))
      .groupBy("user_id").agg(min("us").as("t2_us"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("us") > col("t2_us") &&
        col("us") <= col("t2_us") + lit(FUNNEL_STEP_US))
      .groupBy("user_id").agg(min("us").as("t3_us"))
    s1.join(s2.select(col("user_id"), col("t2_us")), Seq("user_id"), "left")
      .join(s3.select(col("user_id"), col("t3_us")), Seq("user_id"), "left")
      .select(col("user_id"), col("t1_us"),
        coalesce(col("t2_us"), lit(-1L)).as("t2_us"),
        coalesce(col("t3_us"), lit(-1L)).as("t3_us"),
        (lit(1L) + when(col("t2_us").isNotNull, 1L).otherwise(0L) +
          when(col("t3_us").isNotNull, 1L).otherwise(0L)).as("step_reached"))
  }

  val q140Sql: String =
    s"""WITH e AS (
      |  SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS us
      |  FROM events),
      |s1 AS (
      |  SELECT user_id, CAST(min(us) AS BIGINT) AS t1_us
      |  FROM e WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id, CAST(min(us) AS BIGINT) AS t2_us
      |  FROM e JOIN s1 USING (user_id)
      |  WHERE event_type = 'click' AND us > t1_us
      |    AND us <= t1_us + $FUNNEL_STEP_US
      |  GROUP BY 1),
      |s3 AS (
      |  SELECT e.user_id, CAST(min(us) AS BIGINT) AS t3_us
      |  FROM e JOIN s2 USING (user_id)
      |  WHERE event_type = 'purchase' AND us > t2_us
      |    AND us <= t2_us + $FUNNEL_STEP_US
      |  GROUP BY 1)
      |SELECT s1.user_id, t1_us,
      |  coalesce(t2_us, -1) AS t2_us, coalesce(t3_us, -1) AS t3_us,
      |  1 + CASE WHEN t2_us IS NOT NULL THEN 1 ELSE 0 END +
      |    CASE WHEN t3_us IS NOT NULL THEN 1 ELSE 0 END AS step_reached
      |FROM s1
      |LEFT JOIN s2 USING (user_id)
      |LEFT JOIN s3 USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** q152: AUDIENCE OVERLAP MATRIX — for every pair of event types,
    * how many users do both, plus the Jaccard overlap of the two
    * audiences (the segment-overlap report behind targeting and
    * cannibalization analyses; swap "event type" for "data source" and
    * it is the corpus-membership overlap of a training mix). The log
    * collapses to one 0/1 flag vector per user (a single conditional
    * aggregate on the family's shared user_id key); every pairwise
    * intersection is then sum(f_a * f_b) over that |users| table —
    * all C(5,2) pairs + 5 marginals in ONE map-side-combined
    * aggregate, exploded from the 1-row result. NO per-pair self-join
    * of the log, NO distinct-pair explosion: integer flag products do
    * the set algebra.
    */
  def q152AudienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val types = PIVOT_TYPES
    val flags = Tables(spark, dir).events
      .groupBy("user_id")
      .agg(types.map(t =>
        max(when(col("event_type") === t, 1L).otherwise(0L)).as(s"f_$t")).head,
        types.tail.map(t =>
          max(when(col("event_type") === t, 1L).otherwise(0L)).as(s"f_$t")): _*)
    val pairs = for {
      i <- types.indices; j <- types.indices if i < j
    } yield (types(i), types(j))
    val aggs: Seq[Column] =
      types.map(t => sum(col(s"f_$t")).as(s"n_$t")) ++
        pairs.map { case (a, b) =>
          sum(col(s"f_$a") * col(s"f_$b")).as(s"both_${a}_$b")
        }
    val m = flags.agg(aggs.head, aggs.tail: _*)
    val entries = pairs.map { case (a, b) =>
      struct(lit(a).as("type_a"), lit(b).as("type_b"),
        col(s"n_$a").as("n_a"), col(s"n_$b").as("n_b"),
        col(s"both_${a}_$b").as("n_both"))
    }
    m.select(explode(array(entries: _*)).as("e"))
      .select(col("e.type_a").as("type_a"), col("e.type_b").as("type_b"),
        col("e.n_a").as("n_a"), col("e.n_b").as("n_b"),
        col("e.n_both").as("n_both"),
        floor(col("e.n_both") * lit(1e6) /
          (col("e.n_a") + col("e.n_b") - col("e.n_both")) + lit(0.5))
          .cast("long").as("jaccard_micro"))
  }

  val q152Sql: String = {
    val types = PIVOT_TYPES
    val flagDefs = types.map(t =>
      s"max(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS f_$t")
      .mkString(",\n    ")
    val pairs = for {
      i <- types.indices; j <- types.indices if i < j
    } yield (types(i), types(j))
    val sums = (types.map(t => s"CAST(sum(f_$t) AS BIGINT) AS n_$t") ++
      pairs.map { case (a, b) =>
        s"CAST(sum(f_$a * f_$b) AS BIGINT) AS both_${a}_$b"
      }).mkString(",\n    ")
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS type_a, '$b' AS type_b, n_$a AS n_a, n_$b AS n_b,
         |    both_${a}_$b AS n_both,
         |    CAST(floor(both_${a}_$b * 1e6 /
         |      (n_$a + n_$b - both_${a}_$b) + 0.5) AS BIGINT) AS jaccard_micro
         |  FROM m""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH f AS (
      |  SELECT user_id,
      |    $flagDefs
      |  FROM events GROUP BY user_id),
      |m AS (
      |  SELECT $sums
      |  FROM f)
      |SELECT * FROM (
      |  $rows)
      |ORDER BY type_a, type_b""".stripMargin
  }

  /** q155: TIME-WEIGHTED AVERAGE — per user, the average of `value`
    * weighted by how long each reading was in force (the integral of
    * the step function between events, over the observed span): the
    * correct aggregate for sampled gauges — billing meters, price
    * feeds, queue depths — where the plain mean over-weights bursts of
    * samples. One lead() pass on the family's shared user_id key gives
    * each reading its holding duration; one aggregate folds the exact
    * integer value-unit x microsecond products (the per-user integral
    * is bounded by span x max-unit — within int64 for any realistic
    * gauge; the final division is one IEEE op on exact integers).
    * Single-reading users have an empty span and degenerate to the
    * point value, spelled out identically in both engines.
    */
  def q155TimeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * lit(1e4) + lit(0.5)).cast("long").as("v_unit"))
      .withColumn("dur_us",
        coalesce(lead(col("us"), 1).over(byUser) - col("us"), lit(0L)))
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_readings"),
        min("us").as("first_us"), max("us").as("last_us"),
        sum(col("v_unit") * col("dur_us")).as("integral"),
        sum("dur_us").as("span_us"),
        // the last (zero-duration) reading's value, for the degenerate case
        max(struct(col("us"), col("event_id"), col("v_unit"))).as("lastr"))
      .select(col("user_id"), col("n_readings"), col("first_us"),
        col("last_us"),
        when(col("span_us") === 0L, col("lastr.v_unit") * lit(100L))
          .otherwise(floor(col("integral").cast("double") * lit(1e2) /
            col("span_us").cast("double") + lit(0.5)).cast("long"))
          .as("twa_micro"))
  }

  val q155Sql: String =
    s"""WITH e AS (
      |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS us,
      |    CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS v_unit
      |  FROM events),
      |d AS (
      |  SELECT *, coalesce(lead(us) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id) - us, 0) AS dur_us
      |  FROM e),
      |g AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_readings,
      |    CAST(min(us) AS BIGINT) AS first_us,
      |    CAST(max(us) AS BIGINT) AS last_us,
      |    CAST(sum(v_unit * dur_us) AS BIGINT) AS integral,
      |    CAST(sum(dur_us) AS BIGINT) AS span_us,
      |    CAST(arg_max(v_unit,
      |      (us - ${graft.queries.SessionOps.ORD_EPOCH_US}) * 1048576 + event_id)
      |      AS BIGINT) AS last_v
      |  FROM d GROUP BY user_id)
      |SELECT user_id, n_readings, first_us, last_us,
      |  CASE WHEN span_us = 0 THEN last_v * 100
      |       ELSE CAST(floor(CAST(integral AS DOUBLE) * 1e2 /
      |         CAST(span_us AS DOUBLE) + 0.5) AS BIGINT) END AS twa_micro
      |FROM g ORDER BY user_id""".stripMargin

  /** q322 DBSCAN parameters: neighborhood radius, core threshold
    * (neighbor count INCLUDING self), and the deterministic 1-in-20
    * event sample (the q257 convention — the oracle replays the exact
    * O(n²) definition, so the gated instance stays oracle-sized while
    * the operator itself is the grid join that scales).
    */
  val DBSCAN_EPS = 5.0
  val DBSCAN_MIN_PTS = 4L
  val DBSCAN_SAMPLE = 20

  /** Density contract for q322: fixed-eps DBSCAN on a DENSIFYING
    * corpus is semantically quadratic — the (value, hour) plane
    * saturates at ~263 eps-cells on this workload, so every new point
    * lands in an existing eps-ball and pairwise work grows ∝N² (the
    * sf0.1→sf1 ladder measured 20.5×). There is no sizing rule to
    * apply (eps IS the semantics), so the guard mirrors q313's
    * SEM_FIXED_MAX_POP instead: one grid-histogram aggregate bounds
    * the MEAN eps-cell population before the neighbor join, refusing
    * corpora past it rather than degrading silently. 4000 per cell
    * (~2e9 in-cell pairs worst case — hours, not forever) passes the
    * sf1 gate at 190 and a sf10 ladder probe at ~1.9k with headroom;
    * a genuinely growing stream must re-sample (DBSCAN_SAMPLE) or
    * re-scale eps to stay under it.
    */
  val DBSCAN_MAX_MEAN_CELL_POP = 4000.0

  /** q322: DBSCAN DENSITY CLUSTERING over the (value, hour-of-day)
    * event plane — the density-based clusterer (noise-robust, no k to
    * pick) that q63/q313's centroid cells cannot express. Classic
    * definition, deterministically resolved: CORE points have ≥
    * MIN_PTS neighbors within EPS (self included); clusters are the
    * connected components of the core-core neighbor graph (the
    * distributed pointer-jumping operator); BORDER points (non-core
    * within EPS of a core) attach to their smallest core cluster id —
    * the one classically order-dependent step, pinned order-free by
    * the min; everything else is NOISE (cluster −1).
    *
    * Scale shape: the neighbor pass is SpatialNeighbors' grid
    * equi-join (27-cell fanout, pairwise work bounded per cell — the
    * q257 machinery, z pinned to 0 for a 2-D space); distances
    * compare via IEEE sqrt, which is correctly-rounded and therefore
    * bit-identical in both engines.
    */
  def q322Dbscan(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{ConnectedComponents, SpatialNeighbors}
    val pts = Tables(spark, dir).events
      .filter(col("event_id") % DBSCAN_SAMPLE === 0)
      .select(col("event_id").as("pid"), col("value").as("px"),
        expr("CAST((unix_micros(ts) div 3600000000) % 24 AS DOUBLE)")
          .as("py"), lit(0.0).as("pz"))
      .transform(graft.operators.Pins.pin)
    // density guard (see DBSCAN_MAX_MEAN_CELL_POP): one tiny agg over
    // the checkpointed sample — the grid histogram SpatialNeighbors
    // would build anyway — refuses the quadratic regime fail-fast
    val meanPop = pts
      .groupBy(floor(col("px") / DBSCAN_EPS), floor(col("py") / DBSCAN_EPS))
      .count().agg(coalesce(avg("count"), lit(0.0))).head.getDouble(0)
    require(meanPop <= DBSCAN_MAX_MEAN_CELL_POP,
      f"q322 density guard: mean eps-cell population $meanPop%.0f exceeds " +
        f"$DBSCAN_MAX_MEAN_CELL_POP%.0f — fixed-eps DBSCAN is quadratic in " +
        "cell population; thin the sample or re-scale eps for this corpus")
    // dims = 2: the event plane is (value, hour) with pz pinned to 0 —
    // the 3-D grid's dz = ±1 cells matched nothing and tripled the
    // exploded probe rows (round 10)
    val nbr = SpatialNeighbors.withinRadius(
      pts.select(col("pid").as("a"), col("px").as("ax"),
        col("py").as("ay"), col("pz").as("az")), "ax", "ay", "az",
      pts.select(col("pid").as("b"), col("px").as("bx"),
        col("py").as("by"), col("pz").as("bz")), "bx", "by", "bz",
      DBSCAN_EPS, dims = 2)
      .select("a", "b")
      .transform(graft.operators.Pins.pin)
    // pin the (tiny) core set: it feeds both sides of the core-edge
    // join AND the label attach — unpinned, each evaluation re-ran the
    // degree rollup over the 688k-row neighbor table (round 10)
    val core = nbr.groupBy("a").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= DBSCAN_MIN_PTS)
      .select(col("a").as("pid"))
      .transform(graft.operators.Pins.pin)
    // Round 10 (guide §2.3: shuffle a lightweight proxy, not the full
    // pair set): EXACT cell contraction before the CC. Two core points
    // in the same square cell of side eps*0.707 are at most
    // eps*0.707*sqrt(2) < eps apart — a clique in the core-core graph —
    // so contracting each cell to its MIN core pid (supernode) and
    // running CC on the cross-cell quotient edges yields identical
    // clusters: the component minimum is itself a core pid, and its
    // own cell's supernode equals it. The CC input shrinks from every
    // core-core pair (341 k edges at sf0.1) to the distinct supernode
    // pairs (cell-adjacency bounded), and isolated supernodes fall
    // back to themselves exactly as isolated cores did. 0.707 is
    // strictly below 1/sqrt(2) so the clique bound holds with margin
    // against FP rounding.
    val cellSide = DBSCAN_EPS * 0.707
    val coreC = core.join(pts, "pid")
      .select(col("pid"), floor(col("px") / cellSide).as("cx"),
        floor(col("py") / cellSide).as("cy"))
    val superT = coreC.groupBy("cx", "cy").agg(min("pid").as("super"))
    val coreSuper = coreC.join(superT, Seq("cx", "cy"))
      .select(col("pid"), col("super"))
      .transform(graft.operators.Pins.pin)
    val superEdges = nbr
      .join(coreSuper.select(col("pid").as("a"), col("super").as("sa")), "a")
      .join(coreSuper.select(col("pid").as("b"), col("super").as("sb")), "b")
      .filter(col("sa") =!= col("sb"))
      .select(col("sa").as("u"), col("sb").as("v"))
    val comp = ConnectedComponents.components(superEdges, "u", "v")
    val coreLab = coreSuper.join(comp, col("super") === col("node"), "left")
      .select(col("pid"), coalesce(col("comp"), col("super")).as("cluster_id"))
    val borderLab = nbr
      .filter(col("a") =!= col("b"))
      .join(coreLab.select(col("pid").as("b"), col("cluster_id")), "b")
      .groupBy(col("a").as("pid"))
      .agg(min("cluster_id").as("b_cluster"))
    pts.select("pid")
      .join(coreLab.withColumnRenamed("cluster_id", "c_cluster"),
        Seq("pid"), "left")
      .join(borderLab, Seq("pid"), "left")
      .select(col("pid").as("event_id"),
        col("c_cluster").isNotNull.as("is_core"),
        coalesce(col("c_cluster"), col("b_cluster"), lit(-1L))
          .as("cluster_id"))
  }

  val q322Sql: String =
    s"""WITH RECURSIVE pts AS (
      |  SELECT event_id AS pid, value AS px,
      |    CAST((epoch_us(ts) // 3600000000) % 24 AS DOUBLE) AS py
      |  FROM events WHERE event_id % $DBSCAN_SAMPLE = 0),
      |nbr AS (
      |  SELECT a.pid AS a, b.pid AS b
      |  FROM pts a JOIN pts b
      |    ON sqrt((a.px - b.px) * (a.px - b.px)
      |          + (a.py - b.py) * (a.py - b.py)) <= $DBSCAN_EPS),
      |core AS (
      |  SELECT a AS pid FROM nbr GROUP BY a
      |  HAVING count(*) >= $DBSCAN_MIN_PTS),
      |ce AS (
      |  SELECT n.a AS u, n.b AS v FROM nbr n
      |  JOIN core ca ON ca.pid = n.a
      |  JOIN core cb ON cb.pid = n.b
      |  WHERE n.a < n.b),
      |edges AS (
      |  SELECT u AS a, v AS b FROM ce UNION SELECT v, u FROM ce),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (SELECT a AS pid, min(b) AS mn FROM reach GROUP BY a),
      |corelab AS (
      |  SELECT c.pid,
      |    CASE WHEN m.mn IS NULL THEN c.pid
      |         ELSE least(c.pid, m.mn) END AS cluster_id
      |  FROM core c LEFT JOIN comp m ON m.pid = c.pid),
      |borderlab AS (
      |  SELECT n.a AS pid, min(cl.cluster_id) AS b_cluster
      |  FROM nbr n JOIN corelab cl ON cl.pid = n.b
      |  WHERE n.a <> n.b
      |  GROUP BY n.a)
      |SELECT p.pid AS event_id,
      |  cl.pid IS NOT NULL AS is_core,
      |  coalesce(cl.cluster_id, bl.b_cluster, -1) AS cluster_id
      |FROM pts p
      |LEFT JOIN corelab cl ON cl.pid = p.pid
      |LEFT JOIN borderlab bl ON bl.pid = p.pid
      |ORDER BY p.pid""".stripMargin

  /** q347: TWO-GROUP LOG-RANK TEST — does time-to-conversion differ
    * between the A/B arms (q98's user-parity split) under q139's exact
    * subject construction (user-day, right-censored at last activity)?
    * The test every experiment with a time-to-event metric needs: at
    * each event time t, the observed group-1 events O1ₜ against the
    * hypergeometric expectation E1ₜ = dₜ·n1ₜ/nₜ and variance
    * Vₜ = dₜ·(n1ₜ/nₜ)·(1−n1ₜ/nₜ)·(nₜ−dₜ)/(nₜ−1); the statistic is
    * z = (ΣO1 − ΣE1)/√ΣV. Complements q139 (which estimates ONE
    * curve) and q98 (which compares MEANS and ignores censoring — the
    * classic bias this test exists to avoid).
    *
    * Scale shape: q139's — the subject table is one user_id-clustered
    * conditional aggregate over the log; risk sets and all test terms
    * run on the ≤1440-row distinct-duration rollup (unpartitioned
    * windows on a bounded rollup, never the log). Determinism: per-step
    * E1/V terms are micro-quantized BIGINTs (each one IEEE expression
    * over exact integer counts, identically associated in both
    * engines); the final z is one double expression over the three
    * integer sums.
    */
  def q347LogRank(spark: SparkSession, dir: String): DataFrame = {
    val minUs = 60000000L
    val subjects = Tables(spark, dir).events
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .groupBy("user_id", "day")
      .agg(min("us").as("f"), max("us").as("l"),
        min(when(col("event_type") === "purchase", col("us"))).as("p"))
      .select((col("user_id") % 2).as("grp"),
        when(col("p").isNotNull, expr(s"(p - f) div $minUs"))
          .otherwise(expr(s"(l - f) div $minUs")).as("dur_min"),
        when(col("p").isNotNull, 1L).otherwise(0L).as("ev"))
    val durs = subjects.groupBy("dur_min")
      .agg(sum(when(col("grp") === 1 && col("ev") === 1, 1L).otherwise(0L))
             .as("d1"),
        sum("ev").as("d"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("m1"),
        count(lit(1)).as("m"))
    val tot = durs.agg(sum("m").as("nn"), sum("m1").as("nn1"))
    val before = Window.orderBy("dur_min")
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = durs.crossJoin(broadcast(tot))
      .withColumn("n",
        col("nn") - coalesce(sum("m").over(before), lit(0L)))
      .withColumn("n1",
        col("nn1") - coalesce(sum("m1").over(before), lit(0L)))
    // per-step terms: quantize each to micro BEFORE the cross-step sum
    // (q139 convention — integer sums are order-independent)
    val nD = col("n").cast("double")
    val e1t = (col("d") * col("n1")).cast("double") / nD
    val vt = (col("d") * col("n1")).cast("double") / nD *
      ((col("n") - col("n1")).cast("double") / nD) *
      ((col("n") - col("d")).cast("double") / (col("n") - 1).cast("double"))
    risk
      .select(col("d1"),
        when(col("d") > 0,
          floor(e1t * lit(1e6) + lit(0.5)).cast("long")).otherwise(0L)
          .as("e1u"),
        when(col("d") > 0 && col("n") > 1,
          floor(vt * lit(1e6) + lit(0.5)).cast("long")).otherwise(0L)
          .as("vu"))
      .agg(sum("d1").as("o1"), sum("e1u").as("e1_micro"),
        sum("vu").as("v_micro"))
      .select(col("o1"), col("e1_micro"), col("v_micro"),
        floor((col("o1").cast("double") -
            col("e1_micro").cast("double") / lit(1e6)) /
          sqrt(col("v_micro").cast("double") / lit(1e6)) * lit(1e6) +
          lit(0.5)).cast("long").as("z_micro"))
  }

  val q347Sql: String =
    """WITH sub AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
      |    CAST(min(epoch_us(ts)) AS BIGINT) AS f,
      |    CAST(max(epoch_us(ts)) AS BIGINT) AS l,
      |    CAST(min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
      |      AS BIGINT) AS p
      |  FROM events GROUP BY 1, 2),
      |d0 AS (
      |  SELECT user_id % 2 AS grp,
      |    CASE WHEN p IS NOT NULL THEN (p - f) // 60000000
      |         ELSE (l - f) // 60000000 END AS dur_min,
      |    CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM sub),
      |r AS (
      |  SELECT dur_min,
      |    CAST(sum(CASE WHEN grp = 1 AND ev = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d1,
      |    CAST(sum(ev) AS BIGINT) AS d,
      |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
      |    CAST(count(*) AS BIGINT) AS m
      |  FROM d0 GROUP BY 1),
      |t AS (SELECT CAST(sum(m) AS BIGINT) AS nn,
      |             CAST(sum(m1) AS BIGINT) AS nn1 FROM r),
      |w AS (
      |  SELECT d1, d,
      |    nn - CAST(coalesce(sum(m) OVER (ORDER BY dur_min
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS n,
      |    nn1 - CAST(coalesce(sum(m1) OVER (ORDER BY dur_min
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS n1
      |  FROM r CROSS JOIN t),
      |terms AS (
      |  SELECT d1,
      |    CASE WHEN d > 0 THEN CAST(floor(
      |      CAST(d * n1 AS DOUBLE) / CAST(n AS DOUBLE) * 1e6 + 0.5)
      |      AS BIGINT) ELSE 0 END AS e1u,
      |    CASE WHEN d > 0 AND n > 1 THEN CAST(floor(
      |      CAST(d * n1 AS DOUBLE) / CAST(n AS DOUBLE) *
      |      (CAST(n - n1 AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE)) * 1e6 + 0.5)
      |      AS BIGINT) ELSE 0 END AS vu
      |  FROM w),
      |agg AS (
      |  SELECT CAST(sum(d1) AS BIGINT) AS o1,
      |    CAST(sum(e1u) AS BIGINT) AS e1_micro,
      |    CAST(sum(vu) AS BIGINT) AS v_micro
      |  FROM terms)
      |SELECT o1, e1_micro, v_micro,
      |  CAST(floor((CAST(o1 AS DOUBLE) - CAST(e1_micro AS DOUBLE) / 1e6) /
      |    sqrt(CAST(v_micro AS DOUBLE) / 1e6) * 1e6 + 0.5) AS BIGINT)
      |    AS z_micro
      |FROM agg""".stripMargin

  /** q348: NELSON–AALEN CUMULATIVE HAZARD — the counting-process
    * estimator over q139's exact subject table: Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ
    * with the Poisson-type variance Σ dᵢ(nᵢ−dᵢ)/nᵢ³. The KM complement
    * every survival report pairs with the q139 curve: Ĥ is additive
    * (mergeable across strata), better-behaved in small risk sets, and
    * exp(−Ĥ) bounds S(t) from above — the cross-check q139 alone
    * cannot give.
    *
    * Scale shape: identical to q139 — one user_id-clustered aggregate
    * to subjects, the ≤1440-row duration rollup, windows only on the
    * rollup. Per-step hazard terms are micro (1e-6) BIGINTs; variance
    * terms are pico (1e-12) BIGINTs (they decay as 1/n² and would
    * vanish on the micro grid); cumulative sums are integer windows.
    */
  def q348NelsonAalen(spark: SparkSession, dir: String): DataFrame = {
    val minUs = 60000000L
    val durs = Tables(spark, dir).events
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .groupBy("user_id", "day")
      .agg(min("us").as("f"), max("us").as("l"),
        min(when(col("event_type") === "purchase", col("us"))).as("p"))
      .select(
        when(col("p").isNotNull, expr(s"(p - f) div $minUs"))
          .otherwise(expr(s"(l - f) div $minUs")).as("dur_min"),
        when(col("p").isNotNull, 1L).otherwise(0L).as("ev"))
      .groupBy("dur_min")
      .agg(sum("ev").as("d"), count(lit(1)).as("m"))
    val tot = durs.agg(sum("m").as("nn"))
    val before = Window.orderBy("dur_min")
      .rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.orderBy("dur_min")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nD = col("n").cast("double")
    val dD = col("d").cast("double")
    durs.crossJoin(broadcast(tot))
      .withColumn("n",
        col("nn") - coalesce(sum("m").over(before), lit(0L)))
      .withColumn("hu",
        when(col("d") > 0,
          floor(dD / nD * lit(1e6) + lit(0.5)).cast("long")).otherwise(0L))
      .withColumn("vp",
        when(col("d") > 0,
          floor(dD / nD * ((col("n") - col("d")).cast("double") / nD) / nD *
            lit(1e12) + lit(0.5)).cast("long")).otherwise(0L))
      .select(col("dur_min"), col("n").as("n_risk"), col("d").as("n_event"),
        sum("hu").over(upto).as("cumhaz_micro"),
        sum("vp").over(upto).as("var_pico"))
  }

  val q348Sql: String =
    """WITH sub AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
      |    CAST(min(epoch_us(ts)) AS BIGINT) AS f,
      |    CAST(max(epoch_us(ts)) AS BIGINT) AS l,
      |    CAST(min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
      |      AS BIGINT) AS p
      |  FROM events GROUP BY 1, 2),
      |d0 AS (
      |  SELECT CASE WHEN p IS NOT NULL THEN (p - f) // 60000000
      |              ELSE (l - f) // 60000000 END AS dur_min,
      |    CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM sub),
      |r AS (
      |  SELECT dur_min, CAST(sum(ev) AS BIGINT) AS d,
      |    CAST(count(*) AS BIGINT) AS m
      |  FROM d0 GROUP BY 1),
      |t AS (SELECT CAST(sum(m) AS BIGINT) AS nn FROM r),
      |w AS (
      |  SELECT dur_min, d,
      |    nn - CAST(coalesce(sum(m) OVER (ORDER BY dur_min
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS n
      |  FROM r CROSS JOIN t),
      |terms AS (
      |  SELECT dur_min, n, d,
      |    CASE WHEN d > 0 THEN CAST(floor(CAST(d AS DOUBLE) /
      |      CAST(n AS DOUBLE) * 1e6 + 0.5) AS BIGINT) ELSE 0 END AS hu,
      |    CASE WHEN d > 0 THEN CAST(floor(CAST(d AS DOUBLE) /
      |      CAST(n AS DOUBLE) * (CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE)) /
      |      CAST(n AS DOUBLE) * 1e12 + 0.5) AS BIGINT) ELSE 0 END AS vp
      |  FROM w)
      |SELECT dur_min, n AS n_risk, d AS n_event,
      |  CAST(sum(hu) OVER (ORDER BY dur_min
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cumhaz_micro,
      |  CAST(sum(vp) OVER (ORDER BY dur_min
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS var_pico
      |FROM terms ORDER BY dur_min""".stripMargin

  /** q351 experiment cut: activity strictly before this is the
    * pre-period covariate, at-or-after is the experiment metric
    * (2024-01-16T00:00:00Z, mid-fixture). */
  val CUPED_CUT_US = 1705363200000000L

  /** q351: CUPED VARIANCE REDUCTION — the experimentation-platform
    * staple (Deng et al. 2013): per metric (event type), regress each
    * user's in-experiment value sum Y on their PRE-period sum X and
    * report how much variance the adjusted metric Y − θ(X − X̄) sheds
    * (θ = cov(X,Y)/var(X); reduction = ρ²). This is the power
    * calculation that decides whether an experiment needs 2 weeks or
    * 2 months — q98 tests the difference, q351 says how much cheaper
    * the test could be.
    *
    * Scale shape: one (type,user)-clustered conditional aggregate over
    * the log (the q139 subject idiom), then a per-type rollup of the
    * five cross-moments — two cascaded shuffles, both map-side
    * combined, |users| then |types| rows. Determinism: per-user sums
    * are BIGINT cents (one deterministic per-row quantization); the
    * five moment sums are BIGINT products of cents pairs (exact,
    * order-independent — cents² stays within 2^63 past 10⁷ users);
    * θ and the variances are double expressions over those exact
    * integers, identically associated in both engines.
    */
  def q351Cuped(spark: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("value") * 100 + lit(0.5)).cast("long")
    val perUser = Tables(spark, dir).events
      .groupBy("event_type", "user_id")
      .agg(sum(when(unix_micros(col("ts")) < CUPED_CUT_US, cents)
             .otherwise(0L)).as("x"),
        sum(when(unix_micros(col("ts")) >= CUPED_CUT_US, cents)
          .otherwise(0L)).as("y"))
    val m = perUser.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
    val n = col("n_users").cast("double")
    def d(c: String) = col(c).cast("double")
    // sample covariance/variance numerators: n*S2 - S1*S1' (exact
    // integers while inputs are < 2^52, then one double division)
    val covN = n * d("sxy") - d("sx") * d("sy")
    val varxN = n * d("sxx") - d("sx") * d("sx")
    val varyN = n * d("syy") - d("sy") * d("sy")
    val denom = n * (n - lit(1.0d))
    m.filter(col("n_users") > 1 && varxN > 0)
      .select(col("event_type"), col("n_users"),
        (covN / varxN).as("theta"),
        (varyN / denom).as("var_y_c2"),
        ((varyN - covN * covN / varxN) / denom).as("var_adj_c2"),
        floor(covN * covN / varxN / varyN * lit(1e6) + lit(0.5))
          .cast("long").as("rho2_micro"))
  }

  val q351Sql: String =
    s"""WITH u AS (
      |  SELECT event_type, user_id,
      |    CAST(sum(CASE WHEN epoch_us(ts) < $CUPED_CUT_US
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN epoch_us(ts) >= $CUPED_CUT_US
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM u GROUP BY 1)
      |SELECT event_type, n_users,
      |  (CAST(n_users AS DOUBLE) * CAST(sxy AS DOUBLE)
      |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |  (CAST(n_users AS DOUBLE) * CAST(sxx AS DOUBLE)
      |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
      |  (CAST(n_users AS DOUBLE) * CAST(syy AS DOUBLE)
      |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |  (CAST(n_users AS DOUBLE) * (CAST(n_users AS DOUBLE) - 1.0))
      |    AS var_y_c2,
      |  ((CAST(n_users AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
      |   - (CAST(n_users AS DOUBLE) * CAST(sxy AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) *
      |     (CAST(n_users AS DOUBLE) * CAST(sxy AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |     (CAST(n_users AS DOUBLE) * CAST(sxx AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) /
      |  (CAST(n_users AS DOUBLE) * (CAST(n_users AS DOUBLE) - 1.0))
      |    AS var_adj_c2,
      |  CAST(floor(
      |    (CAST(n_users AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) *
      |    (CAST(n_users AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (CAST(n_users AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
      |    (CAST(n_users AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) * 1e6 + 0.5)
      |    AS BIGINT) AS rho2_micro
      |FROM m
      |WHERE n_users > 1 AND CAST(n_users AS DOUBLE) * CAST(sxx AS DOUBLE)
      |  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      |ORDER BY event_type""".stripMargin

  /** q361: POST-STRATIFICATION ATE — the standardization estimator:
    * within each stratum (event type), the treated-vs-control mean
    * difference; pooled as the stratum-size-weighted average
    * Σ(N_g/N)(ȳ₁g − ȳ₀g) with the stratified variance
    * Σ(N_g/N)²(s²₁g/n₁g + s²₀g/n₀g). The adjustment layer between
    * q98's single pooled test (confounded when arm mix differs by
    * stratum) and q351's covariate regression: this one needs only a
    * categorical stratifier. Emits the per-stratum table PLUS the
    * pooled row (stratum='_all'), the report an experiment readout
    * actually shows.
    *
    * Scale shape: one (type)-keyed map-side-combined rollup of six
    * moments; the pooled row aggregates the ≤|types| rollup.
    * Determinism: cents quantization at the scan, exact BIGINT
    * moments, each estimate one micro-quantized double expression —
    * the per-stratum terms are quantized BEFORE the pooled sum
    * (q139/q347 convention).
    */
  def q361PostStratAte(spark: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("value") * 100 + lit(0.5)).cast("long")
    val isB = col("user_id") % 2 === 1
    def n(v: Boolean) = sum(when(if (v) isB else !isB, 1L).otherwise(0L))
    def s1(v: Boolean) =
      sum(when(if (v) isB else !isB, cents).otherwise(0L))
    def s2(v: Boolean) =
      sum(when(if (v) isB else !isB, cents * cents).otherwise(0L))
    val g = Tables(spark, dir).events
      .groupBy("event_type")
      .agg(n(true).as("n1"), n(false).as("n0"),
        s1(true).as("a1"), s1(false).as("a0"),
        s2(true).as("b1"), s2(false).as("b0"))
      .filter(col("n1") > 1 && col("n0") > 1)
    def d(c: String) = col(c).cast("double")
    val diff = d("a1") / d("n1") - d("a0") / d("n0")
    def svar(s1c: String, s2c: String, nc: String) =
      (d(s2c) - d(s1c) * d(s1c) / d(nc)) / (d(nc) - lit(1.0d)) / d(nc)
    val varg = svar("a1", "b1", "n1") + svar("a0", "b0", "n0")
    val strata = g.select(col("event_type").as("stratum"),
      (col("n1") + col("n0")).as("n_g"), col("n1"), col("n0"),
      floor(diff * lit(1e6) + lit(0.5)).cast("long").as("diff_micro"),
      floor(varg * lit(1e6) + lit(0.5)).cast("long").as("var_micro"))
    val tot = strata.agg(sum("n_g").as("nn"))
    // quantize each stratum's weighted term in DOUBLE before the
    // integer pool: the integer products n_g²·var_micro overflow 2^63
    // already at sf0.1 (≈8e18), and Spark's ANSI mode makes that a
    // hard error while DuckDB promotes to HUGEINT — the double path
    // stays exact to 2^53 and identical in both engines
    val pooled = strata.crossJoin(broadcast(tot))
      .select(
        floor(col("n_g").cast("double") * col("diff_micro").cast("double") /
          col("nn").cast("double") + lit(0.5)).cast("long").as("wd"),
        floor(col("n_g").cast("double") * col("n_g").cast("double") /
          (col("nn").cast("double") * col("nn").cast("double")) *
          col("var_micro").cast("double") + lit(0.5)).cast("long").as("wv"),
        col("n_g"), col("nn"))
      .groupBy("nn")
      .agg(sum("n_g").as("n_g"),
        sum("wd").as("wds"), sum("wv").as("wvs"))
      .select(lit("_all").as("stratum"), col("n_g"),
        lit(-1L).as("n1"), lit(-1L).as("n0"),
        col("wds").as("diff_micro"), col("wvs").as("var_micro"))
    strata.unionByName(pooled)
  }

  val q361Sql: String =
    """WITH m AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n1,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n0,
      |    CAST(sum(CASE WHEN user_id % 2 = 1
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS a1,
      |    CAST(sum(CASE WHEN user_id % 2 = 0
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS a0,
      |    CAST(sum(CASE WHEN user_id % 2 = 1
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) *
      |           CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS b1,
      |    CAST(sum(CASE WHEN user_id % 2 = 0
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) *
      |           CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS b0
      |  FROM events GROUP BY 1
      |  HAVING n1 > 1 AND n0 > 1),
      |s AS (
      |  SELECT event_type AS stratum, n1 + n0 AS n_g, n1, n0,
      |    CAST(floor((CAST(a1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      - CAST(a0 AS DOUBLE) / CAST(n0 AS DOUBLE)) * 1e6 + 0.5)
      |      AS BIGINT) AS diff_micro,
      |    CAST(floor((
      |      (CAST(b1 AS DOUBLE) - CAST(a1 AS DOUBLE) * CAST(a1 AS DOUBLE) /
      |        CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) /
      |        CAST(n1 AS DOUBLE)
      |      + (CAST(b0 AS DOUBLE) - CAST(a0 AS DOUBLE) * CAST(a0 AS DOUBLE) /
      |        CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0) /
      |        CAST(n0 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS var_micro
      |  FROM m),
      |t AS (SELECT CAST(sum(n_g) AS BIGINT) AS nn FROM s),
      |w AS (
      |  SELECT n_g,
      |    CAST(floor(CAST(n_g AS DOUBLE) * CAST(diff_micro AS DOUBLE) /
      |      CAST(nn AS DOUBLE) + 0.5) AS BIGINT) AS wd,
      |    CAST(floor(CAST(n_g AS DOUBLE) * CAST(n_g AS DOUBLE) /
      |      (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) *
      |      CAST(var_micro AS DOUBLE) + 0.5) AS BIGINT) AS wv
      |  FROM s CROSS JOIN t),
      |p AS (
      |  SELECT '_all' AS stratum, CAST(sum(n_g) AS BIGINT) AS n_g,
      |    CAST(-1 AS BIGINT) AS n1, CAST(-1 AS BIGINT) AS n0,
      |    CAST(sum(wd) AS BIGINT) AS diff_micro,
      |    CAST(sum(wv) AS BIGINT) AS var_micro
      |  FROM w)
      |SELECT * FROM s UNION ALL SELECT * FROM p
      |ORDER BY stratum""".stripMargin

  /** q391: FUNNEL SIGNIFICANCE ACROSS EXPERIMENT ARMS — does the
    * click→purchase conversion (q73's exact rule) DIFFER between the
    * two arms of a user-keyed A/B assignment (user_id parity — the
    * deterministic stand-in for the hash-mod bucketing every
    * experimentation platform uses)? Per arm: clicker count,
    * converter count, conversion in exact ppm, and the Wilson
    * interval (q197's formula); plus the '_z' row with the pooled
    * two-proportion z — the question every funnel dashboard ends with
    * ("is that arm gap real?"). One user-level pass (window
    * partitioned by user), one 2-row rollup, arithmetic after. (A
    * first-touch calendar cohort was the first draft; at the
    * fixture's 67 events/user EVERY first touch lands on day 1, so
    * the gate would compare a cohort against nothing — caught by the
    * oracle run, kept as the assignment-design lesson.)
    */
  def q391FunnelCohortZ(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables(spark, dir).events
      .withColumn("last_click_us",
        max(when(col("event_type") === "click", unix_micros(col("ts"))))
          .over(byUser))
      .withColumn("converted",
        col("event_type") === "purchase" && col("last_click_us").isNotNull &&
          unix_micros(col("ts")) - col("last_click_us") <=
            FUNNEL_HOURS * 3600L * 1000000L)
    val perUser = ev.groupBy("user_id").agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("n_clicks"),
      sum(when(col("converted"), 1L).otherwise(0L)).as("n_converted"))
      .filter(col("n_clicks") > 0)
      .select(
        when(col("user_id") % 2 === 0, lit("arm_a"))
          .otherwise(lit("arm_b")).as("cohort"),
        when(col("n_converted") > 0, 1L).otherwise(0L).as("conv"))
    val g = perUser.groupBy("cohort")
      .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
    val z196 = lit(1.96d)
    def dd(c: Column) = c.cast("double")
    val nD = dd(col("n_users")); val kD = dd(col("n_conv"))
    val pHat = kD / nD
    val z2 = z196 * z196
    val denom = lit(1.0d) + z2 / nD
    val center = pHat + z2 / (lit(2.0d) * nD)
    val spread = z196 * sqrt(pHat * (lit(1.0d) - pHat) / nD +
      z2 / (lit(4.0d) * nD * nD))
    val rows = g.select(col("cohort"), col("n_users"), col("n_conv"),
      expr("n_conv * 1000000 div n_users").as("rate_ppm"),
      floor((center - spread) / denom * lit(1e6) + lit(0.5)).cast("long")
        .as("lo_micro"),
      floor((center + spread) / denom * lit(1e6) + lit(0.5)).cast("long")
        .as("hi_micro"),
      lit(0L).as("z_micro"))
    val tot = g.agg(
      sum(when(col("cohort") === "arm_a", col("n_users"))).as("n1"),
      sum(when(col("cohort") === "arm_a", col("n_conv"))).as("k1"),
      sum(when(col("cohort") === "arm_b", col("n_users"))).as("n2"),
      sum(when(col("cohort") === "arm_b", col("n_conv"))).as("k2"))
    val p1 = dd(col("k1")) / dd(col("n1"))
    val p2 = dd(col("k2")) / dd(col("n2"))
    val pp = (dd(col("k1")) + dd(col("k2"))) /
      (dd(col("n1")) + dd(col("n2")))
    val zStat = (p1 - p2) / sqrt(pp * (lit(1.0d) - pp) *
      (lit(1.0d) / dd(col("n1")) + lit(1.0d) / dd(col("n2"))))
    val zRow = tot.select(lit("_z").as("cohort"),
      (col("n1") + col("n2")).as("n_users"),
      (col("k1") + col("k2")).as("n_conv"),
      expr("(k1 + k2) * 1000000 div (n1 + n2)").as("rate_ppm"),
      lit(0L).as("lo_micro"), lit(0L).as("hi_micro"),
      floor(zStat * lit(1e6) + lit(0.5)).cast("long").as("z_micro"))
    rows.unionByName(zRow)
  }

  val q391Sql: String = {
    val winUs = FUNNEL_HOURS * 3600L * 1000000L
    s"""WITH w AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
      |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS last_click_us
      |  FROM events),
      |pu AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_clicks,
      |    CAST(sum(CASE WHEN event_type = 'purchase'
      |        AND last_click_us IS NOT NULL
      |        AND us - last_click_us <= $winUs THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_converted
      |  FROM w GROUP BY 1
      |  HAVING n_clicks > 0),
      |pc AS (
      |  SELECT CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END
      |    AS cohort,
      |    CASE WHEN n_converted > 0 THEN 1 ELSE 0 END AS conv
      |  FROM pu),
      |g AS (
      |  SELECT cohort, CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(conv) AS BIGINT) AS n_conv
      |  FROM pc GROUP BY 1),
      |rows_ AS (
      |  SELECT cohort, n_users, n_conv,
      |    CAST(n_conv * 1000000 // n_users AS BIGINT) AS rate_ppm,
      |    CAST(floor((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)
      |        + 1.96 * 1.96 / (2.0 * CAST(n_users AS DOUBLE))
      |        - 1.96 * sqrt(CAST(n_conv AS DOUBLE) /
      |            CAST(n_users AS DOUBLE) *
      |            (1.0 - CAST(n_conv AS DOUBLE) /
      |              CAST(n_users AS DOUBLE)) / CAST(n_users AS DOUBLE)
      |          + 1.96 * 1.96 / (4.0 * CAST(n_users AS DOUBLE) *
      |            CAST(n_users AS DOUBLE)))) /
      |      (1.0 + 1.96 * 1.96 / CAST(n_users AS DOUBLE)) * 1e6 + 0.5)
      |      AS BIGINT) AS lo_micro,
      |    CAST(floor((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)
      |        + 1.96 * 1.96 / (2.0 * CAST(n_users AS DOUBLE))
      |        + 1.96 * sqrt(CAST(n_conv AS DOUBLE) /
      |            CAST(n_users AS DOUBLE) *
      |            (1.0 - CAST(n_conv AS DOUBLE) /
      |              CAST(n_users AS DOUBLE)) / CAST(n_users AS DOUBLE)
      |          + 1.96 * 1.96 / (4.0 * CAST(n_users AS DOUBLE) *
      |            CAST(n_users AS DOUBLE)))) /
      |      (1.0 + 1.96 * 1.96 / CAST(n_users AS DOUBLE)) * 1e6 + 0.5)
      |      AS BIGINT) AS hi_micro,
      |    CAST(0 AS BIGINT) AS z_micro
      |  FROM g),
      |tot AS (
      |  SELECT
      |    CAST(sum(CASE WHEN cohort = 'arm_a' THEN n_users END)
      |      AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN cohort = 'arm_a' THEN n_conv END)
      |      AS BIGINT) AS k1,
      |    CAST(sum(CASE WHEN cohort = 'arm_b' THEN n_users END)
      |      AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN cohort = 'arm_b' THEN n_conv END)
      |      AS BIGINT) AS k2
      |  FROM g)
      |SELECT * FROM rows_
      |UNION ALL
      |SELECT '_z', n1 + n2, k1 + k2,
      |  CAST((k1 + k2) * 1000000 // (n1 + n2) AS BIGINT),
      |  CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      |  CAST(floor((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      - CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE)) /
      |    sqrt((CAST(k1 AS DOUBLE) + CAST(k2 AS DOUBLE)) /
      |      (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) *
      |      (1.0 - (CAST(k1 AS DOUBLE) + CAST(k2 AS DOUBLE)) /
      |        (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) *
      |      (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
      |    * 1e6 + 0.5) AS BIGINT)
      |FROM tot
      |ORDER BY cohort""".stripMargin
  }

  /** q398: CAPTURE–RECAPTURE POPULATION ESTIMATE — how many users
    * exist, estimated from two overlapping observation windows (day
    * 1 "marks" users, day 2 "recaptures" them — single days, because
    * at the fixture's 2.2 events/user/day a WEEK window captures
    * everyone and the estimator degenerates to m = n₁ = n₂; measured
    * before landing): Chapman's
    * bias-corrected Lincoln–Petersen N̂ = (n₁+1)(n₂+1)/(m+1) − 1.
    * The estimator every analytics stack reaches for when the
    * tracking surface is partial (log sampling, consent gaps) — and
    * because the fixture logs EVERYONE, the query also reports the
    * OBSERVED DAY-0/DAY-1 UNION (n_true = users seen on either of the
    * two capture days — the population the two samples actually draw
    * from, which is what Lincoln–Petersen estimates) and the
    * estimator's signed error against it, making the gate a measured
    * calibration check, not just arithmetic. One per-user rollup
    * carrying two membership bits; everything after is integer.
    */
  def q398CaptureRecapture(spark: SparkSession, dir: String): DataFrame = {
    val d0 = Tables(spark, dir).events
      .agg(min(expr("unix_micros(ts) div 86400000000")).as("d0"))
    val pu = Tables(spark, dir).events
      .crossJoin(broadcast(d0))
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000 - d0").as("wk"))
      .filter(col("wk").isin(0L, 1L))
      .groupBy("user_id")
      .agg(max(when(col("wk") === 0L, 1L).otherwise(0L)).as("in1"),
        max(when(col("wk") === 1L, 1L).otherwise(0L)).as("in2"))
    val m = pu.agg(sum("in1").as("n1"), sum("in2").as("n2"),
      sum(col("in1") * col("in2")).as("m"),
      count(lit(1)).as("n_true"))
    def d(c: String) = col(c).cast("double")
    val nHat = (d("n1") + lit(1.0d)) * (d("n2") + lit(1.0d)) /
      (d("m") + lit(1.0d)) - lit(1.0d)
    m.select(col("n1").as("n_day1"), col("n2").as("n_day2"),
      col("m").as("n_both"), col("n_true"),
      floor(nHat * lit(1e6) + lit(0.5)).cast("long").as("n_hat_micro"),
      floor((nHat / d("n_true") - lit(1.0d)) * lit(1e6) + lit(0.5))
        .cast("long").as("err_ppm"))
  }

  val q398Sql: String =
    """WITH d0 AS (
      |  SELECT CAST(min(epoch_us(ts) // 86400000000) AS BIGINT) AS d0
      |  FROM events),
      |pu AS (
      |  SELECT user_id,
      |    CAST(max(CASE WHEN epoch_us(ts) // 86400000000 - d0.d0
      |      = 0 THEN 1 ELSE 0 END) AS BIGINT) AS in1,
      |    CAST(max(CASE WHEN epoch_us(ts) // 86400000000 - d0.d0
      |      = 1 THEN 1 ELSE 0 END) AS BIGINT) AS in2
      |  FROM events, d0
      |  WHERE epoch_us(ts) // 86400000000 - d0.d0 IN (0, 1)
      |  GROUP BY 1),
      |m AS (
      |  SELECT CAST(sum(in1) AS BIGINT) AS n1,
      |    CAST(sum(in2) AS BIGINT) AS n2,
      |    CAST(sum(in1 * in2) AS BIGINT) AS m,
      |    CAST(count(*) AS BIGINT) AS n_true
      |  FROM pu)
      |SELECT n1 AS n_day1, n2 AS n_day2, m AS n_both, n_true,
      |  CAST(floor(((CAST(n1 AS DOUBLE) + 1.0) *
      |    (CAST(n2 AS DOUBLE) + 1.0) / (CAST(m AS DOUBLE) + 1.0) - 1.0)
      |    * 1e6 + 0.5) AS BIGINT) AS n_hat_micro,
      |  CAST(floor((((CAST(n1 AS DOUBLE) + 1.0) *
      |    (CAST(n2 AS DOUBLE) + 1.0) / (CAST(m AS DOUBLE) + 1.0) - 1.0)
      |    / CAST(n_true AS DOUBLE) - 1.0) * 1e6 + 0.5) AS BIGINT)
      |    AS err_ppm
      |FROM m""".stripMargin

  /** q406: DAU/WAU STICKINESS — the product-health ratio (what share
    * of the weekly audience shows up on a given day). WAU per anchor
    * day is |∪ of 7 day-sets|, which no per-day count can aggregate
    * to — so the user-day DISTINCT rollup fans out to the ≤7 anchor
    * days each activity day can serve (bounded ×7, the q88 interval
    * idiom) and a distinct count per anchor does the union exactly.
    * Anchors keep only days with a FULL trailing week so the ratio is
    * never inflated by a short window.
    */
  def q406Stickiness(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables(spark, dir).events
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val bounds = ud.agg(min("day").as("d0"), max("day").as("d1"))
    val dau = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val anchors = ud
      .select(col("user_id"), explode(sequence(col("day"),
        col("day") + lit(6L))).as("anchor"))
      .distinct()
      .groupBy("anchor").agg(countDistinct("user_id").as("wau"))
    dau.join(anchors, dau("day") === anchors("anchor"))
      .crossJoin(broadcast(bounds))
      .filter(col("day") >= col("d0") + 6L && col("day") <= col("d1"))
      .select(col("day"), col("dau"), col("wau"),
        expr("dau * 1000000 div wau").as("stickiness_ppm"))
  }

  val q406Sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |bounds AS (SELECT CAST(min(day) AS BIGINT) AS d0,
      |             CAST(max(day) AS BIGINT) AS d1 FROM ud),
      |dau AS (
      |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      |  FROM ud GROUP BY 1),
      |anchors AS (
      |  SELECT anchor, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      |  FROM (SELECT DISTINCT ud.user_id, ud.day + t.a AS anchor
      |        FROM ud, unnest(generate_series(0, 6)) AS t(a))
      |  GROUP BY 1)
      |SELECT d.day, d.dau, a.wau,
      |  CAST(d.dau * 1000000 // a.wau AS BIGINT) AS stickiness_ppm
      |FROM dau d JOIN anchors a ON a.anchor = d.day, bounds b
      |WHERE d.day >= b.d0 + 6 AND d.day <= b.d1
      |ORDER BY d.day""".stripMargin

  /** q413 BH level in micro units (α = 0.1): the step-up threshold
    * i·α/m is then an integer floor-division — no float boundary.
    */
  val BH_ALPHA_MICRO = 100000L

  /** q413: BENJAMINI–HOCHBERG FDR CONTROL — the multiple-testing step
    * every segment-sliced experiment readout needs (q98 reports ONE
    * t per type; slice it by weekday and 35 hypotheses at α=0.05 each
    * expect false positives): per (event_type, weekday) segment a
    * Welch t between the deterministic variants (q98's exact-sum
    * construction), a DISTRIBUTION-FREE Chebyshev pseudo-p
    * p = 1/(1+t²) (conservative upper bound on P(|T|≥t); a pure
    * rational function, so no transcendental CDF whose libm could
    * drift between engines — and BH only consumes p through its
    * ORDER and an integer threshold compare), then the step-up rule:
    * sort p ascending, k* = max{i : p(i) ≤ i·α/m}, reject ranks ≤ k*.
    *
    * Scale shape: the log collapses to m = |types × 7| rows in ONE
    * map-side-combined aggregate; every window after that runs on the
    * bounded rollup (the q319/q320 audit contract), never the log.
    * All gate columns are integers (micro-quantized t and p, ranks,
    * thresholds, the reject flag).
    */
  def q413BhFdr(spark: SparkSession, dir: String): DataFrame = {
    val isB = col("user_id") % 2 === 1
    def cnt(v: Boolean) = sum(when(if (v) isB else !isB, 1L).otherwise(0L))
    def s1(v: Boolean) =
      sum(when(if (v) isB else !isB, Exact.dec(col("value")))).cast("double")
    def s2(v: Boolean) =
      sum(when(if (v) isB else !isB, Exact.dec(col("value") * col("value"))))
        .cast("double")
    val seg = Tables(spark, dir).events
      // calendar-convention-free weekday: day number mod 7 (q198's
      // convention), identical integer arithmetic in both engines
      .withColumn("dow", expr("datediff(to_date(ts), date'1970-01-01') % 7"))
      .groupBy("event_type", "dow")
      .agg(cnt(false).as("n_a"), cnt(true).as("n_b"),
        s1(false).as("_s1a"), s1(true).as("_s1b"),
        s2(false).as("_s2a"), s2(true).as("_s2b"))
      .filter(col("n_a") > 1 && col("n_b") > 1)
    val t = (col("_s1a") / col("n_a") - col("_s1b") / col("n_b")) /
      sqrt(
        (col("_s2a") - col("_s1a") * col("_s1a") / col("n_a")) /
          (col("n_a") - 1) / col("n_a") +
        (col("_s2b") - col("_s1b") * col("_s1b") / col("n_b")) /
          (col("n_b") - 1) / col("n_b"))
    seg.withColumn("_t", t)
      .withColumn("t_micro", floor(col("_t") * 1e6 + lit(0.5)).cast("long"))
      .withColumn("p_micro",
        floor(lit(1e6) / (lit(1.0) + col("_t") * col("_t")) + lit(0.5))
          .cast("long"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("p_micro").asc, col("event_type").asc,
          col("dow").asc)).cast("long"))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .withColumn("thr_micro", expr(s"(rnk * $BH_ALPHA_MICRO) div m"))
      .withColumn("kstar", max(when(col("p_micro") <= col("thr_micro"),
        col("rnk"))).over(Window.partitionBy(lit(1))))
      .select(col("event_type"), col("dow").cast("long").as("dow"),
        col("n_a"), col("n_b"), col("t_micro"), col("p_micro"), col("rnk"),
        col("thr_micro"),
        (col("rnk") <= coalesce(col("kstar"), lit(0L))).as("rejected"))
  }

  val q413Sql: String =
    s"""WITH s AS (
      |  SELECT event_type,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS dow,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS s1a,
      |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS s1b,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(value * value AS DECIMAL(18,4)) END) AS DOUBLE) AS s2a,
      |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN CAST(value * value AS DECIMAL(18,4)) END) AS DOUBLE) AS s2b
      |  FROM events GROUP BY 1, 2),
      |tt AS (
      |  SELECT event_type, dow, n_a, n_b,
      |    (s1a / n_a - s1b / n_b) /
      |      sqrt((s2a - s1a * s1a / n_a) / (n_a - 1) / n_a
      |         + (s2b - s1b * s1b / n_b) / (n_b - 1) / n_b) AS t
      |  FROM s WHERE n_a > 1 AND n_b > 1),
      |q AS (
      |  SELECT event_type, dow, n_a, n_b,
      |    CAST(floor(t * 1e6 + 0.5) AS BIGINT) AS t_micro,
      |    CAST(floor(1e6 / (1.0 + t * t) + 0.5) AS BIGINT) AS p_micro
      |  FROM tt),
      |r AS (
      |  SELECT *,
      |    CAST(row_number() OVER (ORDER BY p_micro ASC, event_type ASC,
      |      dow ASC) AS BIGINT) AS rnk,
      |    count(*) OVER () AS m
      |  FROM q),
      |thr AS (
      |  SELECT *, CAST((rnk * $BH_ALPHA_MICRO) // m AS BIGINT) AS thr_micro
      |  FROM r),
      |k AS (
      |  SELECT *, max(CASE WHEN p_micro <= thr_micro THEN rnk END)
      |    OVER () AS kstar
      |  FROM thr)
      |SELECT event_type, CAST(dow AS BIGINT) AS dow, n_a, n_b, t_micro,
      |  p_micro, rnk, thr_micro,
      |  rnk <= coalesce(kstar, 0) AS rejected
      |FROM k ORDER BY event_type, dow""".stripMargin

  /** q416: SIMPSON'S-PARADOX AUDIT — does the pooled A/B effect
    * direction survive weekday segmentation? The classic aggregation
    * trap (unequal arm allocation across segments can reverse the
    * pooled sign even when every segment agrees), audited per event
    * type: the pooled mean difference (B−A) next to the per-(dow)
    * segment differences, their sign tally, and the paradox flag —
    * every segment agrees on one direction AND the pooled difference
    * points the other way. The experimentation-hygiene complement to
    * q98 (one pooled t) and q413 (segment-level FDR).
    *
    * Determinism: all means are exact-decimal sums over counts, each
    * difference is two IEEE divisions and a subtract on bit-identical
    * inputs, and every DECISION (sign, flag) is taken on the
    * micro-quantized INTEGER image — the same integers both engines
    * hash. The log collapses to |types × 7| rows in one
    * map-side-combined aggregate; the paradox fold runs on that
    * bounded rollup.
    */
  def q416SimpsonAudit(spark: SparkSession, dir: String): DataFrame = {
    val isB = col("user_id") % 2 === 1
    def cnt(v: Boolean) = sum(when(if (v) isB else !isB, 1L).otherwise(0L))
    def s1(v: Boolean) =
      sum(when(if (v) isB else !isB, Exact.dec(col("value")))).cast("double")
    val seg = Tables(spark, dir).events
      .withColumn("dow", expr("datediff(to_date(ts), date'1970-01-01') % 7"))
      .groupBy("event_type", "dow")
      .agg(cnt(false).as("na"), cnt(true).as("nb"),
        sum(when(!isB, Exact.dec(col("value")))).as("sa"),
        sum(when(isB, Exact.dec(col("value")))).as("sb"))
      .filter(col("na") > 0 && col("nb") > 0)
    val segDiff = seg.withColumn("d_micro",
      floor((col("sb").cast("double") / col("nb") -
        col("sa").cast("double") / col("na")) * 1e6 + lit(0.5)).cast("long"))
    // pooled arms re-aggregate the SAME decimal sums (order-free)
    val pooled = seg.groupBy("event_type")
      .agg(sum("na").as("pna"), sum("nb").as("pnb"),
        sum("sa").as("psa"), sum("sb").as("psb"))
      .select(col("event_type"),
        floor((col("psb").cast("double") / col("pnb") -
          col("psa").cast("double") / col("pna")) * 1e6 + lit(0.5))
          .cast("long").as("pooled_micro"))
    segDiff.groupBy("event_type")
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("d_micro") > 0, 1L).otherwise(0L)).as("n_seg_pos"),
        sum(when(col("d_micro") < 0, 1L).otherwise(0L)).as("n_seg_neg"))
      .join(pooled, "event_type")
      .select(col("event_type"), col("n_seg"), col("n_seg_pos"),
        col("n_seg_neg"), col("pooled_micro"),
        ((col("n_seg_pos") === col("n_seg") && col("pooled_micro") < 0) ||
          (col("n_seg_neg") === col("n_seg") && col("pooled_micro") > 0))
          .as("simpson_flag"))
  }

  val q416Sql: String =
    """WITH seg AS (
      |  SELECT event_type,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS dow,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
      |    sum(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(18,4)) END) AS sa,
      |    sum(CASE WHEN user_id % 2 = 1 THEN CAST(value AS DECIMAL(18,4)) END) AS sb
      |  FROM events GROUP BY 1, 2
      |  HAVING na > 0 AND nb > 0),
      |sd AS (
      |  SELECT event_type,
      |    CAST(floor((CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na)
      |      * 1e6 + 0.5) AS BIGINT) AS d_micro
      |  FROM seg),
      |pooled AS (
      |  SELECT event_type,
      |    CAST(floor((CAST(sum(sb) AS DOUBLE) / sum(nb)
      |      - CAST(sum(sa) AS DOUBLE) / sum(na)) * 1e6 + 0.5) AS BIGINT)
      |      AS pooled_micro
      |  FROM seg GROUP BY 1),
      |tally AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_seg,
      |    CAST(sum(CASE WHEN d_micro > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_seg_pos,
      |    CAST(sum(CASE WHEN d_micro < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_seg_neg
      |  FROM sd GROUP BY 1)
      |SELECT t.event_type, t.n_seg, t.n_seg_pos, t.n_seg_neg,
      |  p.pooled_micro,
      |  (t.n_seg_pos = t.n_seg AND p.pooled_micro < 0) OR
      |  (t.n_seg_neg = t.n_seg AND p.pooled_micro > 0) AS simpson_flag
      |FROM tally t JOIN pooled p USING (event_type)
      |ORDER BY t.event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q416_simpson_audit" -> Gate.sorted(q416SimpsonAudit _, "event_type"),
    "q413_bh_fdr" -> Gate.sorted(q413BhFdr _, "event_type", "dow"),
    "q406_stickiness" -> Gate.sorted(q406Stickiness _, "day"),
    "q398_capture_recapture" -> ((s, d) => q398CaptureRecapture(s, d)),
    "q391_funnel_cohort_z" ->
      Gate.sorted(q391FunnelCohortZ _, "cohort"),
    "q361_post_strat_ate" -> Gate.sorted(q361PostStratAte _, "stratum"),
    "q347_log_rank" -> ((s, d) => q347LogRank(s, d)),
    "q348_nelson_aalen" -> Gate.sorted(q348NelsonAalen _, "dur_min"),
    "q351_cuped" -> Gate.sorted(q351Cuped _, "event_type"),
    "q322_dbscan" -> Gate.sorted(q322Dbscan _, "event_id"),
    "q155_time_weighted_avg" -> Gate.sorted(q155TimeWeightedAvg _, "user_id"),
    "q152_audience_overlap" -> Gate.sorted(q152AudienceOverlap _, "type_a", "type_b"),
    "q140_window_funnel" -> Gate.sorted(q140WindowFunnel _, "user_id"),
    "q139_survival_km" -> Gate.sorted(q139SurvivalKm _, "dur_min"),
    "q131_interval_merge" -> Gate.sorted(q131IntervalMerge _, "user_id", "span_id"),
    "q132_churn_labels" -> Gate.sorted(q132ChurnLabels _, "user_id"),
    "q118_bot_score" -> Gate.sorted(q118BotScore _, "user_id"),
    "q110_scd2_history" ->
      Gate.sorted(q110Scd2History _, "user_id", "valid_from_us", "attr"),
    "q107_json_extract" -> Gate.sorted(q107JsonExtract _, "event_type"),
    "q104_active_time" -> Gate.sorted(q104ActiveTime _, "user_id"),
    "q105_user_entropy" -> Gate.sorted(q105UserEntropy _, "user_id"),
    "q98_ab_welch" -> Gate.sorted(q98AbWelch _, "event_type"),
    "q99_anomaly_zscore" -> Gate.sorted(q99AnomalyZscore _, "event_type", "day"),
    "q89_rolling_distinct" -> Gate.sorted(q89RollingDistinct _, "win_end"),
    "q310_sliding_hll" -> Gate.sorted(q310SlidingHll _, "win_end"),
    "q90_ship_latency" -> Gate.sorted(q90ShipLatency _, "o_orderpriority"),
    "q88_peak_concurrency" -> Gate.sorted(q88PeakConcurrency _, "day"),
    "q84_session_paths" -> Gate.sorted(q84SessionPaths _, "from_type", "to_type"),
    "q85_feature_binning" -> Gate.sorted(q85FeatureBinning _, "user_id"),
    "q73_funnel" -> Gate.sorted(q73Funnel _, "user_id"),
    "q78_cube_stats" -> Gate.sorted(q78CubeStats _, "event_type", "day"),
    "q77_pivot" -> Gate.sorted(q77PivotTypes _, "user_id"),
    "q74_retention_cohorts" -> Gate.sorted(q74RetentionCohorts _, "cohort_day", "day_offset"),
    "q75_rolling_features" -> Gate.sorted(q75RollingFeatures _, "user_id", "event_id"))

  val oracles: Map[String, String] = Map(
    "q416_simpson_audit" -> q416Sql,
    "q413_bh_fdr" -> q413Sql,
    "q406_stickiness" -> q406Sql,
    "q398_capture_recapture" -> q398Sql,
    "q391_funnel_cohort_z" -> q391Sql,
    "q361_post_strat_ate" -> q361Sql,
    "q347_log_rank" -> q347Sql,
    "q348_nelson_aalen" -> q348Sql,
    "q351_cuped" -> q351Sql,
    "q322_dbscan" -> q322Sql,
    "q155_time_weighted_avg" -> q155Sql,
    "q152_audience_overlap" -> q152Sql,
    "q140_window_funnel" -> q140Sql,
    "q139_survival_km" -> q139Sql,
    "q131_interval_merge" -> q131Sql,
    "q132_churn_labels" -> q132Sql,
    "q118_bot_score" -> q118Sql,
    "q110_scd2_history" -> q110Sql,
    "q107_json_extract" -> q107Sql,
    "q104_active_time" -> q104Sql,
    "q105_user_entropy" -> q105Sql,
    "q98_ab_welch" -> q98Sql,
    "q99_anomaly_zscore" -> q99Sql,
    "q89_rolling_distinct" -> q89Sql,
    "q310_sliding_hll" -> q310Sql,
    "q90_ship_latency" -> q90Sql,
    "q88_peak_concurrency" -> q88Sql,
    "q84_session_paths" -> q84Sql,
    "q85_feature_binning" -> q85Sql,
    "q73_funnel" -> q73Sql,
    "q77_pivot" -> q77Sql,
    "q78_cube_stats" -> q78Sql,
    "q74_retention_cohorts" -> q74Sql,
    "q75_rolling_features" -> q75Sql)
}
