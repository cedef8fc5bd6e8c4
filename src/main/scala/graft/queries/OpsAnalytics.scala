package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-log operations analytics: marketing attribution and
  * ingestion-health profiling — the two report families an event
  * pipeline's operators feed but that the funnel/sessionization
  * queries (q37/q73/q91) do not themselves express.
  *
  * Both passes shuffle on the same keys the rest of the event family
  * uses (user_id for the attribution window; a bounded block key for
  * the lateness decomposition), so at 100 TB they co-schedule with the
  * existing scans instead of adding new exchange shapes.
  */
object OpsAnalytics extends QueryModule {

  /** q201 attribution lookback: a purchase credits the last click only
    * if it happened within this many micros before it.
    */
  val ATTR_LOOKBACK_US: Long = 24L * 3600L * 1000000L

  /** Campaign id derivation: the click's JSON `props.k` folded to a
    * small campaign domain. Purchases with no in-window click credit
    * the synthetic "direct" campaign -1.
    */
  val ATTR_CAMPAIGNS = 4

  /** q201: LAST-TOUCH REVENUE ATTRIBUTION — every purchase credits its
    * value to the campaign of the user's most recent click at or
    * before it (within [[ATTR_LOOKBACK_US]]), the classic marketing
    * attribution report. The naive semantics is a per-purchase
    * correlated lookup into the click history; the Spark plan is ONE
    * window pass over the user-partitioned stream: two running
    * `last(..., ignoreNulls)` columns (click epoch + click campaign —
    * both non-null exactly on click rows, so they always come from the
    * same row) give each purchase its candidate click without a
    * self-join, then a 5-row campaign aggregate. Revenue is summed in
    * integer cents (per-row half-up rounding), so the totals are
    * bit-identical across engines.
    */
  def q201LastTouch(spark: SparkSession, dir: String): DataFrame = {
    val upToHere = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"),
        (get_json_object(col("props"), "$.k").cast("long") % ATTR_CAMPAIGNS)
          .as("camp"))
    ev
      .withColumn("lc_us",
        last(when(col("event_type") === "click", unix_micros(col("ts"))),
          ignoreNulls = true).over(upToHere))
      .withColumn("lc_camp",
        last(when(col("event_type") === "click", col("camp")),
          ignoreNulls = true).over(upToHere))
      .filter(col("event_type") === "purchase")
      .select(
        when(col("lc_us").isNotNull &&
          unix_micros(col("ts")) - col("lc_us") <= ATTR_LOOKBACK_US,
          col("lc_camp")).otherwise(lit(-1L)).as("campaign"),
        col("value"))
      .groupBy("campaign")
      .agg(count(lit(1)).as("n_purchases"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
          .as("revenue_cents"))
  }

  val q201Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id, event_type, value,
       |    CAST(props ->> 'k' AS BIGINT) % $ATTR_CAMPAIGNS AS camp
       |  FROM events),
       |w AS (
       |  SELECT *,
       |    last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
       |      IGNORE NULLS) OVER
       |      (PARTITION BY user_id ORDER BY ts, event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc_us,
       |    last_value(CASE WHEN event_type = 'click' THEN camp END
       |      IGNORE NULLS) OVER
       |      (PARTITION BY user_id ORDER BY ts, event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc_camp
       |  FROM ev)
       |SELECT
       |  CASE WHEN lc_us IS NOT NULL
       |         AND epoch_us(ts) - lc_us <= $ATTR_LOOKBACK_US
       |       THEN lc_camp ELSE -1 END AS campaign,
       |  count(*) AS n_purchases,
       |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
       |    AS revenue_cents
       |FROM w WHERE event_type = 'purchase'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q202 simulated transport jitter bound (micros): the test events
    * file is PERFECTLY time-ordered, so a deterministic per-event
    * delivery delay — md5(event_id) folded to [0, 10 min) — stands in
    * for the network/queue reordering a real ingest sees. Reproducible
    * on any cluster, identical in both engines (the q50 md5 idiom).
    */
  val LATE_JITTER_US: Long = 600L * 1000000L

  /** q202 block span (micros of arrival time): the global running max
    * decomposes over hourly arrival blocks; the cross-block pass sees
    * one row per hour.
    */
  val LATE_BLOCK_US: Long = 3600L * 1000000L

  /** q202 histogram cap: lateness minutes at or above this all fold
    * into one overflow bucket.
    */
  val LATE_CAP_MIN: Long = 10L

  /** q202: EVENT-TIME LATENESS PROFILE — for every event, how far its
    * event time lags the maximum event time already delivered (arrival
    * order), bucketed into a minutes histogram. This is THE input to
    * choosing a streaming watermark delay: the bucket where the
    * histogram's tail dies is the delay at which late-data drops
    * become acceptable. The naive form is a global running max over
    * arrival order — a one-task window at scale — so the plan
    * decomposes it exactly: per-block running max (window partitioned
    * by the arrival hour) combined with the running max of all PRIOR
    * blocks (an hours-count-sized pass), then
    * `lateness = combined_max - ts`. The decomposition is exact for
    * any block span; both engines bucket with pure integer division —
    * bit-identical.
    */
  def q202LatenessProfile(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("arr_us",
        col("us") +
          conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % LATE_JITTER_US)
      .withColumn("blk", expr(s"arr_us div $LATE_BLOCK_US"))
    val inBlock = Window.partitionBy("blk").orderBy("arr_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val priorBlocks = Window.orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val blockMax = ev.groupBy("blk").agg(max("us").as("bmax"))
      .withColumn("pmax", max("bmax").over(priorBlocks))
      .select("blk", "pmax")
    ev.join(blockMax, "blk")
      .withColumn("run_max",
        greatest(max("us").over(inBlock),
          coalesce(col("pmax"), lit(Long.MinValue))))
      .select((col("run_max") - col("us")).as("late_us"))
      .select(least(expr("late_us div 60000000"), lit(LATE_CAP_MIN))
        .as("late_min"))
      .groupBy("late_min")
      .agg(count(lit(1)).as("n_events"))
  }

  val q202Sql: String =
    s"""WITH a AS (
       |  SELECT event_id, epoch_us(ts) AS us,
       |    epoch_us(ts) +
       |      CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)
       |      % $LATE_JITTER_US AS arr_us
       |  FROM events),
       |l AS (
       |  SELECT max(us) OVER
       |      (ORDER BY arr_us, event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    - us AS late_us
       |  FROM a)
       |SELECT least(late_us // 60000000, $LATE_CAP_MIN) AS late_min,
       |  count(*) AS n_events
       |FROM l GROUP BY 1 ORDER BY 1""".stripMargin

  /** q240 contract window (shared literals with the oracle). */
  val CONTRACT_TS_LO = "2024-01-01 00:00:00"
  val CONTRACT_TS_HI = "2024-02-01 00:00:00"
  val CONTRACT_VALUE_MAX = 1000.0

  /** q240: DATA-CONTRACT CHECK — the ingestion gate's expectation
    * suite (the Deequ/Great-Expectations shape) over the event
    * stream: every rule is a conditional aggregate over ONE scan
    * (non-negative value, value ceiling, timestamp window, event-type
    * enum, JSON payload parses to an integer k), emitted as a per-rule
    * report with violation counts and a pass verdict. Adding a rule
    * costs one column, never a pass — the property that makes contract
    * suites affordable at 100 TB.
    */
  def q240EventContract(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val rules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "value_non_negative" -> (col("value") >= 0),
      "value_below_max" -> (col("value") <= CONTRACT_VALUE_MAX),
      "ts_in_window" ->
        (col("ts") >= lit(CONTRACT_TS_LO).cast("timestamp") &&
          col("ts") < lit(CONTRACT_TS_HI).cast("timestamp")),
      "event_type_enum" -> col("event_type")
        .isin("click", "view", "purchase", "signup", "error"),
      "props_k_parses" ->
        get_json_object(col("props"), "$.k").cast("long").isNotNull)
    val aggs = rules.map { case (name, ok) =>
      sum(when(!ok, 1L).otherwise(0L)).as(s"v_$name")
    }
    val one = ev.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stacked = rules.map { case (name, _) => s"'$name', v_$name" }
      .mkString(", ")
    one.selectExpr("n_rows",
      s"stack(${rules.size}, $stacked) as (rule, n_violations)")
      .select(col("rule"), col("n_rows"), col("n_violations"),
        (col("n_violations") === 0L).as("pass"))
  }

  val q240Sql: String =
    s"""WITH a AS (
       |  SELECT count(*) AS n_rows,
       |    sum(CASE WHEN NOT (value >= 0) THEN 1 ELSE 0 END) AS v1,
       |    sum(CASE WHEN NOT (value <= $CONTRACT_VALUE_MAX) THEN 1 ELSE 0 END)
       |      AS v2,
       |    sum(CASE WHEN NOT (ts >= TIMESTAMP '$CONTRACT_TS_LO'
       |      AND ts < TIMESTAMP '$CONTRACT_TS_HI') THEN 1 ELSE 0 END) AS v3,
       |    sum(CASE WHEN event_type NOT IN
       |      ('click', 'view', 'purchase', 'signup', 'error')
       |      THEN 1 ELSE 0 END) AS v4,
       |    sum(CASE WHEN TRY_CAST(props ->> 'k' AS BIGINT) IS NULL
       |      THEN 1 ELSE 0 END) AS v5
       |  FROM events)
       |SELECT 'value_non_negative' AS rule, n_rows,
       |  CAST(v1 AS BIGINT) AS n_violations, v1 = 0 AS pass FROM a
       |UNION ALL SELECT 'value_below_max', n_rows, CAST(v2 AS BIGINT),
       |  v2 = 0 FROM a
       |UNION ALL SELECT 'ts_in_window', n_rows, CAST(v3 AS BIGINT),
       |  v3 = 0 FROM a
       |UNION ALL SELECT 'event_type_enum', n_rows, CAST(v4 AS BIGINT),
       |  v4 = 0 FROM a
       |UNION ALL SELECT 'props_k_parses', n_rows, CAST(v5 AS BIGINT),
       |  v5 = 0 FROM a
       |ORDER BY rule""".stripMargin

  /** q244: ATTRIBUTION MODEL COMPARISON — the same purchases credited
    * under LAST-touch (q201's rule) and FIRST-touch in one pass, with
    * the per-campaign delta: attribution-model sensitivity is the
    * first thing a marketing-analytics reviewer asks for, and the two
    * models differ exactly where journeys cross campaigns. One window
    * pass computes BOTH running aggregates (last click and first
    * click within the lookback — the first-touch side keeps the
    * earliest click still inside the window via a min over a struct
    * key); the report is a campaign-grain rollup of both credits.
    * For determinism the first-touch rule here is "earliest click in
    * the user's history at most [[ATTR_LOOKBACK_US]] before the
    * purchase" evaluated per purchase from running aggregates, so no
    * self-join ever materializes.
    */
  def q244AttributionCompare(spark: SparkSession, dir: String): DataFrame = {
    val upToHere = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"),
        (get_json_object(col("props"), "$.k").cast("long") % ATTR_CAMPAIGNS)
          .as("camp"))
      .withColumn("click_key",
        when(col("event_type") === "click",
          unix_micros(col("ts")) * lit(1000) + col("camp")))
    val enriched = ev
      .withColumn("last_ck",
        last(col("click_key"), ignoreNulls = true).over(upToHere))
      // earliest click key >= (purchase ts − lookback): a running min
      // cannot expire old clicks, so collect the (bounded, per-user)
      // ordered click keys and pick the first inside the window
      .withColumn("clicks_so_far",
        collect_list(col("click_key")).over(upToHere))
      .filter(col("event_type") === "purchase")
      .withColumn("cut",
        (unix_micros(col("ts")) - ATTR_LOOKBACK_US) * lit(1000))
      .withColumn("first_ck",
        expr("array_min(filter(clicks_so_far, c -> c >= cut))"))
    def camp(key: org.apache.spark.sql.Column) =
      when(key.isNotNull, pmod(key, lit(1000))).otherwise(lit(-1L))
    val lastValid = col("last_ck").isNotNull &&
      col("last_ck") >= col("cut")
    enriched
      .select(col("value"),
        when(lastValid, pmod(col("last_ck"), lit(1000))).otherwise(lit(-1L))
          .as("last_camp"),
        camp(col("first_ck")).as("first_camp"))
      .withColumn("cents", floor(col("value") * 100 + lit(0.5)).cast("long"))
      .select(explode(array(
        struct(col("last_camp").as("campaign"), lit("last").as("model"),
          col("cents")),
        struct(col("first_camp").as("campaign"), lit("first").as("model"),
          col("cents")))).as("e"))
      .groupBy(col("e.campaign").as("campaign"), col("e.model").as("model"))
      .agg(count(lit(1)).as("n_purchases"), sum("e.cents").as("revenue_cents"))
  }

  val q244Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id, event_type, value,
       |    CASE WHEN event_type = 'click'
       |      THEN epoch_us(ts) * 1000
       |        + CAST(props ->> 'k' AS BIGINT) % $ATTR_CAMPAIGNS
       |    END AS click_key
       |  FROM events),
       |w AS (
       |  SELECT *,
       |    last_value(click_key IGNORE NULLS) OVER
       |      (PARTITION BY user_id ORDER BY ts, event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_ck,
       |    list(click_key) OVER
       |      (PARTITION BY user_id ORDER BY ts, event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS clicks_so_far
       |  FROM ev),
       |p AS (
       |  SELECT value,
       |    (epoch_us(ts) - $ATTR_LOOKBACK_US) * 1000 AS cut,
       |    last_ck,
       |    list_min(list_filter(clicks_so_far,
       |      c -> c IS NOT NULL AND c >= (epoch_us(ts) - $ATTR_LOOKBACK_US) * 1000))
       |      AS first_ck
       |  FROM w WHERE event_type = 'purchase'),
       |c AS (
       |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
       |    CASE WHEN last_ck IS NOT NULL AND last_ck >= cut
       |      THEN last_ck % 1000 ELSE -1 END AS last_camp,
       |    CASE WHEN first_ck IS NOT NULL THEN first_ck % 1000 ELSE -1 END
       |      AS first_camp
       |  FROM p)
       |SELECT last_camp AS campaign, 'last' AS model,
       |  count(*) AS n_purchases, CAST(sum(cents) AS BIGINT) AS revenue_cents
       |FROM c GROUP BY 1
       |UNION ALL
       |SELECT first_camp, 'first', count(*), CAST(sum(cents) AS BIGINT)
       |FROM c GROUP BY 1
       |ORDER BY campaign, model""".stripMargin

  /** Purge-list selector for q273 — every 131st customer key. */
  val PURGE_MOD = 131

  /** q273: RIGHT-TO-FORGET PURGE AUDIT — the pre-deletion impact
    * report a privacy/erasure request pipeline produces before it
    * rewrites anything: given a purge list of customer keys, count the
    * rows each table would lose (customer directly, orders via
    * o_custkey, lineitem transitively through its order) and how many
    * distinct purge keys actually touch each table.
    *
    * Scale shape: the purge list is ids — tiny next to the fact tables
    * even when the request backlog is millions — so every probe is a
    * BROADCAST semi/inner join; lineitem never joins the purge list
    * directly but goes through the (orderkey -> custkey) bridge
    * projected from orders, which is itself purge-filtered FIRST so
    * the bridge that broadcasts is purge-sized, not orders-sized. One
    * map-side-combined aggregate per table, unioned; no shuffle on
    * any fact table.
    */
  def q273ForgetAudit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val purge = t.customer.select(col("c_custkey").as("k"))
      .filter(col("k") % PURGE_MOD === 0)
    val custRow = t.customer.join(broadcast(purge),
        col("c_custkey") === col("k"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("k")).as("n_keys"))
      .select(lit("customer").as("table_name"), col("n_rows"), col("n_keys"))
    val ordersHit = t.orders.join(broadcast(purge),
        col("o_custkey") === col("k"))
      .select(col("o_orderkey"), col("k"))
      .transform(graft.operators.Pins.pin)
    val ordRow = ordersHit
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("k")).as("n_keys"))
      .select(lit("orders").as("table_name"), col("n_rows"), col("n_keys"))
    val liRow = t.lineitem.join(broadcast(ordersHit),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("k")).as("n_keys"))
      .select(lit("lineitem").as("table_name"), col("n_rows"), col("n_keys"))
    custRow.unionByName(ordRow).unionByName(liRow)
  }

  val q273Sql: String =
    s"""WITH purge AS (
      |  SELECT c_custkey AS k FROM customer WHERE c_custkey % $PURGE_MOD = 0),
      |oh AS (
      |  SELECT o_orderkey, k FROM orders JOIN purge ON o_custkey = k)
      |SELECT 'customer' AS table_name, count(*) AS n_rows,
      |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys
      |FROM customer JOIN purge ON c_custkey = k
      |UNION ALL
      |SELECT 'orders', count(*), CAST(count(DISTINCT k) AS BIGINT)
      |FROM oh
      |UNION ALL
      |SELECT 'lineitem', count(*), CAST(count(DISTINCT k) AS BIGINT)
      |FROM lineitem JOIN oh ON l_orderkey = o_orderkey
      |ORDER BY table_name""".stripMargin

  /** q337: U-SHAPED (POSITION-BASED) MULTI-TOUCH ATTRIBUTION — the
    * third attribution model next to q201's last-touch and q244's
    * first-vs-last compare: each converting user's journey (every
    * event strictly before their FIRST purchase, in (ts, event_id)
    * stream order) splits one unit of credit 40/20/40 — 40% to the
    * first touch, 40% to the last, 20% spread evenly over the middle
    * (n=1 ⇒ 100%, n=2 ⇒ 50/50). Credit is integer micro-units with
    * floor on the middle share (a journey's credits may undershoot
    * 1e6 by the documented remainder — exactness beats cosmetics).
    * Rolled up per touched event type.
    *
    * Scale shape: the first-purchase table is one (user)-keyed
    * aggregate (min over the packed (ts, event_id) struct — no
    * window); the journey filter joins it back on the SAME user key
    * (one shuffle, co-partitioned); position/length come from one
    * user-partitioned window pass; the rollup is |types|-bounded.
    */
  def q337UShapedAttribution(spark: SparkSession, dir: String): DataFrame = {
    val key = struct(col("ts").as("ts"), col("event_id").as("event_id"))
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(key).as("fp"))
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val journey = ev.join(fp, "user_id")
      .filter(key < col("fp"))
      .withColumn("pos", row_number().over(byUser))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
    journey
      .withColumn("credit_micro",
        when(col("n") === 1, 1000000L)
          .when(col("n") === 2, 500000L)
          .when(col("pos") === 1 || col("pos") === col("n"), 400000L)
          .otherwise(floor(lit(200000.0) / (col("n") - 2)).cast("long")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_touches"),
        countDistinct("user_id").as("n_users"),
        sum("credit_micro").as("credit_micro"))
  }

  val q337Sql: String =
    """WITH fp AS (
      |  SELECT user_id, epoch_us(ts) AS fts, event_id AS feid
      |  FROM events WHERE event_type = 'purchase'
      |  QUALIFY row_number() OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id) = 1),
      |j AS (
      |  SELECT e.user_id, e.event_type,
      |    row_number() OVER w AS pos,
      |    count(*) OVER (PARTITION BY e.user_id) AS n
      |  FROM events e JOIN fp USING (user_id)
      |  WHERE (epoch_us(e.ts), e.event_id) < (fp.fts, fp.feid)
      |  WINDOW w AS (PARTITION BY e.user_id ORDER BY e.ts, e.event_id)),
      |c AS (
      |  SELECT user_id, event_type,
      |    CASE WHEN n = 1 THEN 1000000
      |         WHEN n = 2 THEN 500000
      |         WHEN pos = 1 OR pos = n THEN 400000
      |         ELSE CAST(floor(200000.0 / (n - 2)) AS BIGINT)
      |    END AS credit_micro
      |  FROM j)
      |SELECT event_type, count(*) AS n_touches,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(sum(credit_micro) AS BIGINT) AS credit_micro
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** q363 SLO error budget: tolerated long-run error share (micro). */
  val SLO_BUDGET_MICRO = 250000L

  /** q363 long window length in hours (trailing, inclusive). */
  val SLO_LONG_HOURS = 6

  /** q363 alert threshold on the burn rate (micro): both windows must
    * burn ≥ 1.2× budget simultaneously. */
  val SLO_BURN_THRESH_MICRO = 1200000L

  /** q363: MULTI-WINDOW SLO BURN-RATE ALERTS — the SRE-workbook
    * alerting recipe: an alert fires only when BOTH the short window
    * (1h) and the long window ([[SLO_LONG_HOURS]]h trailing) burn the
    * error budget faster than the threshold — the short window gives
    * fast detection, the long window suppresses blips, and their
    * conjunction is what keeps pages actionable. Complements q99
    * (statistical anomaly vs own history) and q143/q353 (level
    * shifts): this one alerts against a POLICY (the SLO), not a model.
    *
    * Scale shape: the log collapses to the |hours| rollup in one
    * map-side-combined pass; the trailing window and flags run on
    * that rollup. Determinism: counts are integers; each burn rate is
    * one micro-quantized division (err/total/budget as exact
    * integers), and the alert conjunction compares integers.
    */
  def q363SloBurnRate(spark: SparkSession, dir: String): DataFrame = {
    val hours = Tables(spark, dir).events
      .groupBy(expr("unix_micros(ts) div 3600000000").as("hour"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("err"))
    val trail = Window.orderBy("hour")
      .rowsBetween(-(SLO_LONG_HOURS - 1), Window.currentRow)
    def burn(e: Column, t: Column): Column =
      floor(e.cast("double") / t.cast("double") /
        (lit(SLO_BUDGET_MICRO.toDouble) / lit(1e6)) * lit(1e6) + lit(0.5))
        .cast("long")
    hours
      .withColumn("err_l", sum("err").over(trail))
      .withColumn("n_l", sum("n").over(trail))
      .select(col("hour"), col("n"), col("err"),
        burn(col("err"), col("n")).as("burn_short_micro"),
        burn(col("err_l"), col("n_l")).as("burn_long_micro"))
      .withColumn("alert",
        col("burn_short_micro") >= SLO_BURN_THRESH_MICRO &&
          col("burn_long_micro") >= SLO_BURN_THRESH_MICRO)
  }

  val q363Sql: String =
    s"""WITH h AS (
      |  SELECT CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hour,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS err
      |  FROM events GROUP BY 1),
      |t AS (
      |  SELECT hour, n, err,
      |    CAST(sum(err) OVER w AS BIGINT) AS err_l,
      |    CAST(sum(n) OVER w AS BIGINT) AS n_l
      |  FROM h
      |  WINDOW w AS (ORDER BY hour
      |    ROWS BETWEEN ${SLO_LONG_HOURS - 1} PRECEDING AND CURRENT ROW)),
      |b AS (
      |  SELECT hour, n, err,
      |    CAST(floor(CAST(err AS DOUBLE) / CAST(n AS DOUBLE) /
      |      (${SLO_BUDGET_MICRO.toDouble} / 1e6) * 1e6 + 0.5) AS BIGINT)
      |      AS burn_short_micro,
      |    CAST(floor(CAST(err_l AS DOUBLE) / CAST(n_l AS DOUBLE) /
      |      (${SLO_BUDGET_MICRO.toDouble} / 1e6) * 1e6 + 0.5) AS BIGINT)
      |      AS burn_long_micro
      |  FROM t)
      |SELECT hour, n, err, burn_short_micro, burn_long_micro,
      |  burn_short_micro >= $SLO_BURN_THRESH_MICRO
      |    AND burn_long_micro >= $SLO_BURN_THRESH_MICRO AS alert
      |FROM b ORDER BY hour""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q363_slo_burn_rate" -> Gate.sorted(q363SloBurnRate _, "hour"),
    "q337_ushaped_attribution" ->
      Gate.sorted(q337UShapedAttribution _, "event_type"),
    "q273_forget_audit" -> Gate.sorted(q273ForgetAudit _, "table_name"),
    "q244_attribution_compare" ->
      Gate.sorted(q244AttributionCompare _, "campaign", "model"),
    "q201_last_touch" -> Gate.sorted(q201LastTouch _, "campaign"),
    "q202_lateness_profile" -> Gate.sorted(q202LatenessProfile _, "late_min"),
    "q240_event_contract" -> Gate.sorted(q240EventContract _, "rule"))

  val oracles: Map[String, String] = Map(
    "q363_slo_burn_rate" -> q363Sql,
    "q337_ushaped_attribution" -> q337Sql,
    "q273_forget_audit" -> q273Sql,
    "q244_attribution_compare" -> q244Sql,
    "q201_last_touch" -> q201Sql,
    "q202_lateness_profile" -> q202Sql,
    "q240_event_contract" -> q240Sql)
}
