package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 temporal / sequence analytics over the event log: Markov
  * transition matrices, series autocorrelation, and the temporal
  * anti-sequence ("A never followed by B within T") — the three
  * sequence shapes the inventory's funnel/sessionization families did
  * not yet express. All per-user passes shuffle ONCE on user_id (the
  * same key as q37/q73), then reduce to tiny aggregates.
  *
  * Stream order is (ts, event_id) everywhere — the same total order
  * the sessionization family pins — so results are deterministic under
  * equal timestamps in both engines.
  */
object TemporalOps extends QueryModule {

  /** q162: EVENT-TYPE MARKOV TRANSITION MATRIX — for each ordered pair
    * (prev_type -> next_type), the transition count and row-normalized
    * probability. ONE window pass (lag over the user-partitioned
    * stream), then an aggregate on a 25-cell domain: the shuffle after
    * the window is negligible at any scale. Probability is reported in
    * integer micro-units; `floor(n*1e6/total + 0.5)` on BIGINT inputs
    * is bit-identical across engines.
    */
  def q162MarkovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = Tables(spark, dir).events
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val byPrev = Window.partitionBy("prev_type")
    trans
      .withColumn("prob_micro",
        floor(col("n") * lit(1e6) / sum("n").over(byPrev) + lit(0.5))
          .cast("long"))
      .select("prev_type", "next_type", "n", "prob_micro")
  }

  val q162Sql: String =
    """WITH tr AS (
      |  SELECT lag(event_type) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
      |    event_type AS next_type
      |  FROM events),
      |cnt AS (
      |  SELECT prev_type, next_type, count(*) AS n
      |  FROM tr WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, next_type, n,
      |  CAST(floor(n * 1e6 / sum(n) OVER (PARTITION BY prev_type) + 0.5)
      |    AS BIGINT) AS prob_micro
      |FROM cnt ORDER BY prev_type, next_type""".stripMargin

  /** Autocorrelation lags computed by q163. */
  val ACF_LAGS: Seq[Int] = Seq(1, 2, 3)

  /** q163: DAILY-SERIES AUTOCORRELATION — lag-k Pearson correlation of
    * the daily event-count series, the seasonality probe a monitoring
    * pipeline runs on ingest volumes. The heavy part is ONE count
    * aggregate to the day grain (map-side combined, ~30 output rows at
    * any fact scale); the lag alignment and correlation run on that
    * tiny series, where each lag's moments come from exact BIGINT sums
    * of count products (pairs t in [1, n-k]: standard sample Pearson
    * over the aligned pairs). The final division is one double
    * expression over identical integers in both engines, reported in
    * micro-units.
    */
  def q163DailyAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val byDay = Window.orderBy("day")
    val lagged = daily.select(
      col("c") +: ACF_LAGS.map(k => lag("c", k).over(byDay).as(s"c_$k")): _*)
    val acfs = ACF_LAGS.map { k =>
      val x = col(s"sx_$k").cast("double"); val y = col(s"sy_$k").cast("double")
      val xx = col(s"sxx_$k").cast("double"); val yy = col(s"syy_$k").cast("double")
      val xy = col(s"sxy_$k").cast("double"); val n = col(s"n_$k").cast("double")
      struct(lit(k).as("lag"),
        floor((n * xy - x * y) /
          (sqrt(n * xx - x * x) * sqrt(n * yy - y * y)) * lit(1e6) + lit(0.5))
          .cast("long").as("acf_micro"))
    }
    val aggCols: Seq[org.apache.spark.sql.Column] = ACF_LAGS.flatMap { k =>
      val pair = col(s"c_$k").isNotNull
      Seq(
        sum(when(pair, col("c"))).as(s"sx_$k"),
        sum(when(pair, col(s"c_$k"))).as(s"sy_$k"),
        sum(when(pair, col("c") * col("c"))).as(s"sxx_$k"),
        sum(when(pair, col(s"c_$k") * col(s"c_$k"))).as(s"syy_$k"),
        sum(when(pair, col("c") * col(s"c_$k"))).as(s"sxy_$k"),
        count(when(pair, lit(1))).as(s"n_$k"))
    }
    lagged.agg(aggCols.head, aggCols.tail: _*)
      .select(explode(array(acfs: _*)).as("e"))
      .select(col("e.lag").as("lag"), col("e.acf_micro").as("acf_micro"))
  }

  val q163Sql: String = {
    val lagSelects = ACF_LAGS.map { k =>
      s"""SELECT $k AS lag,
         |  CAST(floor((n*sxy - sx*sy) /
         |    (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)) * 1e6 + 0.5)
         |    AS BIGINT) AS acf_micro
         |FROM (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(c) AS DOUBLE) AS sx, CAST(sum(ck) AS DOUBLE) AS sy,
         |    CAST(sum(c*c) AS DOUBLE) AS sxx,
         |    CAST(sum(ck*ck) AS DOUBLE) AS syy,
         |    CAST(sum(c*ck) AS DOUBLE) AS sxy
         |  FROM (SELECT c, lag(c, $k) OVER (ORDER BY day) AS ck FROM daily)
         |  WHERE ck IS NOT NULL)""".stripMargin
    }
    s"""WITH daily AS (
       |  SELECT date_trunc('day', ts) AS day, count(*) AS c
       |  FROM events GROUP BY 1)
       |${lagSelects.mkString("\nUNION ALL\n")}
       |ORDER BY lag""".stripMargin
  }

  /** q164 abandonment window (micros): a click converts only if a
    * purchase follows within this bound.
    */
  val ABANDON_US: Long = 3600L * 1000000L

  /** q164: TEMPORAL ANTI-SEQUENCE ("abandoned clicks") — per user, the
    * clicks NOT followed by a purchase within one hour. The naive
    * semantics is a correlated NOT EXISTS over the same log (the
    * oracle states it literally); the Spark plan is ONE running-min
    * window over the user-partitioned stream — `next purchase ts` for
    * every row via min-over-following-rows — so the fact table is
    * scanned once, never self-joined. The window frame is unbounded
    * following; Spark evaluates it with a reverse running min, not a
    * per-row rescan.
    */
  def q164AbandonedClicks(spark: SparkSession, dir: String): DataFrame = {
    val after = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(1, Window.unboundedFollowing)
    Tables(spark, dir).events
      .withColumn("next_purchase_us",
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .over(after))
      .filter(col("event_type") === "click")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_clicks"),
        sum(when(col("next_purchase_us").isNull ||
          col("next_purchase_us") - unix_micros(col("ts")) > ABANDON_US,
          1L).otherwise(0L)).as("n_abandoned"))
  }

  val q164Sql: String =
    s"""SELECT c.user_id, count(*) AS n_clicks,
       |  CAST(sum(CASE WHEN NOT EXISTS (
       |    SELECT 1 FROM events p
       |    WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
       |      AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
       |      AND epoch_us(p.ts) - epoch_us(c.ts) <= $ABANDON_US
       |  ) THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned
       |FROM events c
       |WHERE c.event_type = 'click'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q170: PER-USER EWMA (alpha = 1/2) — the exponentially-weighted
    * running level a monitoring/feature pipeline keeps per entity. An
    * EWMA is inherently a sequential fold, which most engines punt to
    * driver loops; here it is ONE aggregate: collect the user's
    * (ts, event_id, value) readings, sort in stream order, and fold
    * with the INTEGER recurrence `e' = (e + v_centi) >> 1` (alpha=1/2
    * on non-negative centi-units — floor division, bit-identical in
    * any engine, no float accumulation drift). Per-user history is
    * bounded (the same assumption as q84's session paths); the only
    * shuffle is the user_id aggregate every other per-user pass
    * shares. The oracle is DuckDB's ordered list + list_reduce of the
    * same recurrence.
    */
  def q170UserEwma(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("us"), col("event_id"),
          floor(col("value") * lit(100) + lit(0.5)).cast("long").as("v_c"))
          .as("r"))
    ev.groupBy("user_id")
      .agg(sort_array(collect_list("r")).as("rs"))
      .select(col("user_id"), size(col("rs")).as("n_events"),
        aggregate(
          expr("slice(rs, 2, size(rs) - 1)"),
          col("rs")(0).getField("v_c"),
          (acc, x) => shiftright(acc + x.getField("v_c"), 1))
          .as("ewma_c"))
  }

  val q170Sql: String =
    """SELECT user_id, CAST(count(*) AS INTEGER) AS n_events,
      |  list_reduce(
      |    list(CAST(floor(value * 100 + 0.5) AS BIGINT) ORDER BY ts, event_id),
      |    (a, b) -> (a + b) >> 1) AS ewma_c
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q231 report depth: trigrams ranked by count; dense_rank keeps
    * ties so the cut is deterministic without an arbitrary row drop.
    */
  val TRIGRAM_TOP = 10

  /** q231: FREQUENT EVENT TRIGRAMS — the top consecutive 3-step
    * behavior patterns across all user streams, the sequence-mining
    * step between q162's first-order transitions and full
    * pattern-matching (q194's CEP): second-order structure (does
    * view→click behave differently after an error?) lives here. ONE
    * window pass (two lags over the user-partitioned stream — the
    * same exchange every sequence query shares), a 125-cell rollup,
    * and a dense-rank cut that keeps count ties.
    */
  def q231EventTrigrams(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tri = Tables(spark, dir).events
      .withColumn("t1", lag("event_type", 2).over(byUser))
      .withColumn("t2", lag("event_type", 1).over(byUser))
      .filter(col("t1").isNotNull)
      .groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
      .agg(count(lit(1)).as("n"))
    val rk = Window.orderBy(col("n").desc)
    tri.withColumn("rank", dense_rank().over(rk))
      .filter(col("rank") <= TRIGRAM_TOP)
      .select("rank", "t1", "t2", "t3", "n")
  }

  val q231Sql: String =
    s"""WITH tri AS (
      |  SELECT lag(event_type, 2) OVER w AS t1,
      |    lag(event_type, 1) OVER w AS t2,
      |    event_type AS t3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |c AS (
      |  SELECT t1, t2, t3, count(*) AS n
      |  FROM tri WHERE t1 IS NOT NULL GROUP BY 1, 2, 3),
      |r AS (
      |  SELECT CAST(dense_rank() OVER (ORDER BY n DESC) AS INTEGER) AS rank,
      |    t1, t2, t3, n
      |  FROM c)
      |SELECT rank, t1, t2, t3, n FROM r
      |WHERE rank <= $TRIGRAM_TOP
      |ORDER BY rank, t1, t2, t3""".stripMargin

  /** q236 backtest horizon: the seasonal-naive forecast repeats the
    * value from this many days earlier (one week).
    */
  val FORECAST_LAG_DAYS = 7

  /** q236: SEASONAL-NAIVE FORECAST BACKTEST — the baseline every
    * forecasting system must beat: predict day t's per-type volume
    * and value with day t−7, then score MAE / bias / MAPE over the
    * backtest window. Deciding "is the fancy model better than
    * seasonal-naive" is THE forecasting-ops question, and the metrics
    * here are exact: integer absolute errors summed per type, MAPE in
    * micro from cross-multiplied integers. One day-grain rollup (map-
    * side combined), one lag window on the tiny series, one report
    * aggregate.
    */
  def q236ForecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy("event_type").orderBy("day")
    val daily = Tables(spark, dir).events
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("v_c"))
    daily
      .withColumn("pred_n", lag("n", FORECAST_LAG_DAYS).over(byType))
      .withColumn("pred_v", lag("v_c", FORECAST_LAG_DAYS).over(byType))
      .filter(col("pred_n").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        floor(sum(abs(col("n") - col("pred_n"))) * lit(1e6) / count(lit(1))
          + lit(0.5)).cast("long").as("mae_n_micro"),
        sum(col("n") - col("pred_n")).as("bias_n"),
        // per-day percentage errors as INTEGER micro (|Δ|·1e6 div v)
        // before summing — a double sum would be partition-order-
        // dependent; the integer sum is exact and order-free
        floor(sum(expr("(abs(v_c - pred_v) * 1000000) div v_c")) /
          count(lit(1)) + lit(0.5)).cast("long").as("mape_v_micro"))
  }

  val q236Sql: String =
    s"""WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    count(*) AS n,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v_c
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT *,
      |    lag(n, $FORECAST_LAG_DAYS) OVER w AS pred_n,
      |    lag(v_c, $FORECAST_LAG_DAYS) OVER w AS pred_v
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day))
      |SELECT event_type, count(*) AS n_days,
      |  CAST(floor(sum(abs(n - pred_n)) * 1e6 / count(*) + 0.5) AS BIGINT)
      |    AS mae_n_micro,
      |  CAST(sum(n - pred_n) AS BIGINT) AS bias_n,
      |  CAST(floor(sum((abs(v_c - pred_v) * 1000000) // v_c)
      |    / count(*) + 0.5) AS BIGINT) AS mape_v_micro
      |FROM p WHERE pred_n IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q246 decay geometry: one half-life epoch per 30 days, weights as
    * integer units of 2^40 (an epoch older = one right-shift), so the
    * decayed scores are exact BIGINT sums with no pow()/exp() anywhere.
    */
  val DECAY_EPOCH_DAYS = 30L
  val DECAY_UNIT_SHIFT = 40
  val DECAY_TOP = 20

  /** q246: RECENCY-DECAYED POPULARITY — the trending-items ranking:
    * each shipment contributes a half-life-decayed weight (half per
    * 30-day epoch of age), so a recently-hot part outranks a
    * historically-popular but cold one. The classic formulation is
    * exp(-λ·age) — float, order-dependent, engine-divergent; this
    * plan quantizes age to epochs and makes every weight an exact
    * power-of-two integer (`2^40 >> epochs`), so the per-part scores
    * are plain BIGINT sums and the top-20 is a TakeOrdered with an
    * exact ordering. One scan + a broadcast 1-row max-date.
    */
  def q246DecayedPopularity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
      .select(col("l_partkey"),
        expr("unix_micros(l_shipdate) div 86400000000").as("day"))
    val mx = li.agg(max("day").as("max_day"))
    li.crossJoin(broadcast(mx))
      .select(col("l_partkey"),
        expr(s"shiftright(${1L << DECAY_UNIT_SHIFT}L, " +
          s"cast(least((max_day - day) div $DECAY_EPOCH_DAYS, " +
          s"$DECAY_UNIT_SHIFT) as int))").as("w"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_shipments"), sum("w").as("score_units"))
      .orderBy(col("score_units").desc, col("l_partkey"))
      .limit(DECAY_TOP)
  }

  val q246Sql: String =
    s"""WITH li AS (
      |  SELECT l_partkey, epoch_us(l_shipdate) // 86400000000 AS day
      |  FROM lineitem),
      |mx AS (SELECT max(day) AS max_day FROM li)
      |SELECT l_partkey, count(*) AS n_shipments,
      |  CAST(sum(${1L << DECAY_UNIT_SHIFT} >>
      |    least((max_day - day) // $DECAY_EPOCH_DAYS, $DECAY_UNIT_SHIFT))
      |    AS BIGINT) AS score_units
      |FROM li CROSS JOIN mx
      |GROUP BY 1
      |ORDER BY score_units DESC, l_partkey LIMIT $DECAY_TOP""".stripMargin

  /** q276: TRAILING-WINDOW EXACT MEDIAN — per day, the lower median of
    * the trailing 7 days of total order revenue: the robust smoother
    * dashboards put next to the trailing mean because one flash-sale
    * day drags a mean for a week but moves the median not at all.
    *
    * Exactness: revenue quantizes to integer cents at the scan, the
    * window materializes its <= 7 values as a sorted array, and the
    * LOWER median (element ceil(n/2) of the sorted run — both engines
    * index lists 1-based) is an actual data value, so the gate
    * compares BIGINTs with no interpolation anywhere. Scale: the
    * per-day rollup shuffles once map-side-combined down to ~365
    * rows/year — a bounded series at ANY fact scale, so the single
    * unpartitioned 7-row window that follows is a deliberate
    * driver-scale step, the same budget every q163-class daily series
    * op pays; the fact table never meets a window.
    */
  def q276TrailingMedian(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(expr("unix_micros(o_orderdate) div 86400000000").as("day"))
      .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
        .as("rev_c"))
    val trail = Window.orderBy("day").rowsBetween(-6, 0)
    daily
      .withColumn("vals", collect_list("rev_c").over(trail))
      .select(col("day"), col("rev_c"),
        expr("element_at(array_sort(vals), CAST((size(vals) + 1) div 2 AS INT))")
          .as("med7_c"),
        size(col("vals")).cast("long").as("n_days"))
  }

  val q276Sql: String =
    """WITH daily AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS rev_c
      |  FROM orders GROUP BY 1),
      |t AS (
      |  SELECT day, rev_c,
      |    list(rev_c) OVER (ORDER BY day
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS vals
      |  FROM daily)
      |SELECT day, rev_c,
      |  list_sort(vals)[CAST((len(vals) + 1) // 2 AS INT)] AS med7_c,
      |  CAST(len(vals) AS BIGINT) AS n_days
      |FROM t ORDER BY day""".stripMargin

  /** q292: TUMBLING OHLC BARS — per (event_type, hour): the first
    * (open) and last (close) event value in time order plus the
    * high/low/count, the candlestick rollup every metrics/monitoring
    * series renders. Exercises min_by/max_by (DuckDB arg_min/arg_max)
    * — the ordered-selection aggregates no other query touches —
    * instead of two extra window passes.
    *
    * Scale shape: ONE map-side-combined aggregate over the fact scan
    * (min_by partials merge associatively like min), |types x hours|
    * output rows. Determinism: the ordering key packs (ts, event_id)
    * into one fixed-width zero-padded STRING ("%020d%010d" of µs since
    * the unix epoch and the id) whose lexicographic order equals the
    * numeric (ts, event_id) order for any post-1970 timestamp and any
    * id < 10^10 — ties in ts cannot make the two engines pick
    * different rows, and unlike the round-6 BIGINT pack
    * ((µs−epoch)·1e5+id) there is no silent Long wrap once timestamps
    * stray >2.9 years from the epoch constant. Open/close VALUES pass
    * through exactly (no arithmetic on them at all).
    */
  def q292OhlcBars(spark: SparkSession, dir: String): DataFrame = {
    val pack = format_string("%020d%010d", unix_micros(col("ts")),
      col("event_id"))
    Tables(spark, dir).events
      .groupBy(col("event_type"),
        date_format(date_trunc("HOUR", col("ts")), "yyyy-MM-dd HH").as("hour"))
      .agg(min_by(col("value"), pack).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), pack).as("close"),
        count(lit(1)).as("n"))
  }

  val q292Sql: String =
    s"""SELECT event_type,
      |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
      |  arg_min(value, printf('%020d%010d', epoch_us(ts), event_id))
      |    AS open,
      |  max(value) AS high,
      |  min(value) AS low,
      |  arg_max(value, printf('%020d%010d', epoch_us(ts), event_id))
      |    AS close,
      |  count(*) AS n
      |FROM events GROUP BY 1, 2
      |ORDER BY event_type, hour""".stripMargin

  /** q306 refractory period: a kept event suppresses same-keyed events
    * for this long (microseconds). */
  val DEBOUNCE_US = 3600000000L

  /** q306: EVENT DEBOUNCE (exact throttle) — keep an event iff it is
    * at least [[DEBOUNCE_US]] after the last KEPT event of the same
    * (user, type): the event-hygiene dedup for double-clicks, retry
    * storms, and alert refractory periods. This is NOT a lag-filter
    * (which compares to the previous RAW event and over-drops whole
    * chains) and not q37's sessionize (burst-first ≠ throttle): the
    * keep decision depends on the previous KEPT event, a sequential
    * fold per key — exactly q185's streaming-throttle contract, here
    * as its batch twin with event-level exactness.
    *
    * Both engines run the IDENTICAL left-to-right fold over the
    * (ts, event_id)-sorted per-key list (Spark `aggregate` HOF /
    * DuckDB `list_reduce`), so the kept set is deterministic by
    * construction, ties included.
    *
    * Scale shape: one shuffle on (user_id, event_type) — the
    * sessionization key — then per-key linear folds; state per key is
    * the kept-id list (bounded by per-key events / refractory rate; a
    * hot key streams through flatMapGroups in production, same
    * contract). Output carries kept events only.
    */
  def q306Debounce(spark: SparkSession, dir: String): DataFrame = {
    val evs = Tables(spark, dir).events
      .select(col("user_id"), col("event_type"),
        struct(expr("unix_micros(ts)").as("ts_us"),
          col("event_id")).as("e"))
      .groupBy("user_id", "event_type")
      .agg(sort_array(collect_list(col("e"))).as("evs"))
    evs.select(col("user_id"), col("event_type"),
        explode(expr(
          s"""aggregate(evs,
             |  struct(CAST(-4611686018427387904 AS BIGINT) AS last,
             |         CAST(array() AS ARRAY<BIGINT>) AS kept),
             |  (acc, e) -> IF(e.ts_us >= acc.last + ${DEBOUNCE_US}L,
             |    struct(e.ts_us AS last,
             |           concat(acc.kept, array(e.event_id)) AS kept),
             |    acc),
             |  acc -> acc.kept)""".stripMargin)).as("event_id"))
  }

  // DuckDB v1.0.0 clobbers STRUCT-typed list_reduce accumulators
  // (struct_pack(kept := list_concat(acc.kept, ...)) loses acc's
  // list — probed directly), so the oracle folds a LIST-of-kept-
  // INDICES accumulator instead, reading timestamps from the outer
  // sorted array — same left-to-right throttle recurrence.
  val q306Sql: String =
    s"""WITH keyed AS (
      |  SELECT user_id, event_type,
      |    list_sort(list(struct_pack(ts_us := epoch_us(ts),
      |                               event_id := event_id))) AS evs
      |  FROM events GROUP BY 1, 2),
      |folded AS (
      |  SELECT user_id, event_type, evs,
      |    list_reduce(
      |      list_prepend(CAST([1] AS BIGINT[]),
      |        list_transform(range(2, len(evs) + 1),
      |                       i -> [CAST(i AS BIGINT)])),
      |      (acc, e) -> CASE
      |        WHEN evs[CAST(e[1] AS INT)].ts_us >=
      |             evs[CAST(acc[len(acc)] AS INT)].ts_us + $DEBOUNCE_US
      |        THEN list_concat(acc, e) ELSE acc END) AS kept
      |  FROM keyed)
      |SELECT user_id, event_type,
      |  unnest(list_transform(kept, k -> evs[CAST(k AS INT)].event_id))
      |    AS event_id
      |FROM folded ORDER BY event_id""".stripMargin

  /** q335 train/eval boundary (the q66 cutoff, mid-corpus). */
  val MARKOV_SPLIT = graft.queries.SessionOps.DIFF_CUTOFF

  /** q335: MARKOV NEXT-EVENT PREDICTION EVAL — train q162's
    * first-order transition model on the first half of the stream
    * (argmax next_type per prev_type, ties broken lexicographically),
    * then measure top-1 accuracy per prev_type on held-out
    * transitions. A transition belongs to train/eval by the timestamp
    * of its DESTINATION event, so the boundary is well-defined even
    * for the pair straddling the cutoff. Everything is integer-exact:
    * the argmax compares raw counts, accuracy is emitted micro-
    * quantized from two BIGINTs.
    *
    * Scale shape: ONE user-partitioned pass builds all transitions
    * (the q162 lag), the model is a |types|²-bounded rollup whose
    * argmax runs on a prev_type-partitioned window, and the model
    * BROADCASTS back onto the eval rollup (|types|² rows). No
    * fact-sized shuffle after the lag.
    */
  def q335MarkovEval(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit(MARKOV_SPLIT).cast("timestamp")
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = Tables(spark, dir).events
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type"), col("event_type").as("next_type"),
        (col("ts") < cutoff).as("is_train"))
    val counts = trans.groupBy("prev_type", "next_type")
      .agg(sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("is_train"), 0L).otherwise(1L)).as("n_eval"))
    val byPrev = Window.partitionBy("prev_type")
      .orderBy(col("n_train").desc, col("next_type"))
    val model = counts.filter(col("n_train") > 0)
      .withColumn("rk", row_number().over(byPrev))
      .filter(col("rk") === 1)
      .select(col("prev_type"), col("next_type").as("predicted"))
    // model derives from counts, so the lookup is a self-join: alias
    // both sides or the prev_type equality collapses to trivially-true
    val modelHits = model.as("m").join(counts.as("c"),
        col("m.prev_type") === col("c.prev_type") &&
          col("m.predicted") === col("c.next_type"))
      .select(col("m.prev_type").as("prev_type"), col("m.predicted")
        .as("predicted"), col("c.n_eval").as("n_hit"))
    counts.groupBy("prev_type")
      .agg(sum("n_eval").as("n_eval"))
      .filter(col("n_eval") > 0)
      .join(broadcast(modelHits), Seq("prev_type"), "left")
      .select(col("prev_type"), col("predicted"), col("n_eval"),
        coalesce(col("n_hit"), lit(0L)).as("n_correct"),
        floor(coalesce(col("n_hit"), lit(0L)) * lit(1e6) / col("n_eval")
          + lit(0.5)).cast("long").as("acc_micro"))
  }

  val q335Sql: String =
    s"""WITH tr AS (
      |  SELECT lag(event_type) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
      |    event_type AS next_type,
      |    ts < TIMESTAMP '${graft.queries.SessionOps.DIFF_CUTOFF}' AS is_train
      |  FROM events),
      |cnt AS (
      |  SELECT prev_type, next_type,
      |    CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_train,
      |    CAST(sum(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
      |      AS n_eval
      |  FROM tr WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |model AS (
      |  SELECT prev_type, next_type AS predicted FROM (
      |    SELECT prev_type, next_type, row_number() OVER
      |        (PARTITION BY prev_type ORDER BY n_train DESC, next_type)
      |        AS rk
      |    FROM cnt WHERE n_train > 0) WHERE rk = 1),
      |hits AS (
      |  SELECT m.prev_type, m.predicted, c.n_eval AS n_hit
      |  FROM model m JOIN cnt c
      |    ON c.prev_type = m.prev_type AND c.next_type = m.predicted),
      |ev AS (
      |  SELECT prev_type, sum(n_eval) AS n_eval FROM cnt
      |  GROUP BY 1 HAVING sum(n_eval) > 0)
      |SELECT ev.prev_type, h.predicted, CAST(ev.n_eval AS BIGINT) AS n_eval,
      |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_correct,
      |  CAST(floor(coalesce(h.n_hit, 0) * 1e6 / ev.n_eval + 0.5)
      |    AS BIGINT) AS acc_micro
      |FROM ev LEFT JOIN hits h ON h.prev_type = ev.prev_type
      |ORDER BY 1""".stripMargin

  /** q336 quantile grid: (label, q) pairs; q is applied as an IEEE
    * DOUBLE literal in BOTH engines (a DECIMAL 0.9 * 10 ceils to 9
    * where the double ceils to 10 — the engines must share the
    * representation, not each pick their "natural" one).
    */
  val PINBALL_QS: Seq[(Int, Double)] = Seq(10 -> 0.1, 50 -> 0.5, 90 -> 0.9)

  /** q336: PINBALL-LOSS QUANTILE BACKTEST — per event type, forecast
    * the p10/p50/p90 of the DAILY event count from the training half
    * of the calendar (empirical order statistic: the ceil(q·n)-th
    * smallest train day — percentile_disc semantics, an exact
    * INTEGER, no interpolation), then score each forecast on the
    * held-out days with pinball loss Σ max(q·(y−f), (q−1)·(y−f)) —
    * the proper scoring rule for quantile forecasts (Koenker &
    * Bassett 1978 quantile regression loss). Complements q236's point
    * backtest with a full quantile band. Per-day terms micro-quantize
    * BEFORE summing, so aggregates stay BIGINT.
    *
    * Scale shape: ONE fact-sized aggregate to the (type, day) grain
    * (map-side combined); everything after runs on the calendar-
    * bounded rollup (|types|×|days|), where collect_list is legitimate
    * (bounded by the calendar, the q163/q236 convention). The
    * forecast table is |types|×3 and broadcasts onto the eval days.
    */
  def q336PinballBacktest(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit(MARKOV_SPLIT).cast("timestamp")
    val daily = Tables(spark, dir).events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val fcast = daily.filter(col("day") < cutoff)
      .groupBy("event_type")
      .agg(sort_array(collect_list("cnt")).as("s"), count(lit(1)).as("n"))
      .select(col("event_type"), explode(array(PINBALL_QS.map {
        case (lbl, q) =>
          struct(lit(lbl).as("q_label"), lit(q).as("qv"),
            element_at(col("s"),
              ceil(lit(q) * col("n")).cast("int")).as("f"))
      }: _*)).as("fq"))
      .select(col("event_type"), col("fq.q_label").as("q_label"),
        col("fq.qv").as("qv"), col("fq.f").as("f"))
    daily.filter(col("day") >= cutoff)
      .join(broadcast(fcast), "event_type")
      .select(col("event_type"), col("q_label"), col("f"),
        floor(greatest(
          col("qv") * (col("cnt") - col("f")),
          (col("qv") - lit(1.0)) * (col("cnt") - col("f"))) * lit(1e6)
          + lit(0.5)).cast("long").as("term_micro"))
      .groupBy("event_type", "q_label", "f")
      .agg(count(lit(1)).as("n_eval_days"),
        sum("term_micro").as("loss_micro"))
  }

  val q336Sql: String = {
    val grid = PINBALL_QS.map { case (l, q) => s"($l, CAST($q AS DOUBLE))" }
      .mkString(", ")
    s"""WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |tr AS (
      |  SELECT event_type, list_sort(list(cnt)) AS s, count(*) AS n
      |  FROM daily WHERE day < TIMESTAMP '$MARKOV_SPLIT' GROUP BY 1),
      |f AS (
      |  SELECT event_type, g.lbl AS q_label, g.qv,
      |    s[CAST(ceil(g.qv * n) AS INT)] AS f
      |  FROM tr, (VALUES $grid) g(lbl, qv))
      |SELECT d.event_type, f.q_label, CAST(f.f AS BIGINT) AS f,
      |  CAST(count(*) AS BIGINT) AS n_eval_days,
      |  CAST(sum(CAST(floor(greatest(
      |      f.qv * (d.cnt - f.f), (f.qv - 1.0) * (d.cnt - f.f)) * 1e6 + 0.5)
      |    AS BIGINT)) AS BIGINT) AS loss_micro
      |FROM daily d JOIN f USING (event_type)
      |WHERE d.day >= TIMESTAMP '$MARKOV_SPLIT'
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2""".stripMargin
  }

  /** q340: MARKOV LOG-LOSS / PERPLEXITY EVAL — the probabilistic
    * counterpart to q335's top-1 accuracy: score the held-out
    * transitions under the Laplace-smoothed train transition model
    * P(next|prev) = (n_train(prev,next)+1) / (n_train(prev)+K), and
    * report per-prev negative log-likelihood and perplexity
    * exp(NLL/n). Per-PAIR ln terms are micro-quantized then weighted
    * by exact eval counts, so every aggregate is BIGINT (the q128/q334
    * idiom); only the final exp touches floats, on identical inputs.
    *
    * Scale shape: identical to q335 — one user-partitioned lag pass,
    * then everything runs on the |types|²-bounded (prev, next) rollup
    * with the prev totals and the K scalar broadcast.
    */
  def q340MarkovPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit(MARKOV_SPLIT).cast("timestamp")
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = Tables(spark, dir).events
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type"), col("event_type").as("next_type"),
        (col("ts") < cutoff).as("is_train"))
    val counts = trans.groupBy("prev_type", "next_type")
      .agg(sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("is_train"), 0L).otherwise(1L)).as("n_eval"))
    val prevTot = counts.groupBy(col("prev_type").as("p"))
      .agg(sum("n_train").as("prev_tot"))
    val kTbl = counts.filter(col("n_train") > 0)
      .agg(countDistinct("next_type").as("k"))
    counts.filter(col("n_eval") > 0)
      .join(broadcast(prevTot), col("prev_type") === col("p"))
      .crossJoin(broadcast(kTbl))
      .select(col("prev_type"), col("n_eval"),
        (floor(log((col("n_train") + lit(1.0)) /
          (col("prev_tot") + col("k")).cast("double")) * lit(1e6)
          + lit(0.5)).cast("long") * lit(-1L) * col("n_eval"))
          .as("nll_contrib"))
      .groupBy("prev_type")
      .agg(sum("n_eval").as("n_eval"), sum("nll_contrib").as("nll_micro"))
      .select(col("prev_type"), col("n_eval"), col("nll_micro"),
        floor(exp(col("nll_micro").cast("double") / lit(1e6) /
          col("n_eval").cast("double")) * lit(1e6) + lit(0.5)).cast("long")
          .as("ppl_micro"))
  }

  val q340Sql: String =
    s"""WITH tr AS (
      |  SELECT lag(event_type) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
      |    event_type AS next_type,
      |    ts < TIMESTAMP '${graft.queries.SessionOps.DIFF_CUTOFF}' AS is_train
      |  FROM events),
      |cnt AS (
      |  SELECT prev_type, next_type,
      |    CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_train,
      |    CAST(sum(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
      |      AS n_eval
      |  FROM tr WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |pt AS (SELECT prev_type AS p, sum(n_train) AS prev_tot
      |       FROM cnt GROUP BY 1),
      |kk AS (SELECT count(DISTINCT next_type) AS k FROM cnt
      |       WHERE n_train > 0),
      |terms AS (
      |  SELECT c.prev_type, c.n_eval,
      |    CAST(floor(ln((c.n_train + 1.0) /
      |        CAST(pt.prev_tot + kk.k AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
      |      * -1 * c.n_eval AS nll_contrib
      |  FROM cnt c JOIN pt ON pt.p = c.prev_type CROSS JOIN kk
      |  WHERE c.n_eval > 0),
      |agg AS (
      |  SELECT prev_type, CAST(sum(n_eval) AS BIGINT) AS n_eval,
      |    CAST(sum(nll_contrib) AS BIGINT) AS nll_micro
      |  FROM terms GROUP BY 1)
      |SELECT prev_type, n_eval, nll_micro,
      |  CAST(floor(exp(CAST(nll_micro AS DOUBLE) / 1e6 /
      |    CAST(n_eval AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS ppl_micro
      |FROM agg ORDER BY prev_type""".stripMargin

  /** q341 calendar split: fit on days before FIT_END, calibrate on
    * [FIT_END, CAL_END), test on [CAL_END, ...). Miscoverage target
    * alpha = 0.2.
    */
  val CONF_FIT_END = "2024-01-11 00:00:00"
  val CONF_CAL_END = "2024-01-21 00:00:00"

  /** q341: SPLIT-CONFORMAL INTERVAL CALIBRATION — distribution-free
    * prediction intervals for the daily event count (Vovk et al.;
    * Lei et al. 2018 split-conformal recipe): fit a point forecast
    * (per-type train MEDIAN, the ceil(n/2)-th order stat) on the fit
    * days, take absolute residuals on the held-out CALIBRATION days,
    * set q̂ = the ceil((n_cal+1)(1−α))-th smallest calibration
    * residual (the finite-sample-valid conformal quantile), and
    * report empirical coverage of [f−q̂, f+q̂] on the TEST days.
    * Everything is integer order statistics on the calendar-bounded
    * rollup; coverage is the one micro-quantized ratio.
    *
    * Scale shape: identical to q336 — one fact-sized aggregate to the
    * (type, day) grain; fit/calibration/test all run on the
    * |types|×|days| rollup, with the per-type (f, q̂) table broadcast.
    */
  def q341ConformalCoverage(spark: SparkSession, dir: String): DataFrame = {
    val fitEnd = lit(CONF_FIT_END).cast("timestamp")
    val calEnd = lit(CONF_CAL_END).cast("timestamp")
    val daily = Tables(spark, dir).events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val fit = daily.filter(col("day") < fitEnd)
      .groupBy("event_type")
      .agg(sort_array(collect_list("cnt")).as("s"), count(lit(1)).as("n"))
      .select(col("event_type"),
        element_at(col("s"),
          ceil(col("n").cast("double") / 2).cast("int")).as("f"))
    val qhat = daily.filter(col("day") >= fitEnd && col("day") < calEnd)
      .join(broadcast(fit), "event_type")
      .select(col("event_type"), abs(col("cnt") - col("f")).as("r"),
        col("f"))
      .groupBy("event_type", "f")
      .agg(sort_array(collect_list("r")).as("rs"), count(lit(1)).as("nc"))
      .select(col("event_type"), col("f"), col("nc"),
        element_at(col("rs"),
          least(ceil((col("nc") + 1).cast("double") * lit(0.8)).cast("int"),
            col("nc").cast("int"))).as("qhat"))
    daily.filter(col("day") >= calEnd)
      .join(broadcast(qhat), "event_type")
      .groupBy("event_type", "f", "nc", "qhat")
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(col("cnt") - col("f")) <= col("qhat"), 1L)
          .otherwise(0L)).as("n_covered"))
      .select(col("event_type"), col("f"), col("qhat"), col("n_test"),
        col("n_covered"),
        floor(col("n_covered") * lit(1e6) / col("n_test") + lit(0.5))
          .cast("long").as("coverage_micro"))
  }

  val q341Sql: String =
    s"""WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |fit AS (
      |  SELECT event_type,
      |    (list_sort(list(cnt)))[CAST(ceil(CAST(count(*) AS DOUBLE) / 2)
      |      AS INT)] AS f
      |  FROM daily WHERE day < TIMESTAMP '$CONF_FIT_END' GROUP BY 1),
      |cal AS (
      |  SELECT d.event_type, f.f,
      |    list_sort(list(abs(d.cnt - f.f))) AS rs,
      |    count(*) AS nc
      |  FROM daily d JOIN fit f USING (event_type)
      |  WHERE d.day >= TIMESTAMP '$CONF_FIT_END'
      |    AND d.day < TIMESTAMP '$CONF_CAL_END'
      |  GROUP BY 1, 2),
      |qh AS (
      |  SELECT event_type, f, nc,
      |    rs[least(CAST(ceil(CAST(nc + 1 AS DOUBLE) * 0.8) AS INT),
      |             CAST(nc AS INT))] AS qhat
      |  FROM cal)
      |SELECT d.event_type, CAST(q.f AS BIGINT) AS f,
      |  CAST(q.qhat AS BIGINT) AS qhat,
      |  CAST(count(*) AS BIGINT) AS n_test,
      |  CAST(sum(CASE WHEN abs(d.cnt - q.f) <= q.qhat THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_covered,
      |  CAST(floor(sum(CASE WHEN abs(d.cnt - q.f) <= q.qhat THEN 1 ELSE 0
      |    END) * 1e6 / count(*) + 0.5) AS BIGINT) AS coverage_micro
      |FROM daily d JOIN qh q USING (event_type)
      |WHERE d.day >= TIMESTAMP '$CONF_CAL_END'
      |GROUP BY 1, 2, 3
      |ORDER BY 1""".stripMargin

  /** q344 series pair and lag window. */
  val XCORR_X = "click"
  val XCORR_Y = "purchase"
  val XCORR_LAGS: Seq[Int] = (-3 to 3)

  /** q344: LEAD-LAG CROSS-CORRELATION — does one daily series lead
    * another? Pearson correlation of (clicks on day d, purchases on
    * day d+k) for k in [-3, 3], the ops-analytics companion to q163's
    * autocorrelation (same moments discipline: every sum is an exact
    * BIGINT over the calendar-bounded day grid; the one division per
    * lag runs on identical integers in both engines).
    *
    * Scale shape: ONE fact aggregate to the (type, day) grain filtered
    * to the two audited types; the lag fanout (×7) and the day-aligned
    * self-join run on the ~30-row daily rollup.
    */
  def q344CrossCorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .filter(col("event_type").isin(XCORR_X, XCORR_Y))
      .groupBy(col("event_type"),
        unix_micros(date_trunc("day", col("ts"))).as("day_us"))
      .agg(count(lit(1)).as("cnt"))
    val xs = daily.filter(col("event_type") === XCORR_X)
      .select(col("day_us"), col("cnt").as("x"))
    val ys = daily.filter(col("event_type") === XCORR_Y)
      .select(col("day_us").as("y_day"), col("cnt").as("y"))
    val pairs = xs
      .select(col("day_us"), col("x"),
        explode(array(XCORR_LAGS.map(k => lit(k)): _*)).as("lag"))
      .join(ys,
        col("y_day") === col("day_us") + col("lag") * lit(86400000000L))
    pairs.groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("lag"), col("n"),
        floor(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double")) * lit(1e6) + lit(0.5)).cast("long")
          .as("corr_micro"))
  }

  val q344Sql: String = {
    val lagVals = XCORR_LAGS.map(k => s"($k)").mkString(", ")
    s"""WITH daily AS (
      |  SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events WHERE event_type IN ('$XCORR_X', '$XCORR_Y')
      |  GROUP BY 1, 2),
      |xs AS (SELECT day_us, cnt AS x FROM daily
      |       WHERE event_type = '$XCORR_X'),
      |ys AS (SELECT day_us AS y_day, cnt AS y FROM daily
      |       WHERE event_type = '$XCORR_Y'),
      |pairs AS (
      |  SELECT l.lag, xs.x, ys.y
      |  FROM xs, (VALUES $lagVals) l(lag)
      |  JOIN ys ON ys.y_day = xs.day_us + l.lag * 86400000000),
      |m AS (
      |  SELECT lag, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM pairs GROUP BY 1)
      |SELECT CAST(lag AS INT) AS lag, n,
      |  CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE) /
      |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |         CAST(n * syy - sy * sy AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
      |    AS corr_micro
      |FROM m ORDER BY lag""".stripMargin
  }

  /** q379: DURBIN–WATSON SERIAL-CORRELATION TEST on the residuals of
    * the daily-revenue linear trend — the diagnostic that tells you
    * whether q226's OLS slope can be trusted (autocorrelated residuals
    * make its variance estimate a lie; DW≈2 means none, →0 positive,
    * →4 negative). The residuals are EXACT integers: multiplying the
    * OLS identity through by n·den (den = n·Σx² − (Σx)²) gives
    * R_d = n·den·y_d − n·num·x_d − (sy·den − num·sx) with every term
    * BIGINT — no float slope or intercept ever appears. Squares would
    * cross 2^63, so each (R_d)² and (R_d − R_{d−1})² is computed in
    * double from the exact integers and quantized to a tera grid per
    * day before the ≤|days| integer sums (identical IEEE op sequence
    * both engines). DW is one division of those sums.
    *
    * Scale shape: one map-side-combined rollup to |days| rows; the
    * only window is a lag over that bounded series.
    */
  def q379DurbinWatson(spark: SparkSession, dir: String): DataFrame = {
    val daily0 = Tables(spark, dir).events
      .select(expr("unix_micros(ts) div 86400000000").as("x"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy("x").agg(sum("cents").as("y"))
    // rebase x to x - min(x): num, den, and every residual R_d are
    // shift-invariant in x, but with absolute epoch days the n·num·x
    // term reaches ~5e17 at sf1 and would overflow BIGINT around
    // sf10-sf100 — rebasing shrinks the intermediates by ~3 orders of
    // magnitude without changing a single output value (both engines
    // rebase identically)
    val x0 = daily0.agg(min("x").as("x0"))
    val daily = daily0.crossJoin(broadcast(x0))
      .select((col("x") - col("x0")).as("x"), col("y"))
    val m = daily.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
    val r = daily.crossJoin(broadcast(m))
      .select(col("x"),
        (col("n") * col("den") * col("y") -
          col("n") * col("num") * col("x") -
          (col("sy") * col("den") - col("num") * col("sx"))).as("rr"),
        col("num"), col("den"), col("n"))
    val byX = Window.orderBy("x")
    def dd(c: Column) = c.cast("double")
    val lagged = r.withColumn("rp", lag("rr", 1).over(byX))
    val terms = lagged.select(col("num"), col("den"), col("n"),
      floor(dd(col("rr")) * dd(col("rr")) / lit(1e12) + lit(0.5))
        .cast("long").as("e2"),
      when(col("rp").isNotNull,
        floor((dd(col("rr")) - dd(col("rp"))) *
          (dd(col("rr")) - dd(col("rp"))) / lit(1e12) + lit(0.5))
          .cast("long")).otherwise(0L).as("d2"))
    terms.agg(max("n").as("n_days"),
      floor(dd(max("num")) / dd(max("den")) * lit(1e6) + lit(0.5))
        .cast("long").as("slope_micro_c_per_day"),
      floor(dd(sum("d2")) / dd(sum("e2")) * lit(1e6) + lit(0.5))
        .cast("long").as("dw_micro"))
  }

  val q379Sql: String =
    """WITH daily0 AS (
      |  SELECT epoch_us(ts) // 86400000000 AS x,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS y
      |  FROM events GROUP BY 1),
      |daily AS (
      |  SELECT x - (SELECT min(x) FROM daily0) AS x, y FROM daily0),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM daily),
      |mm AS (
      |  SELECT *, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
      |  FROM m),
      |r AS (
      |  SELECT d.x,
      |    mm.n * mm.den * d.y - mm.n * mm.num * d.x
      |      - (mm.sy * mm.den - mm.num * mm.sx) AS rr,
      |    mm.num, mm.den, mm.n
      |  FROM daily d, mm),
      |t AS (
      |  SELECT num, den, n,
      |    CAST(floor(CAST(rr AS DOUBLE) * CAST(rr AS DOUBLE) / 1e12 + 0.5)
      |      AS BIGINT) AS e2,
      |    CASE WHEN lag(rr) OVER (ORDER BY x) IS NOT NULL THEN
      |      CAST(floor((CAST(rr AS DOUBLE)
      |          - CAST(lag(rr) OVER (ORDER BY x) AS DOUBLE)) *
      |        (CAST(rr AS DOUBLE)
      |          - CAST(lag(rr) OVER (ORDER BY x) AS DOUBLE)) / 1e12 + 0.5)
      |        AS BIGINT)
      |    ELSE 0 END AS d2
      |  FROM r)
      |SELECT CAST(max(n) AS BIGINT) AS n_days,
      |  CAST(floor(CAST(max(num) AS DOUBLE) / CAST(max(den) AS DOUBLE)
      |    * 1e6 + 0.5) AS BIGINT) AS slope_micro_c_per_day,
      |  CAST(floor(CAST(sum(d2) AS DOUBLE) / CAST(sum(e2) AS DOUBLE)
      |    * 1e6 + 0.5) AS BIGINT) AS dw_micro
      |FROM t""".stripMargin

  /** q380: WALD–WOLFOWITZ RUNS TEST — is the daily revenue series
    * RANDOM around its median, or does it trend/cluster (too few
    * runs) or oscillate (too many)? The distribution-free complement
    * of q379's parametric DW. The median is the DISCRETE lower median
    * of the |days| daily totals (an actual BIGINT cents value —
    * row_number over the bounded rollup, both engines agree exactly);
    * signs, run count (1 + sign changes via lag), and the n₁/n₂
    * margins are all integers; the normal-approximation z is one
    * double expression.
    */
  def q380RunsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .select(expr("unix_micros(ts) div 86400000000").as("x"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy("x").agg(sum("cents").as("y"))
    // the daily rollup is time-bounded, but both orderings route
    // through the distributed rank anyway (round-7 verdict item 3:
    // zero ORDER-BY-only windows over data-derived grids)
    val (withRn, nTot) = graft.operators.GlobalRank
      .withRowNumberAndCount(daily, "rn", col("y"), col("x"))
    val med = withRn.filter(col("rn") === lit((nTot + 1) / 2))
      .select(col("y").as("med"))
    val s = daily.crossJoin(broadcast(med))
      .select(col("x"), when(col("y") > col("med"), 1L).otherwise(0L)
        .as("s"))
    // lag-by-time via a rank self-join: sign changes compare each
    // day's sign with its predecessor's without a one-task window
    val sr = graft.operators.GlobalRank.withRowNumber(s, "i", col("x"))
    val prev = sr.select((col("i") + 1L).as("i"), col("s").as("sp"))
    val runs = sr.join(prev, Seq("i"), "left")
      .agg(count(lit(1)).as("n"), sum("s").as("n1"),
        (sum(when(col("sp").isNotNull && col("s") =!= col("sp"), 1L)
          .otherwise(0L)) + lit(1L)).as("r"))
    def d(c: Column) = c.cast("double")
    val n1 = d(col("n1")); val n2 = d(col("n") - col("n1"))
    val nD = d(col("n"))
    val mu = lit(2.0d) * n1 * n2 / nD + lit(1.0d)
    val sig2 = lit(2.0d) * n1 * n2 * (lit(2.0d) * n1 * n2 - nD) /
      (nD * nD * (nD - lit(1.0d)))
    runs.select(col("n").as("n_days"), col("n1").as("n_above"),
      (col("n") - col("n1")).as("n_below"), col("r").as("runs"),
      floor((d(col("r")) - mu) / sqrt(sig2) * lit(1e6) + lit(0.5))
        .cast("long").as("z_micro"))
  }

  val q380Sql: String =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS x,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS y
      |  FROM events GROUP BY 1),
      |rn AS (
      |  SELECT *, row_number() OVER (ORDER BY y, x) AS rn,
      |    CAST(count(*) OVER () AS BIGINT) AS n
      |  FROM daily),
      |med AS (SELECT y AS med FROM rn WHERE rn = (n + 1) // 2),
      |s AS (
      |  SELECT d.x, CASE WHEN d.y > med.med THEN 1 ELSE 0 END AS s
      |  FROM daily d, med),
      |chg AS (
      |  SELECT s,
      |    CASE WHEN lag(s) OVER (ORDER BY x) IS NOT NULL
      |      AND s != lag(s) OVER (ORDER BY x) THEN 1 ELSE 0 END AS c
      |  FROM s),
      |r AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS n1,
      |    CAST(sum(c) AS BIGINT) + 1 AS rr
      |  FROM chg)
      |SELECT n AS n_days, n1 AS n_above, n - n1 AS n_below, rr AS runs,
      |  CAST(floor((CAST(rr AS DOUBLE) -
      |    (2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) /
      |     CAST(n AS DOUBLE) + 1.0)) /
      |    sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) *
      |      (2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
      |        - CAST(n AS DOUBLE)) /
      |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) *
      |       (CAST(n AS DOUBLE) - 1.0))) * 1e6 + 0.5) AS BIGINT)
      |    AS z_micro
      |FROM r""".stripMargin

  /** q402: MASE FORECAST EVAL — the scale-free forecast-accuracy
    * metric (Hyndman & Koehler): the seasonal-naive forecast
    * ŷ_d = y_{d−7} scored against the one-step naive baseline on the
    * same evaluation window, MASE = Σ|y−y_{d−7}| / Σ|y−y_{d−1}|.
    * MASE < 1 means weekly seasonality carries real signal; > 1 means
    * "yesterday" already beats "same day last week". Complements
    * q236's backtest (which scores a trend model) with the
    * standardized denominator the forecasting literature compares on.
    * Everything is exact BIGINT cents on the ≤|days| rollup; the
    * ratio is one double division.
    */
  def q402MaseEval(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
        .as("y"))
    val byDay = Window.orderBy("d")
    val lagged = daily
      .withColumn("l7", lag("y", 7).over(byDay))
      .withColumn("l1", lag("y", 1).over(byDay))
      .filter(col("l7").isNotNull)
    val m = lagged.agg(count(lit(1)).as("n_eval"),
      sum(abs(col("y") - col("l7"))).as("sae7"),
      sum(abs(col("y") - col("l1"))).as("sae1"))
    def d(c: String) = col(c).cast("double")
    m.select(col("n_eval"), col("sae7"), col("sae1"),
      floor(d("sae7") / d("sae1") * lit(1e6) + lit(0.5)).cast("long")
        .as("mase_micro"))
  }

  val q402Sql: String =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS d,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS y
      |  FROM events GROUP BY 1),
      |lagged AS (
      |  SELECT y, lag(y, 7) OVER (ORDER BY d) AS l7,
      |    lag(y, 1) OVER (ORDER BY d) AS l1
      |  FROM daily),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_eval,
      |    CAST(sum(abs(y - l7)) AS BIGINT) AS sae7,
      |    CAST(sum(abs(y - l1)) AS BIGINT) AS sae1
      |  FROM lagged WHERE l7 IS NOT NULL)
      |SELECT n_eval, sae7, sae1,
      |  CAST(floor(CAST(sae7 AS DOUBLE) / CAST(sae1 AS DOUBLE) * 1e6
      |    + 0.5) AS BIGINT) AS mase_micro
      |FROM m""".stripMargin

  /** q414: WEEKLY SEASONAL DECOMPOSITION — the classic additive
    * trend/seasonal/remainder split (the moving-average core of
    * STL-style decomposition) of each event type's daily count
    * series: trend = centered 7-day moving average (defined only on
    * full windows — only such interior days are emitted), seasonal =
    * the per-weekday mean of the detrended interior, remainder =
    * count − trend − seasonal. Complements the
    * family's autocorrelation (q163), backtests (q236/q336/q402) and
    * anomaly scans (q99) with the decomposition they all implicitly
    * condition on.
    *
    * Scale + determinism shape: the log collapses to the
    * |types × days| rollup in ONE map-side-combined count; every
    * window after that is partitioned per type over the bounded
    * rollup. All intermediates stay INTEGER (trend×7 is a sum of
    * counts; detrended×7 = 7n − trend7; the seasonal numerator sums
    * those integers), so cross-engine agreement never rests on float
    * summation order — each output is one fixed IEEE division
    * sequence off exact integers, micro-quantized. Weekday is the
    * epoch-day mod 7 (q198's calendar-free convention). Missing days
    * make the ROWS frame span calendar gaps; both engines use the
    * same frame, so the gate is unaffected.
    */
  def q414SeasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", expr("datediff(day, date'1970-01-01') % 7"))
    val w7 = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-3, 3)
    val t = daily
      .withColumn("win_n", count(lit(1)).over(w7))
      .withColumn("t7", when(col("win_n") === 7, sum("n").over(w7)))
    val seas = t.filter(col("t7").isNotNull)
      .groupBy("event_type", "dow")
      .agg(sum(col("n") * 7 - col("t7")).as("s_sum"),
        count(lit(1)).as("s_n"))
    // interior days only: every emitted row is fully decomposed, so
    // the gate columns are NON-NULL integers (nullable int columns
    // round-trip as float64 in pandas and would dtype-mismatch)
    t.filter(col("t7").isNotNull)
      .join(seas, Seq("event_type", "dow"))
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("n").as("n_events"),
        floor(col("t7").cast("double") / 7.0 * 1e6 + lit(0.5)).cast("long")
          .as("trend_micro"),
        floor(col("s_sum").cast("double") /
          (col("s_n") * 7).cast("double") * 1e6 + lit(0.5)).cast("long")
          .as("seasonal_micro"),
        floor((col("n").cast("double") -
          col("t7").cast("double") / 7.0 -
          col("s_sum").cast("double") / (col("s_n") * 7).cast("double"))
          * 1e6 + lit(0.5)).cast("long").as("remainder_micro"))
  }

  val q414Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |dd AS (
      |  SELECT *,
      |    date_diff('day', DATE '1970-01-01', day) % 7 AS dow
      |  FROM daily),
      |t AS (
      |  SELECT *,
      |    CASE WHEN count(*) OVER w = 7 THEN sum(n) OVER w END AS t7
      |  FROM dd
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |seas AS (
      |  SELECT event_type, dow,
      |    CAST(sum(n * 7 - t7) AS BIGINT) AS s_sum,
      |    CAST(count(*) AS BIGINT) AS s_n
      |  FROM t WHERE t7 IS NOT NULL GROUP BY 1, 2)
      |SELECT t.event_type, CAST(t.day AS VARCHAR) AS day, t.n AS n_events,
      |  CAST(floor(CAST(t.t7 AS DOUBLE) / 7.0 * 1e6 + 0.5) AS BIGINT)
      |    AS trend_micro,
      |  CAST(floor(CAST(s.s_sum AS DOUBLE) /
      |    CAST(s.s_n * 7 AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
      |    AS seasonal_micro,
      |  CAST(floor((CAST(t.n AS DOUBLE) -
      |    CAST(t.t7 AS DOUBLE) / 7.0 -
      |    CAST(s.s_sum AS DOUBLE) / CAST(s.s_n * 7 AS DOUBLE))
      |    * 1e6 + 0.5) AS BIGINT) AS remainder_micro
      |FROM t JOIN seas s
      |  ON s.event_type = t.event_type AND s.dow = t.dow
      |WHERE t.t7 IS NOT NULL
      |ORDER BY t.event_type, t.day""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q414_seasonal_decompose" ->
      Gate.sorted(q414SeasonalDecompose _, "event_type", "day"),
    "q402_mase_eval" -> ((s, d) => q402MaseEval(s, d)),
    "q379_durbin_watson" -> ((s, d) => q379DurbinWatson(s, d)),
    "q380_runs_test" -> ((s, d) => q380RunsTest(s, d)),
    "q344_crosscorr" -> Gate.sorted(q344CrossCorr _, "lag"),
    "q341_conformal_coverage" ->
      Gate.sorted(q341ConformalCoverage _, "event_type"),
    "q340_markov_perplexity" ->
      Gate.sorted(q340MarkovPerplexity _, "prev_type"),
    "q336_pinball_backtest" ->
      Gate.sorted(q336PinballBacktest _, "event_type", "q_label"),
    "q335_markov_eval" -> Gate.sorted(q335MarkovEval _, "prev_type"),
    "q306_debounce" -> Gate.sorted(q306Debounce _, "event_id"),
    "q292_ohlc_bars" -> Gate.sorted(q292OhlcBars _, "event_type", "hour"),
    "q276_trailing_median" -> Gate.sorted(q276TrailingMedian _, "day"),
    "q246_decayed_popularity" ->
      ((s, d) => q246DecayedPopularity(s, d)),
    "q236_forecast_backtest" ->
      Gate.sorted(q236ForecastBacktest _, "event_type"),
    "q231_event_trigrams" ->
      Gate.sorted(q231EventTrigrams _, "rank", "t1", "t2", "t3"),
    "q170_user_ewma" -> Gate.sorted(q170UserEwma _, "user_id"),
    "q162_markov_transitions" ->
      Gate.sorted(q162MarkovTransitions _, "prev_type", "next_type"),
    "q163_daily_autocorr" -> Gate.sorted(q163DailyAutocorr _, "lag"),
    "q164_abandoned_clicks" -> Gate.sorted(q164AbandonedClicks _, "user_id"))

  val oracles: Map[String, String] = Map(
    "q414_seasonal_decompose" -> q414Sql,
    "q402_mase_eval" -> q402Sql,
    "q379_durbin_watson" -> q379Sql,
    "q380_runs_test" -> q380Sql,
    "q344_crosscorr" -> q344Sql,
    "q341_conformal_coverage" -> q341Sql,
    "q340_markov_perplexity" -> q340Sql,
    "q336_pinball_backtest" -> q336Sql,
    "q335_markov_eval" -> q335Sql,
    "q306_debounce" -> q306Sql,
    "q292_ohlc_bars" -> q292Sql,
    "q276_trailing_median" -> q276Sql,
    "q246_decayed_popularity" -> q246Sql,
    "q236_forecast_backtest" -> q236Sql,
    "q231_event_trigrams" -> q231Sql,
    "q170_user_ewma" -> q170Sql,
    "q162_markov_transitions" -> q162Sql,
    "q163_daily_autocorr" -> q163Sql,
    "q164_abandoned_clicks" -> q164Sql)
}
