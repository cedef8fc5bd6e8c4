package graft.queries

import graft.Tables
import graft.functions.Exact
import graft.streaming.Replay
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream queries: batch sessionization and CDC (q37, q49, q66,
  * q126, q146) and the streaming families, each of which replays the
  * events file as a stream and is gated against the batch SQL that
  * computes the same set: stream/batch parity on one logical plan.
  *
  * Every streaming query runs through [[graft.streaming.Replay]]: one
  * memory-sink path (sink named, its view dropped, the query stopped)
  * and one conf scope, where each query states its no-data-batch value
  * as a literal and the session conf is restored on exit.
  */
object SessionOps extends QueryModule {

  val GAP_MINUTES = 30

  /** q37: gap-based sessionization — lag per user, new-session flag on
    * gaps > 30 min, running sum -> session index, then per-session
    * stats. Two window passes + one aggregate, all on user_id: ONE
    * shuffle at scale (same key throughout).
    */
  def q37EventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, 0)
    Tables(spark, dir).events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > GAP_MINUTES * 60L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_idx", sum("new_sess").over(cum))
      .groupBy("user_id", "sess_idx")
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
        date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("sess_end"),
        Exact.sumExact(col("value")).as("sum_value"))
  }

  val q37Sql: String =
    s"""WITH f AS (
      |  SELECT *,
      |    CASE WHEN prev_us IS NULL
      |           OR epoch_us(ts) - prev_us > ${GAP_MINUTES * 60L * 1000000L}
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM (
      |    SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |                                      ORDER BY ts, event_id) AS prev_us
      |    FROM events)),
      |s AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      |  FROM f)
      |SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx, count(*) AS n_events,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
      |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS sess_end,
      |  ${Exact.sumSql("value")} AS sum_value
      |FROM s GROUP BY user_id, sess_idx
      |ORDER BY user_id, sess_idx""".stripMargin

  /** q38: Structured Streaming tumbling-window aggregation — the
    * events parquet replayed as a stream, 1-hour windows per event
    * type, complete-mode memory sink. The oracle is the identical
    * batch aggregation: stream/batch parity is the correctness claim.
    * At scale this is the same plan with a kafka source + watermark
    * (see graft.streaming.StreamAgg for the watermarked variant).
    */
  def q38StreamWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamAgg
    val stream = StreamAgg.hourlyTypeAgg(
      StreamAgg.parquetStream(spark, s"$dir/events.parquet"))
    Replay.toMemory(stream, "complete", noDataBatches = true)
      .orderBy("event_type", "win_start")
  }

  val q38Sql: String =
    s"""SELECT event_type,
      |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
      |  count(*) AS n_events, ${Exact.sumSql("value")} AS sum_value
      |FROM events
      |GROUP BY event_type, date_trunc('hour', ts)
      |ORDER BY event_type, win_start""".stripMargin

  /** q39: STATEFUL streaming sessionization — the custom-state
    * counterpart of q37 via flatMapGroupsWithState (see
    * graft.streaming.StreamSessionize). With no-data micro-batches
    * disabled the replay is one batch and no event-time timeout fires,
    * so the emitted set is exactly "every session except each user's
    * last" — deterministic and SQL-expressible, which is what makes a
    * stateful streaming operator oracle-checkable at all.
    */
  def q39StreamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamSessionize}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
      .withWatermark("ts", "0 seconds")
    Replay.toMemory(StreamSessionize.sessionize(stream, GAP_MINUTES), "append",
        noDataBatches = false)
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"),
        // The state sums doubles in deterministic (ts-sorted) order; the
        // true per-session sum of 2 dp values is exactly 2 dp, so the
        // decimal(18,4) snap collapses any 1-ulp drift to the exact value
        // the oracle's decimal aggregation produces.
        Exact.dec(col("sum_value")).cast("double").as("sum_value"))
      .orderBy("user_id", "start_us")
  }

  val q39Sql: String =
    s"""WITH f AS (
      |  SELECT *,
      |    CASE WHEN prev_us IS NULL
      |           OR epoch_us(ts) - prev_us > ${GAP_MINUTES * 60L * 1000000L}
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM (
      |    SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |                                      ORDER BY ts, event_id) AS prev_us
      |    FROM events)),
      |s AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      |  FROM f),
      |agg AS (
      |  SELECT user_id, sess_idx, count(*) AS n_events,
      |    min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
      |    ${Exact.sumSql("value")} AS sum_value
      |  FROM s GROUP BY user_id, sess_idx),
      |a2 AS (SELECT *, max(sess_idx) OVER (PARTITION BY user_id) AS mx FROM agg)
      |SELECT user_id, start_us, end_us, n_events, sum_value
      |FROM a2 WHERE sess_idx < mx
      |ORDER BY user_id, start_us""".stripMargin

  /** Epoch microseconds of 2024-01-01 UTC — the packed order key's
    * baseline (canonical definition + bounds:
    * [[graft.streaming.StreamDedup.ORD_EPOCH_US]]). Subtracting it
    * keeps (ts_offset << 20 | event_id) well inside int64 for this
    * dataset's one-month window.
    */
  val ORD_EPOCH_US: Long = graft.streaming.StreamDedup.ORD_EPOCH_US

  /** q49: log/CDC compaction — latest event per user via max_by on a
    * packed (timestamp, event_id) order key: deterministic even under
    * timestamp ties, partial-aggregated, no per-key sort. See
    * [[graft.operators.Compaction]].
    */
  def q49LatestByKey(spark: SparkSession, dir: String): DataFrame = {
    val ord = (unix_micros(col("ts")) - lit(ORD_EPOCH_US)) * lit(1048576L) +
      col("event_id")
    graft.operators.Compaction
      .latestByKey(Tables(spark, dir).events, Seq("user_id"), ord,
        Seq("ts", "event_type", "value", "event_id"))
      .select(col("user_id"),
        date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"),
        col("last_event_type"), col("last_value"), col("last_event_id"),
        col("n_rows").as("n_events"))
  }

  val q49Sql: String =
    s"""SELECT user_id,
      |  strftime(arg_max(ts, ord), '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
      |  arg_max(event_type, ord) AS last_event_type,
      |  arg_max(value, ord) AS last_value,
      |  arg_max(event_id, ord) AS last_event_id,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM (
      |  SELECT *, (epoch_us(ts) - $ORD_EPOCH_US) * 1048576 + event_id AS ord
      |  FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q51: streaming exact dedup — first event per (user_id, event_type)
    * via tombstone state (see [[graft.streaming.StreamDedup]]). The
    * driver replays the file as ONE micro-batch, where "first" is
    * deterministically min by (event time, event_id) — exactly the
    * batch arg_min the oracle computes.
    */
  def q51StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamDedup}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    Replay.toMemory(StreamDedup.dedup(stream), "append", noDataBatches = true)
      .orderBy("user_id", "event_type")
  }

  val q51Sql: String =
    s"""WITH o AS (
      |  SELECT *, (epoch_us(ts) - $ORD_EPOCH_US) * 1048576 + event_id AS ord
      |  FROM events)
      |SELECT user_id, event_type,
      |  arg_min(epoch_us(ts), ord) AS first_us,
      |  arg_min(event_id, ord) AS first_event_id,
      |  arg_min(value, ord) AS first_value
      |FROM o GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** q102: streaming dedup via the engine's own watermark-bounded
    * state — `dropDuplicatesWithinWatermark` on (user_id, event_type,
    * minute), the built-in counterpart of q51's custom tombstone state
    * (the built-in keeps arrival-order winners and evicts key state
    * once the watermark passes the dedup horizon — the production
    * at-least-once-source dedup). Because the WINNING ROW is
    * arrival-order-dependent, the gated output projects only the key
    * columns: the emitted KEY SET is deterministic (one row per
    * distinct key) and equals the batch DISTINCT the oracle computes.
    */
  def q102StreamDropdupWm(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamAgg
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    val deduped = stream
      // project BEFORE the dedup: state stores whole rows, so carrying
      // value/props/event_id through would multiply the state size
      .select(col("user_id"), col("event_type"), col("ts"),
        date_trunc("minute", col("ts")).as("minute"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "minute")
      .select(col("user_id"), col("event_type"),
        date_format(col("minute"), "yyyy-MM-dd HH:mm:ss").as("minute"))
    Replay.toMemory(deduped, "append", noDataBatches = true)
      .orderBy("user_id", "event_type", "minute")
  }

  val q102Sql: String =
    """SELECT DISTINCT user_id, event_type,
      |  strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute
      |FROM events
      |ORDER BY user_id, event_type, minute""".stripMargin

  /** q56: stream-static enrichment — the events stream joined to the
    * static customer dimension (broadcast per micro-batch), aggregated
    * per (market segment, event type) in a complete-mode memory sink.
    * Oracle = the identical batch join+agg: stream/batch parity again.
    * See [[graft.streaming.StreamEnrich]] for the scale shape.
    */
  def q56StreamEnrich(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamEnrich}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    Replay.toMemory(StreamEnrich.segmentTypeAgg(stream, Tables(spark, dir).customer),
        "complete", noDataBatches = true)
      .orderBy("segment", "event_type")
  }

  val q56Sql: String =
    s"""SELECT c_mktsegment AS segment, event_type,
      |  count(*) AS n_events, ${Exact.sumSql("value")} AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment, event_type
      |ORDER BY segment, event_type""".stripMargin

  /** q59 attribution window. */
  val ATTRIB_HOURS = 2

  /** q59: stream-stream event-time interval join — every purchase
    * attributed to each same-user click in the preceding 2 hours, both
    * sides live streams with watermarks (state eviction derived from
    * the interval bound). One micro-batch replay makes the emitted set
    * exactly the batch interval join. See [[graft.streaming.StreamJoin]].
    */
  def q59StreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamJoin}
    val clicks = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    val purchases = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    Replay.toMemory(StreamJoin.clickPurchase(clicks, purchases, ATTRIB_HOURS),
        "append", noDataBatches = true)
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** q278: STREAMING LEFT-OUTER ATTRIBUTION (fifteenth stateful
    * family) — q59's stream-stream interval join, made LEFT OUTER:
    * abandoned clicks (no purchase inside the window) emit a
    * null-padded row once the watermark proves no match can still
    * arrive. The interesting machinery is the emission trigger: outer
    * rows are produced by watermark-driven STATE EXPIRY (Spark's
    * no-data micro-batch advances the watermark after the last data
    * batch), not by a match — so the click side is bounded to clicks
    * whose join window is strictly closed by end of stream
    * ([[graft.streaming.StreamJoin.clickPurchaseOuter]]'s finality
    * contract), and the batch oracle applies the same bound. At 100 TB
    * this is the production attribution shape: state per side bounded
    * by window + watermark delay, unmatched clicks become first-class
    * rows a downstream "lost demand" rollup can consume directly.
    */
  def q278StreamOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamJoin}
    val bound = graft.Tables(spark, dir).events
      .agg(max(col("ts")) - expr(s"INTERVAL ${ATTRIB_HOURS + 1} HOURS"))
      .collect()(0).getTimestamp(0)
    val (clicks, cDir) = StreamAgg.parquetStreamWithDir(spark, s"$dir/events.parquet")
    val (purchases, pDir) = StreamAgg.parquetStreamWithDir(spark, s"$dir/events.parquet")
    // Outer rows emit on STATE EXPIRY, which needs the watermark to
    // advance past the fixture's tail — and the engine's trailing
    // no-data micro-batch races processAllAvailable. Deterministic
    // flush instead, so no-data batches are off: on, their only effect
    // here is extra state-store commit rounds (8 partitions x 4 join
    // stores each). Two subtleties:
    //  1. Catalyst pushes each side's event_type equality BELOW the
    //     EventTimeWatermark operator (it doesn't reference the
    //     event-time column), all the way into the parquet scan — so
    //     a sentinel of a made-up type would be dropped before ever
    //     reaching either watermark operator. Each flush file
    //     therefore carries one far-future 'click' AND one
    //     far-future 'purchase': each survives its side's scan
    //     filter and advances that side's watermark. The click
    //     sentinel is then dropped by the ts <= bound filter (which
    //     stays ABOVE the watermark — it references ts) before the
    //     join; the purchase sentinel enters right-side state but, in
    //     a left-outer join, an unmatched right row never emits.
    //  2. Eviction in batch N uses the watermark computed from batch
    //     N-1's data, so ONE flush batch only records the new max —
    //     a SECOND flush batch performs the eviction that emits the
    //     outer rows. processAllAvailable after each write makes the
    //     sequence deterministic (no reliance on no-data batches).
    def writeFlush(baseRow: DataFrame, year: Int, tag: String): Unit = {
      val farUs = java.sql.Timestamp.valueOf(s"$year-01-01 00:00:00")
      val stamped = baseRow.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          baseRow.withColumn("ts", lit(farUs.getTime * 1000000L))
        case _ => baseRow.withColumn("ts", lit(farUs))
      }
      val rows = stamped.withColumn("event_type", lit("click"))
        .union(stamped.withColumn("event_type", lit("purchase")))
      val tmp = java.nio.file.Paths.get(graft.queries.Scratch.dir("graft_flush"))
      rows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .get.toPath
      Seq(cDir, pDir).foreach { d =>
        java.nio.file.Files.copy(part,
          java.nio.file.Paths.get(d, s"$tag.parquet"))
      }
    }
    Replay.toMemory(StreamJoin.clickPurchaseOuter(clicks, purchases, ATTRIB_HOURS, bound),
        "append", noDataBatches = false, drive = { q =>
      q.processAllAvailable()
      // one row read once, reused by both flush batches
      val baseRow = spark.read.parquet(s"$dir/events.parquet").limit(1)
        .transform(graft.operators.Pins.pin)
      writeFlush(baseRow, 2035, "zz_flush1")
      q.processAllAvailable()
      writeFlush(baseRow, 2036, "zz_flush2")
      q.processAllAvailable()
    }).orderBy("user_id", "click_id", "purchase_id")
  }

  val q278Sql: String =
    s"""WITH b AS (
      |  SELECT max(ts) - INTERVAL ${ATTRIB_HOURS + 1} HOUR AS bound
      |  FROM events)
      |SELECT c.user_id, c.event_id AS click_id,
      |  COALESCE(p.event_id, -1) AS purchase_id,
      |  COALESCE(epoch_us(p.ts) - epoch_us(c.ts), -1) AS lag_us
      |FROM events c CROSS JOIN b
      |LEFT JOIN events p
      |  ON c.user_id = p.user_id
      | AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL $ATTRIB_HOURS HOUR
      |WHERE c.event_type = 'click' AND c.ts <= b.bound
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  val q59Sql: String =
    s"""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL $ATTRIB_HOURS HOUR
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  /** q66 snapshot cutoff: the "old" state is the log compacted up to
    * here, the "new" state is the full log.
    */
  val DIFF_CUTOFF = "2024-01-15 00:00:00"

  /** q66: CDC snapshot diff — the compacted state at a cutoff vs at
    * head (q49's latest-by-key semantics), reporting every key whose
    * latest record appeared or changed between them. Computed as one
    * conditional aggregation, the state table is |keys|-sized
    * regardless of log length, and append-only logs cannot produce
    * removals (so the diff statuses are added/changed).
    */
  def q66StateDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val ord = (unix_micros(col("ts")) - lit(ORD_EPOCH_US)) * lit(1048576L) +
      col("event_id")
    // both states in ONE conditional-aggregation pass: max_by ignores
    // rows whose ordering expression is null, so gating the order key
    // on the cutoff yields the old state for free alongside the new —
    // one scan and one shuffle where compact-twice-and-join pays two
    ev.groupBy("user_id")
      .agg(
        max_by(col("event_id"), ord).as("new_event_id"),
        max_by(col("event_id"),
          when(col("ts") < lit(DIFF_CUTOFF).cast("timestamp"), ord))
          .as("old_event_id"))
      .withColumn("status",
        when(col("old_event_id").isNull, "added")
          .when(col("old_event_id") =!= col("new_event_id"), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select(col("user_id"),
        coalesce(col("old_event_id"), lit(-1L)).as("old_event_id"),
        col("new_event_id"), col("status"))
  }

  val q66Sql: String =
    s"""WITH o AS (
      |  SELECT user_id,
      |    arg_max(event_id, (epoch_us(ts) - $ORD_EPOCH_US) * 1048576 + event_id)
      |      AS old_event_id
      |  FROM events WHERE ts < TIMESTAMP '$DIFF_CUTOFF'
      |  GROUP BY user_id),
      |n AS (
      |  SELECT user_id,
      |    arg_max(event_id, (epoch_us(ts) - $ORD_EPOCH_US) * 1048576 + event_id)
      |      AS new_event_id
      |  FROM events GROUP BY user_id)
      |SELECT n.user_id,
      |  CAST(coalesce(o.old_event_id, -1) AS BIGINT) AS old_event_id,
      |  n.new_event_id,
      |  CASE WHEN o.old_event_id IS NULL THEN 'added' ELSE 'changed' END AS status
      |FROM n LEFT JOIN o USING (user_id)
      |WHERE o.old_event_id IS NULL OR o.old_event_id != n.new_event_id
      |ORDER BY user_id""".stripMargin

  /** q70: exact windowed distinct-user counts as a CHAINED stateful
    * streaming query — dropDuplicates state feeding a windowed
    * aggregation (see [[graft.streaming.StreamDistinct]]). Append mode
    * emits a window once the watermark passes its end; the replay runs
    * with no-data micro-batches on, so the final watermark advance
    * flushes every closed window, leaving exactly the still-open tail
    * unemitted — the deterministic set the batch oracle reproduces.
    */
  def q70StreamDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamDistinct}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    Replay.toMemory(StreamDistinct.windowedDistinct(stream), "append",
        noDataBatches = true)
      .orderBy("win_start", "event_type")
  }

  val q70Sql: String =
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
      |  event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users
      |FROM events
      |GROUP BY date_trunc('hour', ts), event_type
      |HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
      |ORDER BY win_start, event_type""".stripMargin

  /** q325: STREAMING SKETCHED DISTINCT — the seventeenth stateful
    * family (see [[graft.streaming.StreamSketch]]): q70's windowed
    * distinct answered with ONE mergeable HLL buffer per (window,
    * type) group instead of a dedup tombstone per distinct key —
    * state constant in cardinality, the only bound that survives a
    * 10⁹-distinct-user window at 100 TB. Gate = q310's sketch
    * convention: the exact count (recomputed relationally) is the
    * cross-engine contract; the stream's estimate quality travels as
    * the 3-SE bound flag (lgK=12 ⇒ ~1.6% SE ⇒ 5% at 3 SE).
    */
  def q325StreamSketchDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamSketch}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    val estimates = Replay.toMemory(StreamSketch.windowedSketchDistinct(stream),
      "append", noDataBatches = true)
    // exact side recomputed RELATIONALLY (one batch pass) — the gate
    // needs the truth, not a second streaming run
    val ev = Tables(spark, dir).events
    val mx = ev.agg(max("ts").as("mx"))
    val exact = ev
      .select(date_trunc("hour", col("ts")).as("w"), col("event_type"),
        col("user_id"))
      .groupBy("w", "event_type")
      .agg(countDistinct("user_id").as("n_exact"))
      .crossJoin(broadcast(mx))
      .filter(col("w") + expr("INTERVAL 1 HOUR") <= col("mx"))
      .select(date_format(col("w"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n_exact"))
    estimates
      .join(exact, Seq("win_start", "event_type"))
      .select(col("win_start"), col("event_type"), col("n_exact"),
        (abs(col("n_est") - col("n_exact")) <= col("n_exact") * 0.05)
          .as("within_3se"))
  }

  val q325Sql: String =
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
      |  event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
      |  TRUE AS within_3se
      |FROM events
      |GROUP BY date_trunc('hour', ts), event_type
      |HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
      |ORDER BY win_start, event_type""".stripMargin

  /** q339: STREAMING WINDOWED QUANTILES — the eighteenth stateful
    * family (see [[graft.streaming.StreamQuantile]]): per closed
    * hourly window and event type, a p50 estimate of `value` from the
    * library's own mergeable KLL-style sketch
    * (operators/QuantileSketch) running as streaming state — one
    * O(k + log n) buffer per group where an exact windowed quantile
    * would hold the window's whole population. Gate = the q251/q325
    * sketch convention: the cross-engine contract is the EXACT window
    * population count plus in-bound flags; the sketch's p50 rank error
    * is checked against its own engineering bound (3n/k + |levels|),
    * recomputed relationally on the batch side.
    */
  def q339StreamQuantile(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.QuantileSketch
    import graft.streaming.{StreamAgg, StreamQuantile}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    // emitted sketches are |closed windows x types| rows (calendar-
    // bounded), so the driver-side estimate extraction is K-bounded
    val ests = Replay.toMemory(StreamQuantile.windowedSketchQuantile(stream),
        "append", noDataBatches = true).collect().map { r =>
      val sk = QuantileSketch.fromRow(r.getStruct(2))
      (r.getString(0), r.getString(1), sk.quantile(0.5), sk.n,
        QuantileSketch.rankErrorBound(sk))
    }
    import spark.implicits._
    val estDf = spark.createDataset(ests.toSeq)
      .toDF("win_start", "event_type", "est50", "n_sk", "bound")
    val ev = Tables(spark, dir).events
    val mx = ev.agg(max("ts").as("mx"))
    val exact = ev
      .select(date_trunc("hour", col("ts")).as("w"), col("event_type"),
        col("value"))
      .crossJoin(broadcast(mx))
      .filter(col("w") + expr("INTERVAL 1 HOUR") <= col("mx"))
      .select(date_format(col("w"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("value"))
    exact.join(broadcast(estDf), Seq("win_start", "event_type"))
      .groupBy("win_start", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("est50"), 1L).otherwise(0L)).as("r50"),
        first("n_sk").as("n_sk"), first("bound").as("bound"))
      .select(col("win_start"), col("event_type"), col("n"),
        (col("n_sk") === col("n")).as("weight_exact"),
        (abs(col("r50") - ceil(col("n") * 0.5)) <= col("bound")).as("ok_p50"))
  }

  val q339Sql: String =
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
      |  event_type, CAST(count(*) AS BIGINT) AS n,
      |  TRUE AS weight_exact, TRUE AS ok_p50
      |FROM events
      |GROUP BY date_trunc('hour', ts), event_type
      |HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
      |ORDER BY win_start, event_type""".stripMargin

  /** q167: STREAMING WINDOWED TOP-K — the twelfth stateful family
    * (see [[graft.streaming.StreamTopK]]): per tumbling hour, the 3
    * most frequent event types, emitted only when the event-time
    * timeout closes the window (a ranking cannot be emitted
    * incrementally in append mode — early emission would retract).
    * With no-data micro-batches enabled, the replay's final watermark
    * (max event ts) fires the timeouts, so the emitted set is every
    * window whose END precedes the max timestamp — the still-open tail
    * stays in state, exactly what the oracle pins.
    */
  def q167StreamTopk(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamTopK}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
      .withWatermark("ts", "0 seconds")
    Replay.toMemory(StreamTopK.windowedTopK(stream), "append", noDataBatches = true)
      .orderBy("win_start_us", "rank")
  }

  val q167Sql: String =
    s"""WITH h AS (
      |  SELECT date_trunc('hour', ts) AS w, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT w, event_type, n,
      |    CAST(row_number() OVER (PARTITION BY w ORDER BY n DESC, event_type)
      |      AS INTEGER) AS rank
      |  FROM h)
      |SELECT epoch_us(w) AS win_start_us, rank, event_type,
      |  CAST(n AS BIGINT) AS n
      |FROM r
      |WHERE rank <= ${graft.streaming.StreamTopK.K}
      |  AND epoch_ms(w + INTERVAL 1 HOUR) < (SELECT epoch_ms(max(ts)) FROM events)
      |ORDER BY win_start_us, rank""".stripMargin

  /** q185: STREAMING QUOTA THROTTLE — the thirteenth stateful family
    * (see [[graft.streaming.StreamThrottle]]): admit the first
    * QUOTA events per (user, tumbling day), suppress the rest; one
    * long of state per open (user, window). Admission decisions never
    * retract, so emission is immediate and the replayed set equals the
    * batch row_number formulation the oracle states.
    */
  def q185StreamThrottle(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamThrottle}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    Replay.toMemory(StreamThrottle.throttle(stream), "append", noDataBatches = false)
      .orderBy("user_id", "win_start_us", "seq")
  }

  val q185Sql: String =
    s"""WITH r AS (
      |  SELECT user_id,
      |    (epoch_us(ts) // ${graft.streaming.StreamThrottle.WINDOW_US})
      |      * ${graft.streaming.StreamThrottle.WINDOW_US} AS win_start_us,
      |    event_id,
      |    row_number() OVER (
      |      PARTITION BY user_id,
      |        epoch_us(ts) // ${graft.streaming.StreamThrottle.WINDOW_US}
      |      ORDER BY ts, event_id) AS seq
      |  FROM events)
      |SELECT user_id, CAST(win_start_us AS BIGINT) AS win_start_us,
      |  event_id, CAST(seq AS BIGINT) AS seq
      |FROM r WHERE seq <= ${graft.streaming.StreamThrottle.QUOTA}
      |ORDER BY user_id, win_start_us, seq""".stripMargin

  /** q194: STREAMING CEP PAIR MATCHING — the fourteenth stateful
    * family (see [[graft.streaming.StreamCep]]): every (click,
    * purchase) pair within 30 min, via LIST state with inline
    * time-based eviction — the "A followed by B within T" CEP
    * primitive that q91 (last-click only) and q59 (symmetric interval
    * join) don't express. Oracle = the batch interval self-join.
    */
  def q194StreamCep(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamCep}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    Replay.toMemory(StreamCep.matchPairs(stream), "append", noDataBatches = false)
      .orderBy("user_id", "click_id", "purchase_id")
  }

  val q194Sql: String =
    s"""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      |FROM events c
      |JOIN events p ON p.user_id = c.user_id
      |  AND c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND epoch_us(p.ts) - epoch_us(c.ts) > 0
      |  AND epoch_us(p.ts) - epoch_us(c.ts)
      |        <= ${graft.streaming.StreamCep.WINDOW_US}
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  /** q91: STREAMING FUNNEL ATTRIBUTION — q73's running-last-click
    * window as stateful streaming (the seventh streaming family:
    * last-value-per-key state driving per-event emission decisions).
    * One long of state per user; each purchase within the window of
    * the user's most recent click is emitted as a conversion. The
    * driver replays the file as one time-sorted batch, where the
    * emitted set equals the batch window formulation exactly (see
    * [[graft.streaming.StreamFunnel]]).
    */
  def q91StreamFunnel(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamFunnel}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    Replay.toMemory(StreamFunnel.attribute(stream, ATTRIB_HOURS * 3600L * 1000000L),
        "append", noDataBatches = true)
      .orderBy("user_id", "event_id")
  }

  val q91Sql: String =
    s"""WITH w AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_us
      |  FROM events)
      |SELECT user_id, event_id, us AS purchase_us, click_us,
      |  us - click_us AS lag_us
      |FROM w
      |WHERE event_type = 'purchase' AND click_us IS NOT NULL
      |  AND us - click_us <= ${ATTRIB_HOURS * 3600L * 1000000L}
      |ORDER BY user_id, event_id""".stripMargin

  /** q113: STREAMING SCD TYPE-2 — the ninth streaming family: per-user
    * CDC attribute state (the JSON payload's k) via
    * flatMapGroupsWithState; each change closes the open version and
    * emits its [valid_from, valid_to) row (see
    * [[graft.streaming.StreamScd2]]). State is one (attr, since) pair
    * per user — bounded by |users|, no timeout needed. The whole-log
    * replay emits exactly the closed rows of the batch q110
    * formulation, which is the oracle.
    */
  def q113StreamScd2(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamScd2}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
      .select(col("user_id"), col("event_id"), col("ts"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").cast("long").as("attr"))
    Replay.toMemory(StreamScd2.closedVersions(stream), "append", noDataBatches = true)
      .orderBy("user_id", "valid_from_us", "attr")
  }

  val q113Sql: String =
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
      |  WHERE prev IS NULL OR attr <> prev),
      |v AS (
      |  SELECT user_id, attr, us AS valid_from_us,
      |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS valid_to_us
      |  FROM ch)
      |SELECT user_id, attr, valid_from_us, valid_to_us FROM v
      |WHERE valid_to_us IS NOT NULL
      |ORDER BY user_id, valid_from_us, attr""".stripMargin

  /** q124: INCREMENTAL MATERIALIZED VIEW (10th streaming family) — the
    * events log replayed as FOUR micro-batches (maxFilesPerTrigger=1
    * over a 4-file copy), each batch folding its own partial aggregate
    * (per type/day count + exact decimal value sum) into a parquet view
    * through [[graft.streaming.ExactlyOnceSink]]'s idempotent
    * per-batch-id partition overwrite; the query returns the view
    * COMPACTED (sum of partials). This is the production lambda shape:
    * at-least-once redelivery converges to exactly-once content with
    * no transaction log, readers fold |batches| x |groups| partial
    * rows instead of the log, and a compaction job (q49's operator)
    * can collapse the partition history at leisure. Oracle = the batch
    * aggregation of the whole log: partial decimal sums are associative,
    * so the fold is EXACTLY the batch result regardless of how the
    * replay chunked the data.
    */
  def q124StreamIncrView(spark: SparkSession, dir: String): DataFrame =
      Replay.scope(spark, noDataBatches = true) {
    val tmp = java.nio.file.Paths.get(graft.queries.Scratch.dir("graft_q124"))
    val src = tmp.resolve("src").toString
    val view = tmp.resolve("view").toString
    Tables(spark, dir).events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .repartition(4).write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val partial = batch
          .groupBy(col("event_type"),
            date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("n_events"),
            sum(Exact.dec(col("value"))).as("sum_dec"))
        graft.streaming.ExactlyOnceSink.writeBatch(partial, batchId, view)
      }
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.read.parquet(view)
      .groupBy("event_type", "day")
      .agg(sum("n_events").as("n_events"),
        sum("sum_dec").cast("double").as("sum_value"))
      .orderBy("event_type", "day")
  }

  val q124Sql: String =
    s"""SELECT event_type,
      |  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  ${Exact.sumSql("value")} AS sum_value
      |FROM events
      |GROUP BY event_type, date_trunc('day', ts)
      |ORDER BY event_type, day""".stripMargin

  /** q126: CDC MERGE APPLY — the MERGE INTO semantics every lakehouse
    * ingestion job runs: a base snapshot (latest state per key before
    * the q66 cutoff) plus a change batch (everything after), where
    * 'error' events are DELETEs and everything else UPSERTs; the
    * result is the NEW snapshot. Like q66, both sides come from ONE
    * conditional-aggregation pass — max_by ignores null order keys, so
    * gating the packed (ts, event_id) order key on the cutoff yields
    * the snapshot row and the last change op side by side in a single
    * |keys|-sized shuffle. Delete-last keys drop out; change-only keys
    * are 'added'; untouched keys carry the snapshot forward. No join,
    * no second scan — at 100 TB this is one pass over the log however
    * long the history.
    */
  def q126CdcMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val cutoff = lit(DIFF_CUTOFF).cast("timestamp")
    val ord = (unix_micros(col("ts")) - lit(ORD_EPOCH_US)) * lit(1048576L) +
      col("event_id")
    val snapOrd = when(col("ts") < cutoff, ord)
    val opOrd = when(col("ts") >= cutoff, ord)
    ev.groupBy("user_id")
      .agg(
        max_by(col("event_id"), snapOrd).as("snap_event_id"),
        max_by(col("value"), snapOrd).as("snap_value"),
        max_by(col("event_id"), opOrd).as("op_event_id"),
        max_by(col("value"), opOrd).as("op_value"),
        max_by(col("event_type"), opOrd).as("op_type"))
      .filter(col("op_type").isNull || col("op_type") =!= "error")
      .select(col("user_id"),
        coalesce(col("op_event_id"), col("snap_event_id")).as("event_id"),
        coalesce(col("op_value"), col("snap_value")).as("value"),
        when(col("op_event_id").isNull, "carried")
          .when(col("snap_event_id").isNull, "added")
          .otherwise("upserted").as("src"))
  }

  val q126Sql: String =
    s"""WITH m AS (
      |  SELECT user_id,
      |    arg_max(event_id, CASE WHEN ts < TIMESTAMP '$DIFF_CUTOFF'
      |      THEN (epoch_us(ts) - $ORD_EPOCH_US) * 1048576 + event_id END)
      |      AS snap_event_id,
      |    arg_max(value, CASE WHEN ts < TIMESTAMP '$DIFF_CUTOFF'
      |      THEN (epoch_us(ts) - $ORD_EPOCH_US) * 1048576 + event_id END)
      |      AS snap_value,
      |    arg_max(event_id, CASE WHEN ts >= TIMESTAMP '$DIFF_CUTOFF'
      |      THEN (epoch_us(ts) - $ORD_EPOCH_US) * 1048576 + event_id END)
      |      AS op_event_id,
      |    arg_max(value, CASE WHEN ts >= TIMESTAMP '$DIFF_CUTOFF'
      |      THEN (epoch_us(ts) - $ORD_EPOCH_US) * 1048576 + event_id END)
      |      AS op_value,
      |    arg_max(event_type, CASE WHEN ts >= TIMESTAMP '$DIFF_CUTOFF'
      |      THEN (epoch_us(ts) - $ORD_EPOCH_US) * 1048576 + event_id END)
      |      AS op_type
      |  FROM events GROUP BY user_id)
      |SELECT user_id,
      |  coalesce(op_event_id, snap_event_id) AS event_id,
      |  coalesce(op_value, snap_value) AS value,
      |  CASE WHEN op_event_id IS NULL THEN 'carried'
      |       WHEN snap_event_id IS NULL THEN 'added'
      |       ELSE 'upserted' END AS src
      |FROM m
      |WHERE op_type IS NULL OR op_type <> 'error'
      |ORDER BY user_id""".stripMargin

  /** q145: STREAMING ONLINE ANOMALY DETECTION (11th streaming family)
    * — every event scored against the running mean/variance of all
    * strictly-earlier same-type events (see
    * [[graft.streaming.StreamAnomaly]]: three exact integer moments
    * per type as custom state), emitted past 3 sigma after a warm-up.
    * The single-batch replay folds events in (ts, event_id) order, so
    * the emitted set equals the batch prior-frame window formulation —
    * the oracle below. Unlike q99 (END-of-day z-scores on the daily
    * rollup), this is the alert-at-ingest shape: the score uses only
    * what a live pipeline would have seen at that moment.
    */
  def q145StreamAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamAnomaly}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    Replay.toMemory(StreamAnomaly.detect(stream), "append", noDataBatches = true)
      .orderBy("event_id")
  }

  val q145Sql: String = {
    import graft.streaming.StreamAnomaly.{MIN_N, Z_THRESH_MICRO}
    s"""WITH e AS (
      |  SELECT event_id, event_type, ts,
      |    CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |w AS (
      |  SELECT event_id, event_type, v,
      |    CAST(count(*) OVER prior AS BIGINT) AS n,
      |    CAST(coalesce(sum(v) OVER prior, 0) AS BIGINT) AS s,
      |    CAST(coalesce(sum(v * v) OVER prior, 0) AS BIGINT) AS ss
      |  FROM e
      |  WINDOW prior AS (PARTITION BY event_type ORDER BY ts, event_id
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |z AS (
      |  SELECT event_id, event_type, v AS v_unit,
      |    CAST(floor(
      |      CAST(v * n - s AS DOUBLE) /
      |      sqrt(CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s
      |           AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS z_micro
      |  FROM w
      |  WHERE n >= $MIN_N AND CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s > 0)
      |SELECT event_id, event_type, v_unit, z_micro
      |FROM z
      |WHERE z_micro >= $Z_THRESH_MICRO OR z_micro <= -$Z_THRESH_MICRO
      |ORDER BY event_id""".stripMargin
  }

  /** q146: NATIVE SESSION WINDOWS — the same gap-based sessions q37
    * derives with lag/flag/running-sum windows, expressed through
    * Spark's built-in `session_window` aggregation instead: ONE
    * groupBy, no lag pass, no flag column — the engine's
    * MergingSessionsExec merges overlapping [ts, ts+gap) intervals
    * per key as it aggregates (and the identical expression works
    * unchanged on a stream, where q37's formulation cannot). The
    * window's end is last_event + gap by definition — the oracle
    * spells that out. Both formulations are kept deliberately: q37
    * is the portable-SQL shape, q146 the engine-native one; their
    * session sets are provably identical for a fixed gap.
    */
  def q146SessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$GAP_MINUTES minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        Exact.sumExact(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"), col("sum_value"))

  val q146Sql: String =
    s"""WITH f AS (
      |  SELECT *,
      |    CASE WHEN prev_us IS NULL
      |           OR epoch_us(ts) - prev_us > ${GAP_MINUTES * 60L * 1000000L}
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM (
      |    SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |                                      ORDER BY ts, event_id) AS prev_us
      |    FROM events)),
      |s AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      |  FROM f)
      |SELECT user_id,
      |  min(epoch_us(ts)) AS start_us,
      |  max(epoch_us(ts)) + ${GAP_MINUTES * 60L * 1000000L} AS end_us,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  ${Exact.sumSql("value")} AS sum_value
      |FROM s GROUP BY user_id, sess_idx
      |ORDER BY user_id, start_us""".stripMargin

  /** q309: STREAMING RETENTION COHORTS — the sixteenth stateful family
    * (see [[graft.streaming.StreamRetention]]): per-user first-seen
    * tracking emits one append-only row per newly-active (user, day)
    * with its cohort offset; the gate rolls the emitted rows up to the
    * exact (cohort, offset) retention triangle — q74's matrix computed
    * incrementally with O(HORIZON) state per user instead of a
    * full-log rescan per refresh. Oracle = the batch min-day
    * formulation with the same horizon.
    */
  def q309StreamRetention(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamRetention}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    Replay.toMemory(StreamRetention.firstSeen(stream), "append",
        noDataBatches = false)
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  val q309Sql: String =
    s"""WITH d AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY 1),
      |ud AS (SELECT DISTINCT user_id, day FROM d),
      |r AS (
      |  SELECT ud.user_id, c.cohort, ud.day - c.cohort AS doff
      |  FROM ud JOIN c USING (user_id)
      |  WHERE ud.day - c.cohort <= ${graft.streaming.StreamRetention.HORIZON})
      |SELECT cohort AS cohort_day, doff AS day_offset,
      |  count(*) AS n_users
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q353: STREAMING PAGE CUSUM (19th stateful family) — per-type
    * online level-shift alarms while ingesting; see
    * [[graft.streaming.StreamCusum]]. The operator carries the
    * running-minimum identity S_t = C_t − min(0, min_{j≤t} C_j) as
    * five exact integers per type; the oracle below IS that identity
    * as a batch window pass (running sum + running min + first
    * crossing + last-argmin changepoint) — the q145 convention: the
    * sequential fold and the window formulation are provably the same
    * function of the log.
    */
  def q353StreamCusum(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamCusum}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    Replay.toMemory(StreamCusum.monitor(stream), "append", noDataBatches = true)
      .orderBy("event_type")
  }

  val q353Sql: String = {
    import graft.streaming.StreamCusum.{H_UNIT, K_UNIT, MU0_UNIT}
    s"""WITH e AS (
      |  SELECT event_type, ts, event_id,
      |    CAST(floor(value * 1e4 + 0.5) AS BIGINT) - ${MU0_UNIT + K_UNIT}
      |      AS x
      |  FROM events),
      |c AS (
      |  SELECT event_type, ts, event_id,
      |    CAST(sum(x) OVER (PARTITION BY event_type ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS c
      |  FROM e),
      |m AS (
      |  SELECT *, least(0, CAST(min(c) OVER (PARTITION BY event_type
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
      |      AS rm
      |  FROM c),
      |s AS (SELECT *, c - rm AS s FROM m),
      |alarm AS (
      |  SELECT event_type, ts, event_id AS alarm_id, s AS s_unit, rm
      |  FROM s WHERE s >= $H_UNIT
      |  QUALIFY row_number() OVER (PARTITION BY event_type
      |    ORDER BY ts, event_id) = 1),
      |cand AS (
      |  SELECT s.event_type,
      |    max_by(s.event_id,
      |      printf('%020d%010d', epoch_us(s.ts), s.event_id)) AS cp_id
      |  FROM s JOIN alarm a ON a.event_type = s.event_type
      |    AND s.c = a.rm
      |    AND printf('%020d%010d', epoch_us(s.ts), s.event_id)
      |      <= printf('%020d%010d', epoch_us(a.ts), a.alarm_id)
      |  GROUP BY 1)
      |SELECT a.event_type, a.alarm_id, a.s_unit,
      |  CASE WHEN a.rm < 0 THEN c.cp_id ELSE -1 END AS cp_id
      |FROM alarm a LEFT JOIN cand c ON c.event_type = a.event_type
      |ORDER BY a.event_type""".stripMargin
  }

  /** q381: STREAMING GAP DEBOUNCE (20th stateful family) — q306's
    * keep-relative-to-last-KEPT recurrence run online; see
    * [[graft.streaming.StreamDebounce]]. State is one long per
    * (user, type) — the last kept event-time — and self-expires once
    * the watermark clears last_kept + gap (a future on-time event
    * passes the gap test regardless, so eviction is lossless). The
    * oracle is the batch fold q306 runs, re-keyed to this output
    * order: the sequential per-key fold IS the stream's semantics.
    */
  def q381StreamDebounce(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamDebounce}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    Replay.toMemory(StreamDebounce.debounce(stream), "append", noDataBatches = true)
      .orderBy("user_id", "event_type", "event_id")
  }

  val q381Sql: String = {
    val gap = graft.streaming.StreamDebounce.GAP_US
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
      |             evs[CAST(acc[len(acc)] AS INT)].ts_us + $gap
      |        THEN list_concat(acc, e) ELSE acc END) AS kept
      |  FROM keyed)
      |SELECT user_id, event_type,
      |  unnest(list_transform(kept, k -> evs[CAST(k AS INT)].event_id))
      |    AS event_id
      |FROM folded ORDER BY user_id, event_type, event_id""".stripMargin
  }

  /** q392: STREAMING TOKEN BUCKET (21st stateful family) — burst-
    * tolerant rate limiting; see [[graft.streaming.StreamTokenBucket]].
    * Two integer longs of state per user with lossless full-bucket
    * eviction; the oracle replays the identical fold in SQL with a
    * flat BIGINT-list accumulator (slots 1-2 = state, tail =
    * (id, tokens-left) pairs — the STRUCT-accumulator dodge q306
    * documented for DuckDB 1.0).
    */
  def q392StreamTokenBucket(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{StreamAgg, StreamTokenBucket}
    val stream = StreamAgg.parquetStream(spark, s"$dir/events.parquet")
    Replay.toMemory(StreamTokenBucket.limit(stream), "append", noDataBatches = true)
      .orderBy("user_id", "event_id")
  }

  val q392Sql: String = {
    import graft.streaming.StreamTokenBucket.{CAP_US, COST_US}
    s"""WITH keyed AS (
      |  SELECT user_id,
      |    list_sort(list(struct_pack(ts_us := epoch_us(ts),
      |                               event_id := event_id))) AS evs
      |  FROM events GROUP BY 1),
      |folded AS (
      |  SELECT user_id, evs,
      |    list_reduce(
      |      list_prepend(CAST([$CAP_US, 0] AS BIGINT[]),
      |        list_transform(range(1, len(evs) + 1),
      |                       i -> [CAST(i AS BIGINT)])),
      |      (acc, e) -> CASE
      |        WHEN least($CAP_US, acc[1] +
      |            (evs[CAST(e[1] AS INT)].ts_us - acc[2])) >= $COST_US
      |        THEN list_concat(list_concat(
      |          [least($CAP_US, acc[1] +
      |             (evs[CAST(e[1] AS INT)].ts_us - acc[2])) - $COST_US,
      |           evs[CAST(e[1] AS INT)].ts_us],
      |          acc[3:]),
      |          [evs[CAST(e[1] AS INT)].event_id,
      |           least($CAP_US, acc[1] +
      |             (evs[CAST(e[1] AS INT)].ts_us - acc[2])) - $COST_US])
      |        ELSE list_concat(
      |          [least($CAP_US, acc[1] +
      |             (evs[CAST(e[1] AS INT)].ts_us - acc[2])),
      |           evs[CAST(e[1] AS INT)].ts_us],
      |          acc[3:]) END) AS acc
      |  FROM keyed)
      |SELECT user_id,
      |  CAST(acc[CAST(2 * j + 1 AS INT)] AS BIGINT) AS event_id,
      |  CAST(acc[CAST(2 * j + 2 AS INT)] AS BIGINT) AS tokens_left_us
      |FROM folded,
      |  unnest(generate_series(1, (len(acc) - 2) // 2)) AS t(j)
      |ORDER BY user_id, event_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q392_stream_token_bucket" -> (q392StreamTokenBucket _),
    "q381_stream_debounce" -> (q381StreamDebounce _),
    "q353_stream_cusum" -> (q353StreamCusum _),
    "q146_session_window" -> Gate.sorted(q146SessionWindow _, "user_id", "start_us"),
    "q145_stream_anomaly" -> (q145StreamAnomaly _),
    "q126_cdc_merge" -> Gate.sorted(q126CdcMerge _, "user_id"),
    "q124_stream_incr_view" -> (q124StreamIncrView _),
    "q113_stream_scd2" -> (q113StreamScd2 _),
    "q91_stream_funnel" -> (q91StreamFunnel _),
    "q37_events_sessionize" -> Gate.sorted(q37EventsSessionize _, "user_id", "sess_idx"),
    "q38_stream_window_agg" -> (q38StreamWindowAgg _),
    "q39_stream_sessionize" -> (q39StreamSessionize _),
    "q49_latest_by_key" -> Gate.sorted(q49LatestByKey _, "user_id"),
    "q51_stream_dedup" -> (q51StreamDedup _),
    "q56_stream_enrich" -> (q56StreamEnrich _),
    "q59_stream_stream_join" -> (q59StreamStreamJoin _),
    "q278_stream_outer_join" -> (q278StreamOuterJoin _),
    "q66_state_diff" -> Gate.sorted(q66StateDiff _, "user_id"),
    "q70_stream_distinct" -> (q70StreamDistinct _),
    "q167_stream_topk" -> (q167StreamTopk _),
    "q325_stream_sketch_distinct" ->
      Gate.sorted(q325StreamSketchDistinct _, "win_start", "event_type"),
    "q339_stream_quantile" ->
      Gate.sorted(q339StreamQuantile _, "win_start", "event_type"),
    "q185_stream_throttle" -> (q185StreamThrottle _),
    "q194_stream_cep" -> (q194StreamCep _),
    "q309_stream_retention" -> (q309StreamRetention _),
    "q102_stream_dropdup_wm" -> (q102StreamDropdupWm _))

  val oracles: Map[String, String] = Map(
    "q392_stream_token_bucket" -> q392Sql,
    "q381_stream_debounce" -> q381Sql,
    "q353_stream_cusum" -> q353Sql,
    "q146_session_window" -> q146Sql,
    "q145_stream_anomaly" -> q145Sql,
    "q126_cdc_merge" -> q126Sql,
    "q124_stream_incr_view" -> q124Sql,
    "q91_stream_funnel" -> q91Sql,
    "q113_stream_scd2" -> q113Sql,
    "q37_events_sessionize" -> q37Sql,
    "q38_stream_window_agg" -> q38Sql,
    "q39_stream_sessionize" -> q39Sql,
    "q49_latest_by_key" -> q49Sql,
    "q51_stream_dedup" -> q51Sql,
    "q56_stream_enrich" -> q56Sql,
    "q59_stream_stream_join" -> q59Sql,
    "q278_stream_outer_join" -> q278Sql,
    "q66_state_diff" -> q66Sql,
    "q70_stream_distinct" -> q70Sql,
    "q167_stream_topk" -> q167Sql,
    "q325_stream_sketch_distinct" -> q325Sql,
    "q339_stream_quantile" -> q339Sql,
    "q185_stream_throttle" -> q185Sql,
    "q194_stream_cep" -> q194Sql,
    "q309_stream_retention" -> q309Sql,
    "q102_stream_dropdup_wm" -> q102Sql)
}
