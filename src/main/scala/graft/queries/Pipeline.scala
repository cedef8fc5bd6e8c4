package graft.queries

import graft.Tables
import graft.functions.{Astro, Exact}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pipeline-level operators (SURVEY.md §2 q21–q25): the reference's
  * per-snapshot driver loops (reference: src/nbody6/snapshot.py,
  * observer.py, calc/cluster.py, notebooks/dataset_split) re-expressed
  * as single declarative plans.
  *
  * Scale notes: the reference iterates snapshots serially in Python;
  * here every "per-snapshot" pass is one groupBy over the whole table —
  * the 100 TB shape is identical, just more groups. Timestamps are
  * stringified at the final projection (parquet tz-aware vs oracle
  * naive timestamps would otherwise mismatch in the driver compare).
  */
object Pipeline extends QueryModule {

  /** q21: per-snapshot overall stats with masked variants in ONE pass —
    * conditional aggregation instead of the reference's recompute-per-
    * mask loop (reference: snapshot.py:164 _calc_stats). Masked subset =
    * inside tidal radius (q20's distance).
    */
  def q21SnapshotStats(spark: SparkSession, dir: String): DataFrame = {
    val dist = Astro.distToCenter(
      col("l_quantity"), col("l_extendedprice") / 1000.0, col("l_tax") * 100.0,
      25.0, 35.0, 4.0)
    val inTid = dist <= 20.0
    Tables(spark, dir).lineitem
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_all"),
        Exact.sumExact(col("l_quantity")).as("mass_all"),
        Exact.meanExact(col("l_extendedprice")).as("mean_pos_all"),
        sum(when(inTid, 1L).otherwise(0L)).as("n_tid"),
        Exact.sumExact(when(inTid, col("l_quantity")).otherwise(0.0)).as("mass_tid"),
        Exact.meanExact(when(inTid, col("l_extendedprice"))).as("mean_pos_tid"))
      .orderBy("l_returnflag")
  }

  val q21Sql: String =
    s"""SELECT l_returnflag,
      | count(*) AS n_all,
      | ${Exact.sumSql("l_quantity")} AS mass_all,
      | ${Exact.meanSql("l_extendedprice")} AS mean_pos_all,
      | CAST(sum(CASE WHEN in_tid THEN 1 ELSE 0 END) AS BIGINT) AS n_tid,
      | ${Exact.sumSql("CASE WHEN in_tid THEN l_quantity ELSE 0.0 END")} AS mass_tid,
      | ${Exact.meanSql("CASE WHEN in_tid THEN l_extendedprice END")} AS mean_pos_tid
      |FROM (
      |  SELECT *, sqrt((l_quantity-25.0)*(l_quantity-25.0)
      |    + (l_extendedprice/1000.0-35.0)*(l_extendedprice/1000.0-35.0)
      |    + (l_tax*100.0-4.0)*(l_tax*100.0-4.0)) <= 20.0 AS in_tid
      |  FROM lineitem)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q22: as-of alignment of adaptive event timestamps onto a uniform
    * hourly grid (reference: README:227 uniform 1 Myr grid; annular
    * stats notebooks). Three-stage, all on the same key: last event per
    * (type, hour) -> dense grid -> forward-fill window. One shuffle on
    * event_type; grid explode is tiny (types x hours).
    */
  def q22TimegridAlign(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
    val hourly = ev
      .withColumn("hour", date_trunc("hour", col("ts")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type", "hour")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select("event_type", "hour", "value")
    val bounds = ev.agg(
      date_trunc("hour", min("ts")).as("h0"),
      date_trunc("hour", max("ts")).as("h1"))
    val grid = ev.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
    grid.join(hourly, Seq("event_type", "hour"), "left")
      .withColumn("value_ff", last("value", ignoreNulls = true).over(
        Window.partitionBy("event_type").orderBy("hour")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("event_type"),
        date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("grid_hour"),
        col("value_ff"))
      .orderBy("event_type", "grid_hour")
  }

  val q22Sql: String =
    """WITH b AS (
      |  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
      |  FROM events),
      |grid AS (
      |  SELECT t.event_type, u.hour
      |  FROM (SELECT DISTINCT event_type FROM events) t
      |  CROSS JOIN (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      |              FROM b) u),
      |hourly AS (
      |  SELECT event_type, hour, value FROM (
      |    SELECT event_type, date_trunc('hour', ts) AS hour, value,
      |      row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
      |                         ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1)
      |SELECT g.event_type,
      |  strftime(g.hour, '%Y-%m-%d %H:%M:%S') AS grid_hour,
      |  last_value(h.value IGNORE NULLS) OVER (
      |    PARTITION BY g.event_type ORDER BY g.hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff
      |FROM grid g LEFT JOIN hourly h
      |  ON g.event_type = h.event_type AND g.hour = h.hour
      |ORDER BY g.event_type, grid_hour""".stripMargin

  /** q23: resolvability decision + photocentric merge of unresolved
    * pairs (reference: observer.py:208-249 _merge_unresolved_objects).
    * Resolved pairs emit both components; unresolved pairs collapse to
    * one luminosity-weighted object. Pivot + two-branch union — no
    * self-join, single aggregate over the pair key.
    */
  def q23UnresolvedMerge(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables(spark, dir).lineitem
      .filter(col("l_linenumber") <= 2)
      .groupBy("l_orderkey")
      .agg(
        max(when(col("l_linenumber") === 1, col("l_quantity"))).as("w1"),
        max(when(col("l_linenumber") === 1, col("l_extendedprice"))).as("x1"),
        max(when(col("l_linenumber") === 2, col("l_quantity"))).as("w2"),
        max(when(col("l_linenumber") === 2, col("l_extendedprice"))).as("x2"))
      .filter(col("w2").isNotNull)
      .withColumn("resolved",
        abs(col("x1") - col("x2")) >= (col("x1") + col("x2")) / 2.0 * 0.5)
    val res1 = pairs.filter(col("resolved")).select(
      col("l_orderkey"), lit(1).as("obj_id"), col("x1").as("pos"), col("w1").as("lum"))
    val res2 = pairs.filter(col("resolved")).select(
      col("l_orderkey"), lit(2).as("obj_id"), col("x2").as("pos"), col("w2").as("lum"))
    val merged = pairs.filter(!col("resolved")).select(
      col("l_orderkey"), lit(0).as("obj_id"),
      Astro.photocentric(col("w1"), col("w2"), col("x1"), col("x2")).as("pos"),
      (col("w1") + col("w2")).as("lum"))
    res1.unionAll(res2).unionAll(merged)
  }

  val q23Sql: String =
    """WITH p AS (
      |  SELECT l_orderkey,
      |    max(CASE WHEN l_linenumber = 1 THEN l_quantity END) AS w1,
      |    max(CASE WHEN l_linenumber = 1 THEN l_extendedprice END) AS x1,
      |    max(CASE WHEN l_linenumber = 2 THEN l_quantity END) AS w2,
      |    max(CASE WHEN l_linenumber = 2 THEN l_extendedprice END) AS x2
      |  FROM lineitem WHERE l_linenumber <= 2 GROUP BY l_orderkey),
      |q AS (SELECT *, abs(x1 - x2) >= (x1 + x2) / 2.0 * 0.5 AS resolved
      |      FROM p WHERE w2 IS NOT NULL)
      |SELECT l_orderkey, 1 AS obj_id, x1 AS pos, w1 AS lum FROM q WHERE resolved
      |UNION ALL
      |SELECT l_orderkey, 2, x2, w2 FROM q WHERE resolved
      |UNION ALL
      |SELECT l_orderkey, 0, (w1*x1 + w2*x2) / (w1 + w2), w1 + w2
      |FROM q WHERE NOT resolved
      |ORDER BY l_orderkey, obj_id""".stripMargin

  /** q24: observer offset-frame projection — spherical lon/lat,
    * distance, radial velocity from cartesian position+velocity
    * (reference: calc/cluster.py:34 calc_sky_coord; astropy replaced by
    * direct spherical trig, SURVEY §6). Pure per-row math, unrounded.
    */
  def q24OffsetFrame(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity") + 10.0
    val y = col("l_extendedprice") / 1000.0
    val z = col("l_tax") * 100.0 + 1.0
    val vx = col("l_discount") * 10.0
    val vy = col("l_tax") * 5.0
    val vz = col("l_discount") * 100.0 - 5.0
    val r = sqrt(x * x + y * y + z * z)
    Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_linenumber"),
        atan2(y, x).as("lon_rad"),
        asin(z / r).as("lat_rad"),
        r.as("dist"),
        ((x * vx + y * vy + z * vz) / r).as("rv"))
  }

  val q24Sql: String =
    """SELECT l_orderkey, l_linenumber,
      | atan2(y, x) AS lon_rad,
      | asin(z / r) AS lat_rad,
      | r AS dist,
      | (x*vx + y*vy + z*vz) / r AS rv
      |FROM (
      |  SELECT *, sqrt(x*x + y*y + z*z) AS r FROM (
      |    SELECT l_orderkey, l_linenumber,
      |      l_quantity + 10.0 AS x, l_extendedprice/1000.0 AS y,
      |      l_tax*100.0 + 1.0 AS z,
      |      l_discount*10.0 AS vx, l_tax*5.0 AS vy, l_discount*100.0 - 5.0 AS vz
      |    FROM lineitem))
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q25: deterministic stratified group split — every group (customer)
    * lands wholly in train/val/test via md5 bucketing, stratified by
    * market segment (reference: notebooks/dataset_split; stratified
    * GroupShuffleSplit). Hash-mod is engine-portable and cluster-
    * deterministic — no RNG, no collect.
    */
  def q25StratifiedSplit(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer
      .withColumn("bucket",
        conv(substring(md5(concat(col("c_mktsegment"), lit(":"),
          col("c_custkey").cast("string"))), 1, 6), 16, 10).cast("long") % 100)
      .withColumn("split",
        when(col("bucket") < 70, "train")
          .when(col("bucket") < 85, "val")
          .otherwise("test"))
      .select("c_custkey", "c_mktsegment", "bucket", "split")

  val q25Sql: String =
    """SELECT c_custkey, c_mktsegment, bucket,
      | CASE WHEN bucket < 70 THEN 'train'
      |      WHEN bucket < 85 THEN 'val' ELSE 'test' END AS split
      |FROM (
      |  SELECT c_custkey, c_mktsegment,
      |    CAST('0x' || substr(md5(c_mktsegment || ':' || CAST(c_custkey AS VARCHAR)), 1, 6) AS BIGINT) % 100 AS bucket
      |  FROM customer)
      |ORDER BY c_custkey""".stripMargin

  /** q247: TIMESTAMP-GRID DIAGNOSTICS — the previously spec-only
    * SnapshotStats.timestampStats (reference: calc/summary.py:7
    * summarize_timestamp_stats, loader.py:48) gated through the driver
    * on warehouse data: each user's event stream stands in for a sim's
    * adaptive output grid (sim_id = user_id, time = event micros).
    * Count/min/max of the distinct grid plus the 2 dp mean step — one
    * lag window + one aggregate on the shared sim_id key.
    */
  def q247TimestampStats(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.SnapshotStats.timestampStats(
      Tables(spark, dir).events
        .select(col("user_id").as("sim_id"),
          unix_micros(col("ts")).cast("double").as("time")))

  val q247Sql: String =
    """WITH t AS (
      |  SELECT DISTINCT user_id AS sim_id,
      |    CAST(epoch_us(ts) AS DOUBLE) AS time
      |  FROM events),
      |d AS (
      |  SELECT sim_id, time,
      |    time - lag(time) OVER (PARTITION BY sim_id ORDER BY time) AS d
      |  FROM t)
      |SELECT sim_id, count(*) AS "count", min(time) AS "min",
      |  max(time) AS "max", floor(avg(d) * 100 + 0.5) / 100 AS step
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** q248: CROSS-RUN ENSEMBLE STATISTICS — the previously spec-only
    * SnapshotStats.ensembleStats (reference: notebooks/
    * filtered_annular_stats.ipynb aggregated_df) gated through the
    * driver: per-(flag, status, supplier) realizations of count and
    * exact quantity sum, then mean/std/median per (flag, status)
    * averaging over the supplier "realizations". Means/stds are
    * DECIMAL-exact (graft.functions.Exact); the median is Spark's
    * built-in percentile = DuckDB quantile_cont bit-for-bit. The stats
    * frame is |groups x realizations|-sized — tiny at any scale — so
    * one grouped aggregation is the right shape.
    */
  def q248EnsembleStats(spark: SparkSession, dir: String): DataFrame = {
    val perReal = Tables(spark, dir).lineitem
      .groupBy("l_returnflag", "l_linestatus", "l_suppkey")
      .agg(count(lit(1)).cast("double").as("n"),
        Exact.sumExact(col("l_quantity")).as("qty"))
    graft.pipeline.SnapshotStats.ensembleStats(
      perReal, Seq("l_returnflag", "l_linestatus"), Seq("n", "qty"))
  }

  val q248Sql: String =
    s"""WITH r AS (
      |  SELECT l_returnflag, l_linestatus, l_suppkey,
      |    CAST(count(*) AS DOUBLE) AS n,
      |    ${Exact.sumSql("l_quantity")} AS qty
      |  FROM lineitem GROUP BY 1, 2, 3)
      |SELECT l_returnflag, l_linestatus,
      |  ${Exact.meanSql("n")} AS n_mean,
      |  ${Exact.stddevSql("n")} AS n_std,
      |  quantile_cont(n, 0.5) AS n_median,
      |  ${Exact.meanSql("qty")} AS qty_mean,
      |  ${Exact.stddevSql("qty")} AS qty_std,
      |  quantile_cont(qty, 0.5) AS qty_median
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q21_snapshot_stats" -> (q21SnapshotStats _),
    "q22_timegrid_align" -> (q22TimegridAlign _),
    "q23_unresolved_merge" -> Gate.sorted(q23UnresolvedMerge _, "l_orderkey", "obj_id"),
    "q24_offset_frame" -> Gate.sorted(q24OffsetFrame _, "l_orderkey", "l_linenumber"),
    "q25_stratified_split" -> Gate.sorted(q25StratifiedSplit _, "c_custkey"),
    "q247_timestamp_stats" -> Gate.sorted(q247TimestampStats _, "sim_id"),
    "q248_ensemble_stats" ->
      Gate.sorted(q248EnsembleStats _, "l_returnflag", "l_linestatus"))

  val oracles: Map[String, String] = Map(
    "q21_snapshot_stats" -> q21Sql,
    "q22_timegrid_align" -> q22Sql,
    "q23_unresolved_merge" -> q23Sql,
    "q24_offset_frame" -> q24Sql,
    "q25_stratified_split" -> q25Sql,
    "q247_timestamp_stats" -> q247Sql,
    "q248_ensemble_stats" -> q248Sql)
}
