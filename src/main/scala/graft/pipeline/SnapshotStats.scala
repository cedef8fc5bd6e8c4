package graft.pipeline

import graft.functions.Astro
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Snapshot statistics over the ASSEMBLED tables (reference:
  * src/nbody6/data/snapshot.py _calc_stats / _calc_annular_stats,
  * collect_inclination_stats.py). The reference computes these per
  * snapshot in a Python loop; each function here is one aggregation
  * over every (sim_id, time) group at once.
  */
object SnapshotStats {

  private val KEY = Seq("sim_id", "time")

  /** mean/std/min/q1/median/q3/max of `vSql` over rows passing
    * `maskSql` (exact interpolated quantiles; group sizes here are
    * per-snapshot, so the interpreted percentile is fine).
    */
  private def maskedDescriptive(vSql: String, maskSql: String, pre: String, key: String): Seq[Column] = {
    val mv = expr(s"CASE WHEN $maskSql THEN $vSql END")
    Seq(
      avg(mv).as(s"$pre${key}_mean"),
      stddev_samp(mv).as(s"$pre${key}_std"),
      min(mv).as(s"$pre${key}_min"),
      expr(s"percentile(CASE WHEN $maskSql THEN $vSql END, 0.25)").as(s"$pre${key}_q1"),
      expr(s"percentile(CASE WHEN $maskSql THEN $vSql END, 0.5)").as(s"$pre${key}_median"),
      expr(s"percentile(CASE WHEN $maskSql THEN $vSql END, 0.75)").as(s"$pre${key}_q3"),
      max(mv).as(s"$pre${key}_max"))
  }

  private val MASKS: Seq[(String, String)] = Seq(
    ("", "true"),
    ("within_r_tidal_", "is_within_r_tidal"),
    ("within_2x_r_tidal_", "is_within_2x_r_tidal"))

  private def starAggs: Seq[Column] = MASKS.flatMap { case (pre, m) =>
    val mask = expr(m)
    Seq(
      sum(when(mask, 1L).otherwise(0L)).as(s"${pre}n_star"),
      sum(when(mask && col("is_binary"), 1L).otherwise(0L)).as(s"${pre}n_binary_star"),
      sum(when(mask, col("mass")).otherwise(0.0)).as(s"${pre}total_mass")) ++
      maskedDescriptive("mass", m, pre, "mass")
  }

  /** Binary-system aggregates; `binTypes` mirrors the reference's
    * bin_sys_type_cols (snapshot.py:214-222) — assembled tables have
    * wide/hard, pseudo-observed tables add unresolved.
    */
  private def binAggs(binTypes: Seq[String]): Seq[Column] = MASKS.flatMap { case (pre, m) =>
    val mask = expr(m)
    (sum(when(mask, 1L).otherwise(0L)).as(s"${pre}n_binary_system") +:
      binTypes.map(t =>
        sum(when(mask && col(s"is_${t}_binary_system"), 1L).otherwise(0L))
          .as(s"${pre}n_${t}_binary_system"))) ++
      Seq("ecc", "semi", "log_period_days").flatMap(c =>
        maskedDescriptive(c, m, pre, c))
  }

  private def overallStatsFrom(
      stars: DataFrame, binaries: DataFrame, headers: DataFrame,
      key: Seq[String], binTypes: Seq[String]): DataFrame = {
    val sa = starAggs
    val starStats = stars.groupBy(key.map(col): _*).agg(sa.head, sa.tail: _*)
    val ba = binAggs(binTypes)
    val binStats = binaries.groupBy(key.map(col): _*).agg(ba.head, ba.tail: _*)
    starStats.join(binStats, key, "left")
      .join(headers.select(col("sim_id"), col("time"),
        col("r_tidal"), col("r_half_mass")), KEY)
  }

  /** Per-snapshot overall statistics with the reference's three mask
    * levels (all / within r_tidal / within 2 r_tidal) computed in ONE
    * pass per table via conditional aggregation — the reference
    * recomputes per mask (snapshot.py:226).
    */
  def overallStats(assembled: Assembled): DataFrame =
    overallStatsFrom(assembled.stars, assembled.binaries, assembled.headers,
      KEY, Seq("wide", "hard"))

  /** Overall statistics over PSEUDO-OBSERVED tables (the reference runs
    * _calc_stats on PseudoObservedSnapshot too, snapshot.py:450):
    * same mask levels, plus n_unresolved_binary_system counts
    * (bin_sys_type_cols includes "unresolved", snapshot.py:219). When
    * the tables came from observeAll, the multi-coordinate key columns
    * (obs_coord, galactic_x/y/z) join the group key, so one pass
    * produces the whole collection's statistics table
    * (collection.py:202 _calc_stats with coordinate columns).
    */
  def overallStats(observed: Observed, headers: DataFrame): DataFrame = {
    val key =
      if (observed.stars.columns.contains("obs_coord"))
        Seq("obs_coord", "galactic_x", "galactic_y", "galactic_z") ++ KEY
      else KEY
    overallStatsFrom(observed.stars, observed.binaries, headers,
      key, Seq("wide", "hard", "unresolved"))
  }

  /** Integer-ring annular histogram for both normalized distance keys
    * (reference: snapshot.py:314 — ceil ring ids, rings with stars
    * only; star/binary-star/single/system counts per ring; binTypes
    * mirror bin_sys_type_cols, so observed tables also ring-count
    * unresolved systems).
    */
  private def annularStatsFrom(
      stars: DataFrame, binaries: DataFrame,
      key: Seq[String], binTypes: Seq[String]): DataFrame = {
    def ringed(df: DataFrame, distCol: String): DataFrame =
      df.withColumn("dist_key", lit(distCol))
        .withColumn("radius",
          ceil(greatest(col(distCol), lit(0.0))).cast("long"))
    val sysCols = "n_binary_system" +: binTypes.map(t => s"n_${t}_binary_system")
    def starsFor(distCol: String): DataFrame =
      ringed(stars, distCol)
        .groupBy((key ++ Seq("dist_key", "radius")).map(col): _*)
        .agg(count(lit(1)).as("n_star"),
          sum(col("is_binary").cast("long")).as("n_binary_star"))
    def binsFor(distCol: String): DataFrame = {
      val aggs = count(lit(1)).as("n_binary_system") +: binTypes.map(t =>
        sum(col(s"is_${t}_binary_system").cast("long")).as(s"n_${t}_binary_system"))
      ringed(binaries, distCol)
        .groupBy((key ++ Seq("dist_key", "radius")).map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
    }
    val keys = key ++ Seq("dist_key", "radius")
    Seq("dist_dc_r_tidal", "dist_dc_r_half_mass").map { dc =>
      starsFor(dc).join(binsFor(dc), keys, "left")
        .na.fill(0L, sysCols)
    }.reduce(_ unionByName _)
      .withColumn("n_single", col("n_star") - col("n_binary_star"))
      .filter(col("n_star") > 0)
  }

  def annularStats(assembled: Assembled): DataFrame =
    annularStatsFrom(assembled.stars, assembled.binaries, KEY, Seq("wide", "hard"))

  /** Annular rings over pseudo-observed tables, incl. unresolved-system
    * counts; groups per obs_coord when the tables came from observeAll.
    */
  def annularStats(observed: Observed): DataFrame = {
    val key =
      if (observed.stars.columns.contains("obs_coord")) "obs_coord" +: KEY
      else KEY
    annularStatsFrom(observed.stars, observed.binaries,
      key, Seq("wide", "hard", "unresolved"))
  }

  /** Orbital-plane inclinations of binaries whose two sides are atomic
    * stars: h = (r2-r1) x (v2-v1), angle vs z (reference:
    * collect_inclination_stats.py:25, calc/binary.py:69).
    */
  def inclinations(assembled: Assembled): DataFrame = {
    val atomic = assembled.binaries
      .filter(size(col("obj1_ids")) === 1 && size(col("obj2_ids")) === 1)
      .select((KEY.map(col) ++ Seq(col("pair"),
        element_at(col("obj1_ids"), 1).as("n1"),
        element_at(col("obj2_ids"), 1).as("n2"))): _*)
    def side(i: Int) = assembled.stars.select(
      col("sim_id").as(s"s$i"), col("time").as(s"t$i"), col("name").as(s"nm$i"),
      col("x").as(s"x$i"), col("y").as(s"y$i"), col("z").as(s"z$i"),
      col("vx").as(s"vx$i"), col("vy").as(s"vy$i"), col("vz").as(s"vz$i"))
    atomic
      .join(side(1), col("sim_id") === col("s1") && col("time") === col("t1") &&
        col("n1") === col("nm1"))
      .join(side(2), col("sim_id") === col("s2") && col("time") === col("t2") &&
        col("n2") === col("nm2"))
      .select((KEY.map(col) ++ Seq(col("pair"),
        Astro.orbitalInclinationRad(
          col("x2") - col("x1"), col("y2") - col("y1"), col("z2") - col("z1"),
          col("vx2") - col("vx1"), col("vy2") - col("vy1"), col("vz2") - col("vz1"))
          .as("incl_rad"))): _*)
  }

  /** As-of alignment of per-snapshot stats onto a uniform time grid
    * (reference: README:227 1 Myr grid): for each integer grid time,
    * the latest snapshot at or before it, forward-filled per sim.
    */
  def timeAlign(df: DataFrame, step: Double = 1.0): DataFrame = {
    val snapped = df
      .withColumn("grid_time", (ceil(col("time") / step) * step))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("sim_id"), col("grid_time"))
          .orderBy(col("time").desc)))
      .filter(col("rn") === 1).drop("rn")
    val bounds = df.groupBy("sim_id")
      .agg((ceil(min(col("time")) / step) * step).as("g0"),
        (ceil(max(col("time")) / step) * step).as("g1"))
    // sequence() is integral-only: enumerate step indices instead
    val grid = bounds.select(col("sim_id"),
      explode(expr(s"sequence(0L, CAST(round((g1 - g0) / $step) AS LONG))")).as("i"),
      col("g0"))
      .select(col("sim_id"), (col("g0") + col("i") * step).as("grid_time"))
    val valueCols = df.columns.filterNot(c => c == "sim_id")
    val ff = Window.partitionBy("sim_id").orderBy("grid_time")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(snapped, Seq("sim_id", "grid_time"), "left")
      // a struct of all-null fields is NOT null: null it out explicitly
      // so last(ignoreNulls) actually skips grid points with no snapshot
      .withColumn("snap", last(
        when(col("time").isNotNull, struct(valueCols.map(col): _*)),
        ignoreNulls = true).over(ff))
      .select((Seq(col("sim_id"), col("grid_time")) ++
        valueCols.filterNot(_ == "grid_time").map(c => col(s"snap.$c").as(c))): _*)
  }

  /** Per-sim timestamp diagnostics over any (sim_id, time)-keyed table
    * (reference: calc/summary.py:7 summarize_timestamp_stats,
    * loader.py:48 — count/min/max/mean-step of the adaptive output
    * grid, step rounded to 2 dp like the reference). One window + one
    * aggregate on sim_id.
    *
    * The 2 dp rounding is floor(x*100 + 0.5)/100 rather than
    * round(x, 2): Spark rounds through an exact BigDecimal while
    * DuckDB multiplies in float — at a decimal boundary the two can
    * disagree by one ulp (the q188 repr-hash class). The floor form is
    * the same three IEEE ops in both engines, bit-identical always.
    */
  def timestampStats(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("sim_id").orderBy("time")
    df.select("sim_id", "time").distinct()
      .withColumn("d", col("time") - lag("time", 1).over(w))
      .groupBy("sim_id")
      .agg(
        count(lit(1)).as("count"),
        min("time").as("min"),
        max("time").as("max"),
        (floor(avg("d") * 100 + lit(0.5)) / 100).as("step"))
  }

  /** Cross-run ENSEMBLE statistics (reference:
    * notebooks/filtered_annular_stats.ipynb `aggregated_df` — per-sim
    * stats concatenated across realizations, then mean/std/median per
    * (initial-condition attrs, radius, timestamp) group, averaging
    * over init_pos). Input = any stats frame (overall or annular)
    * already tagged with its sim attribute columns
    * (graft.sources.Loader.withSimAttrs); output = one row per group
    * with `<metric>_mean/_std/_median` columns.
    *
    * Stats frames are |snapshots x rings|-sized — orders of magnitude
    * smaller than the star tables — so one grouped aggregation with
    * exact percentile is the right shape at any survey size; means and
    * stds use DECIMAL-exact sums (graft.functions.Exact) for
    * partitioning-independent results.
    */
  def ensembleStats(
      stats: DataFrame,
      keyCols: Seq[String],
      metricCols: Seq[String],
      scale: Int = 4): DataFrame = {
    val aggs = metricCols.flatMap { m =>
      Seq(
        graft.functions.Exact.meanExact(col(m), scale).as(s"${m}_mean"),
        graft.functions.Exact.stddevExact(col(m), scale, scale).as(s"${m}_std"),
        expr(s"percentile($m, 0.5)").as(s"${m}_median"))
    }
    stats.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Write the assembled tables partitioned by sim_id — the 100 TB
    * layout (SURVEY §3/§4): partition pruning on sim_id, row-group
    * min/max pruning on time within each file.
    *
    * The tables are a chain (SnapshotAssembler.assemble): `binaries`
    * reads `stars`, and `headers` reads both. So `stars` and then
    * `binaries` are cached, and the CacheManager swaps each into the
    * later plans: every table is computed once, and the block text is
    * parsed once. This is reuse within one call, not caching of results
    * across runs: the scope releases what the call cached.
    */
  def writePartitioned(assembled: Assembled, path: String): Unit =
    graft.operators.Pins.scope(assembled.stars.sparkSession) {
      graft.operators.Pins.cache(assembled.stars)
      graft.operators.Pins.cache(assembled.binaries)
      def write(df: DataFrame, table: String): Unit =
        df.write.partitionBy("sim_id").mode("overwrite").parquet(s"$path/$table")
      write(assembled.stars, "stars")
      write(assembled.binaries, "binaries")
      write(assembled.headers, "headers")
    }
}
