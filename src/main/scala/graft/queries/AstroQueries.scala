package graft.queries

import graft.Tables
import graft.functions.{Astro, Exact}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Astro computation operators (SURVEY.md §2 q11–q20).
  *
  * Each operator re-expresses a computation from the reference's calc
  * package (reference: src/nbody6/calc/{star,binary,cluster,summary}.py)
  * as a pure Catalyst expression tree over the driver test tables —
  * lineitem stands in for the star table (mass = l_quantity, positions
  * and luminosities derived from price/discount/tax columns). The
  * physics-column mapping is arbitrary; what the oracle checks is that
  * the MATH — log-sum-exp, Kepler III, Stefan–Boltzmann, window
  * cumulative-mass crossing, cross-product inclination — is exact.
  *
  * Scale notes: every query is groupBy/window on one key — partial
  * aggregation before the shuffle, single exchange, whole-stage codegen
  * throughout (no UDFs). Parity policy: multi-row sums/means/stddevs
  * aggregate in DECIMAL (graft.functions.Exact — order-independent,
  * engine-proof); per-row scalar math passes through unrounded —
  * identical IEEE ops on identical inputs are bit-equal across
  * engines, whereas round() itself differs (Spark HALF_UP on exact
  * BigDecimal vs DuckDB float multiply) and manufactures mismatches
  * on decimal-ish data.
  */
object AstroQueries extends QueryModule {

  // Shared synthetic "star" columns over lineitem.
  private def starX: Column = col("l_extendedprice") / 1000.0
  private def starY: Column = col("l_discount") * 100.0
  private def starZ: Column = col("l_tax") * 100.0
  private def starMass: Column = col("l_quantity")

  /** q11: descriptive-stats pack — mean/std/min/q1/median/q3/max per
    * group (reference: calc/summary.py:20 calc_summary_stats; pandas
    * .describe()). Exact interpolated quantiles (== DuckDB
    * quantile_cont) via graft.operators.DistributedQuantile: a
    * bucket-histogram prune instead of one per-group total sort, so a
    * low-cardinality group key (or a single global group) no longer
    * serializes the whole table through a handful of window tasks —
    * every pass is map-side-combined and only ~1/256 of each group is
    * ever sorted. The moments pack is the usual single partial-agg
    * pass; the two tiny results join at |groups| rows.
    */
  def q11DescriptiveStats(spark: SparkSession, dir: String): DataFrame =
    graft.operators.DistributedQuantile.describe(
      Tables(spark, dir).lineitem
        .select(col("l_returnflag"), col("l_extendedprice").as("v")),
      Seq("l_returnflag"), "v",
      Seq("q1" -> 0.25, "median" -> 0.5, "q3" -> 0.75))
      .select(col("l_returnflag"), col("n"), col("mean"),
        round(col("std"), 4).as("std"), round(col("min"), 4).as("min"),
        round(col("q1"), 4).as("q1"), round(col("median"), 4).as("median"),
        round(col("q3"), 4).as("q3"), round(col("max"), 4).as("max"))
      .orderBy("l_returnflag")

  val q11Sql: String =
    s"""SELECT l_returnflag, count(l_extendedprice) AS n,
      | ${Exact.meanSql("l_extendedprice")} AS mean,
      | round(${Exact.stddevSql("l_extendedprice")}, 4) AS std,
      | round(min(l_extendedprice), 4) AS min,
      | round(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
      | round(quantile_cont(l_extendedprice, 0.5), 4) AS median,
      | round(quantile_cont(l_extendedprice, 0.75), 4) AS q3,
      | round(max(l_extendedprice), 4) AS max
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q12: half-mass radius — the first radius where the running mass
    * sum crosses half the total (reference: calc/cluster.py:14
    * calc_half_mass_radius), via DistributedQuantile.weightedCrossing:
    * a bucketed mass histogram locates the crossing bucket, then only
    * that bucket's rows (~1/256 of the group) pay the ordered cumsum —
    * no per-group total sort. Mass prefix sums are DECIMAL-exact, so
    * the crossing row matches the oracle's global-window formulation.
    */
  def q12HalfMassRadius(spark: SparkSession, dir: String): DataFrame =
    graft.operators.DistributedQuantile.weightedCrossing(
      Tables(spark, dir).lineitem
        .select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"),
          col("l_linenumber"), starMass.as("mass")),
      Seq("l_returnflag"), "l_extendedprice",
      Seq("l_orderkey", "l_linenumber"), col("mass"))
      .select(col("l_returnflag"), round(col("crossing"), 4).as("r_half_mass"))
      .orderBy("l_returnflag")

  val q12Sql: String =
    """WITH c AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    sum(CAST(l_quantity AS DECIMAL(18,4))) OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_mass,
      |    sum(CAST(l_quantity AS DECIMAL(18,4))) OVER (PARTITION BY l_returnflag) AS total_mass
      |  FROM lineitem)
      |SELECT l_returnflag, round(min(l_extendedprice), 4) AS r_half_mass
      |FROM c WHERE cum_mass * 2 >= total_mass
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q13: annular histogram — integer ceil-ring counts + ring mass
    * (reference: snapshot.py:314 _calc_annular_stats; np.ceil ring id).
    * groupBy(int ring) -> map-side combine; output |rings| rows.
    */
  def q13AnnularHist(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .select(ceil(starX).cast("long").as("ring"), starMass.as("mass"))
      .groupBy("ring")
      .agg(count(lit(1)).as("n_stars"), Exact.sumExact(col("mass")).as("ring_mass"))
      .orderBy("ring")

  val q13Sql: String =
    s"""SELECT CAST(ceil(l_extendedprice / 1000.0) AS BIGINT) AS ring,
      | count(*) AS n_stars, ${Exact.sumSql("l_quantity")} AS ring_mass
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** q14: photocentric merge — luminosity-weighted position of a
    * two-component system (reference: calc/binary.py:43
    * calc_photocentric_coord). Components = linenumbers 1,2 of an
    * order, pivoted in one aggregate (no self-join).
    */
  def q14Photocentric(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .filter(col("l_linenumber") <= 2)
      .groupBy("l_orderkey")
      .agg(
        max(when(col("l_linenumber") === 1, col("l_quantity"))).as("w1"),
        max(when(col("l_linenumber") === 1, col("l_extendedprice"))).as("x1"),
        max(when(col("l_linenumber") === 2, col("l_quantity"))).as("w2"),
        max(when(col("l_linenumber") === 2, col("l_extendedprice"))).as("x2"))
      .filter(col("w2").isNotNull)
      .select(col("l_orderkey"),
        Astro.photocentric(col("w1"), col("w2"), col("x1"), col("x2")).as("photo_x"))

  val q14Sql: String =
    """WITH p AS (
      |  SELECT l_orderkey,
      |    max(CASE WHEN l_linenumber = 1 THEN l_quantity END) AS w1,
      |    max(CASE WHEN l_linenumber = 1 THEN l_extendedprice END) AS x1,
      |    max(CASE WHEN l_linenumber = 2 THEN l_quantity END) AS w2,
      |    max(CASE WHEN l_linenumber = 2 THEN l_extendedprice END) AS x2
      |  FROM lineitem WHERE l_linenumber <= 2 GROUP BY l_orderkey)
      |SELECT l_orderkey, (w1*x1 + w2*x2) / (w1 + w2) AS photo_x
      |FROM p WHERE w2 IS NOT NULL ORDER BY l_orderkey""".stripMargin

  /** q15: total log-luminosity of a pair via log-sum-exp —
    * log10(10^a + 10^b) computed stably (reference: calc/binary.py:10
    * calc_total_log_luminosity).
    */
  def q15LogLuminositySum(spark: SparkSession, dir: String): DataFrame = {
    val a = log10(col("l_extendedprice"))
    val b = log10(col("l_quantity") * 1000.0)
    Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_linenumber"),
        Astro.logAdd10(a, b).as("log_l_total"),
        Astro.logEquivalentRadius(a * 0.5, b * 0.5).as("log_r_equiv"))
  }

  val q15Sql: String =
    """SELECT l_orderkey, l_linenumber,
      | greatest(a, b) + log10(1.0 + pow(10.0, least(a, b) - greatest(a, b))) AS log_l_total,
      | (greatest(a, b) + log10(1.0 + pow(10.0, least(a, b) - greatest(a, b)))) * 0.5 AS log_r_equiv
      |FROM (SELECT l_orderkey, l_linenumber,
      |        log10(l_extendedprice) AS a, log10(l_quantity * 1000.0) AS b
      |      FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q16: Kepler third-law semi-major axis from component masses and
    * period, plus wide/hard classification (reference:
    * calc/binary.py:57 calc_semi_major_axis, :95 is_wide, :99 is_hard).
    * Constants spelled identically in the SQL oracle.
    */
  def q16KeplerSemiAxis(spark: SparkSession, dir: String): DataFrame = {
    val m1 = col("l_quantity")
    val m2 = col("l_tax") * 10.0
    val period = col("l_extendedprice")          // days
    val semi = Astro.keplerSemiMajorAxisAu(m1, m2, period)
    Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_linenumber"),
        semi.as("semi_au"),
        Astro.isWideBinary(semi, 80.0).as("is_wide"),
        Astro.isHardBinary(semi, lit(0.002), lit(5.0)).as("is_hard"))
  }

  val q16Sql: String =
    s"""SELECT l_orderkey, l_linenumber,
      | a_au AS semi_au,
      | a_au > 80.0 AS is_wide,
      | a_au < 0.002 * ${Astro.PC_AU} / 5.0 AS is_hard
      |FROM (
      |  SELECT l_orderkey, l_linenumber,
      |    pow((l_quantity + l_tax * 10.0) * ${Astro.M_SUN_KG}
      |        * (l_extendedprice * 86400.0) * (l_extendedprice * 86400.0)
      |        * (${Astro.G_SI} / (4.0 * pi() * pi())), 1.0/3.0)
      |      / ${Astro.AU_M} AS a_au
      |  FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q17: Stefan–Boltzmann effective temperature + equivalent radius
    * (reference: calc/star.py:12 calc_effective_temperature,
    * binary.py:26 calc_log_equivalent_radius).
    */
  def q17EffectiveTemp(spark: SparkSession, dir: String): DataFrame = {
    val lum = col("l_extendedprice") / 1000.0
    val rad = col("l_quantity")
    Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_linenumber"),
        Astro.effectiveTemperatureK(lum, rad).as("t_eff_k"),
        Astro.logEffectiveTemperatureK(log10(lum), log10(rad)).as("log_t_eff"))
  }

  val q17Sql: String =
    s"""SELECT l_orderkey, l_linenumber,
      | pow((l_extendedprice/1000.0) / (l_quantity*l_quantity), 0.25) * ${Astro.T_SUN_K} AS t_eff_k,
      | (log10(l_extendedprice/1000.0) - 2.0*log10(l_quantity)) * 0.25 + log10(${Astro.T_SUN_K}) AS log_t_eff
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q18: bolometric + apparent magnitude (reference: calc/star.py:30
    * calc_bolometric_magnitude, :38 calc_apparent_magnitude).
    */
  def q18Magnitudes(spark: SparkSession, dir: String): DataFrame = {
    val logL = log10(col("l_extendedprice") / 1000.0)
    val distPc = col("l_quantity") * 100.0
    val mBol = Astro.bolometricMagnitude(logL)
    Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_linenumber"),
        mBol.as("m_bol"),
        Astro.apparentMagnitude(mBol, distPc).as("m_app"))
  }

  val q18Sql: String =
    s"""SELECT l_orderkey, l_linenumber,
      | m_bol AS m_bol,
      | m_bol + (log10(l_quantity * 100.0) - 1.0) * 5.0 AS m_app
      |FROM (
      |  SELECT l_orderkey, l_linenumber, l_quantity,
      |    -2.5 * log10(l_extendedprice/1000.0)
      |      + (-2.5 * log10(${Astro.L_SUN_W} / ${Astro.L_BOL0_W})) AS m_bol
      |  FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q19: orbital-plane inclination — angle between h = r x v and the
    * z-axis (reference: calc/binary.py:69 calc_inclination,
    * collect_inclination_stats.py:25). Clamped acos; radial orbits -> 0.
    */
  def q19Inclination(spark: SparkSession, dir: String): DataFrame = {
    val (rx, ry, rz) = (starMass, starX, col("l_discount") * 10.0)
    val (vx, vy, vz) =
      (col("l_tax") * 10.0, col("l_linenumber").cast("double"),
        col("l_discount") * 100.0 - 5.0)
    Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_linenumber"),
        Astro.orbitalInclinationRad(rx, ry, rz, vx, vy, vz).as("incl_rad"))
  }

  val q19Sql: String =
    """SELECT l_orderkey, l_linenumber,
      | CASE WHEN hn < 1e-12 THEN 0.0
      |   ELSE acos(greatest(-1.0, least(1.0, hz / hn))) END AS incl_rad
      |FROM (
      |  SELECT l_orderkey, l_linenumber,
      |    sqrt(hx*hx + hy*hy + hz*hz) AS hn, hz
      |  FROM (
      |    SELECT l_orderkey, l_linenumber,
      |      ry*vz - rz*vy AS hx, rz*vx - rx*vz AS hy, rx*vy - ry*vx AS hz
      |    FROM (
      |      SELECT l_orderkey, l_linenumber,
      |        l_quantity AS rx, l_extendedprice/1000.0 AS ry, l_discount*10.0 AS rz,
      |        l_tax*10.0 AS vx, CAST(l_linenumber AS DOUBLE) AS vy,
      |        l_discount*100.0 - 5.0 AS vz
      |      FROM lineitem)))
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q20: 3-D distance to the density center, normalized by tidal
    * radius, membership flags (reference: assembler.py:190-204
    * dist_dc_pc / dist_dc_scaled / is_in_tidal_radius).
    */
  def q20DensityCenterDist(spark: SparkSession, dir: String): DataFrame = {
    val dist = Astro.distToCenter(starMass, starX, starZ, 25.0, 35.0, 4.0)
    val rTidal = 20.0
    Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_linenumber"),
        dist.as("dist_dc"),
        (dist / rTidal).as("dist_dc_scaled"),
        (dist <= rTidal).as("in_r_tidal"),
        (dist <= 2 * rTidal).as("in_2r_tidal"))
  }

  val q20Sql: String =
    """SELECT l_orderkey, l_linenumber,
      | d AS dist_dc,
      | d / 20.0 AS dist_dc_scaled,
      | d <= 20.0 AS in_r_tidal,
      | d <= 40.0 AS in_2r_tidal
      |FROM (
      |  SELECT l_orderkey, l_linenumber,
      |    sqrt((l_quantity-25.0)*(l_quantity-25.0)
      |       + (l_extendedprice/1000.0-35.0)*(l_extendedprice/1000.0-35.0)
      |       + (l_tax*100.0-4.0)*(l_tax*100.0-4.0)) AS d
      |  FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q95 synthetic radial velocity (same shared star-column
    * convention as starX/starY/starZ).
    */
  private def starVr: Column = col("l_tax") * 100.0 - col("l_discount") * 50.0

  /** q95: VELOCITY-DISPERSION PROFILE — per integer radial ring
    * (q13's annular bucketing), the star count, mean radial velocity,
    * and velocity dispersion sigma (reference analogue: the kinematic
    * profile a cluster-dynamics notebook derives from the same rings
    * it histograms; dispersion is the observable tied to virial mass).
    * One map-side-combined aggregation; mean and sigma come from
    * DECIMAL-exact sums (graft.functions.Exact), so the doubles are
    * engine- and partitioning-identical with no rounding. Rings with a
    * single star are dropped (sample dispersion undefined).
    */
  def q95VelocityDispersion(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .select(ceil(starX).cast("long").as("ring"), starVr.as("vr"))
      .groupBy("ring")
      .agg(count(lit(1)).as("n"),
        Exact.meanExact(col("vr")).as("mean_vr"),
        Exact.stddevExact(col("vr")).as("sigma_vr"))
      .filter(col("n") >= 2)

  val q95Sql: String =
    s"""SELECT CAST(ceil(l_extendedprice / 1000.0) AS BIGINT) AS ring,
      | count(*) AS n,
      | ${Exact.meanSql("vr")} AS mean_vr,
      | ${Exact.stddevSql("vr")} AS sigma_vr
      |FROM (SELECT l_extendedprice, l_tax * 100 - l_discount * 50 AS vr
      |      FROM lineitem)
      |GROUP BY 1 HAVING count(*) >= 2 ORDER BY 1""".stripMargin

  /** q96: LAGRANGIAN RADII — the radii enclosing 10/25/50/75/90% of
    * the total mass per group (reference: calc/cluster.py:14's
    * half-mass crossing generalized to the standard Lagrangian-radius
    * set every cluster-evolution plot uses). All five fractions share
    * ONE bucket-histogram scan and one fine pass over only the located
    * buckets (operators/DistributedQuantile.weightedCrossings) — the
    * naive shape would be five per-group total sorts. Mass prefix sums
    * are DECIMAL-exact, so each crossing row matches the oracle's
    * global-window formulation bit-for-bit.
    */
  def q96LagrangianRadii(spark: SparkSession, dir: String): DataFrame =
    graft.operators.DistributedQuantile.weightedCrossings(
      Tables(spark, dir).lineitem
        .select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"),
          col("l_linenumber"), starMass.as("mass")),
      Seq("l_returnflag"), "l_extendedprice",
      Seq("l_orderkey", "l_linenumber"), col("mass"),
      Seq(("r10", 1, 10), ("r25", 1, 4), ("r50", 1, 2), ("r75", 3, 4),
        ("r90", 9, 10)))
      .select(col("l_returnflag"),
        round(col("r10"), 4).as("r10"), round(col("r25"), 4).as("r25"),
        round(col("r50"), 4).as("r50"), round(col("r75"), 4).as("r75"),
        round(col("r90"), 4).as("r90"))
      .orderBy("l_returnflag")

  val q96Sql: String =
    """WITH c AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    sum(CAST(l_quantity AS DECIMAL(18,4))) OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_mass,
      |    sum(CAST(l_quantity AS DECIMAL(18,4))) OVER (PARTITION BY l_returnflag) AS total_mass
      |  FROM lineitem)
      |SELECT l_returnflag,
      |  round(min(CASE WHEN cum_mass * 10 >= total_mass THEN l_extendedprice END), 4) AS r10,
      |  round(min(CASE WHEN cum_mass * 4 >= total_mass THEN l_extendedprice END), 4) AS r25,
      |  round(min(CASE WHEN cum_mass * 2 >= total_mass THEN l_extendedprice END), 4) AS r50,
      |  round(min(CASE WHEN cum_mass * 4 >= total_mass * 3 THEN l_extendedprice END), 4) AS r75,
      |  round(min(CASE WHEN cum_mass * 10 >= total_mass * 9 THEN l_extendedprice END), 4) AS r90
      |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q97: MASS-FUNCTION SLOPE — the power-law index of the stellar
    * mass function per group, fit by least squares over the log-count
    * histogram (the reference's notebooks derive the present-day mass
    * function from the same per-snapshot mass column;
    * snapshot.py:226's stats feed it). Two map-side-combined
    * aggregations: |masses| -> |bins| -> |groups|.
    *
    * Cross-engine determinism: the regression runs in INTEGER space —
    * x is the bin index, y is floor(ln(count)*1e6 + 0.5) (ln on
    * identical integer inputs is bit-equal across engines, floor makes
    * it an exact BIGINT) — so every sum in the normal equations is
    * exact and order-independent; only the final one-op division
    * happens in doubles.
    */
  def q97MassFunctionSlope(spark: SparkSession, dir: String): DataFrame = {
    val binned = Tables(spark, dir).lineitem
      .select(col("l_returnflag"),
        floor(log(10.0, starMass) * 10.0).cast("long").as("bin"))
      .groupBy("l_returnflag", "bin")
      .agg(count(lit(1)).as("cnt"))
      .select(col("l_returnflag"), col("bin"),
        floor(log(col("cnt").cast("double")) * 1e6 + 0.5).cast("long").as("yq"))
    binned.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_bins"),
        sum("bin").as("sx"), sum("yq").as("sy"),
        sum(col("bin") * col("yq")).as("sxy"),
        sum(col("bin") * col("bin")).as("sxx"))
      .select(col("l_returnflag"), col("n_bins"),
        ((col("n_bins") * col("sxy") - col("sx") * col("sy")).cast("double") /
          ((col("n_bins") * col("sxx") - col("sx") * col("sx")) * 100000.0))
          .as("slope_dex"))
      .orderBy("l_returnflag")
  }

  val q97Sql: String =
    """WITH h AS (
      |  SELECT l_returnflag, CAST(floor(log10(l_quantity) * 10.0) AS BIGINT) AS bin,
      |    count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |b AS (
      |  SELECT l_returnflag, bin,
      |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS yq
      |  FROM h),
      |s AS (
      |  SELECT l_returnflag, count(*) AS n_bins,
      |    sum(bin) AS sx, sum(yq) AS sy,
      |    sum(bin * yq) AS sxy, sum(bin * bin) AS sxx
      |  FROM b GROUP BY 1)
      |SELECT l_returnflag, n_bins,
      |  CAST(n_bins * sxy - sx * sy AS DOUBLE)
      |    / ((n_bins * sxx - sx * sx) * 100000.0) AS slope_dex
      |FROM s ORDER BY l_returnflag""".stripMargin

  /** q257 sample modulus + neighbor radius (integer position space). */
  val DC_MOD = 61
  val DC_RADIUS = 500.0

  /** q257: CASERTANO-HUT DENSITY CENTER, driver-gated — the previously
    * spec-only SpatialNeighbors.densityCenter (the quantity the
    * reference only READS pre-computed from densCentre.txt;
    * parser/density_center.py) computed end-to-end over warehouse
    * positions: a deterministic 1/61 sample of lineitem becomes integer
    * 3-D star positions + masses, the grid-cell equi-join finds all
    * within-radius neighbor pairs (27x bounded fanout, never O(N^2) in
    * Spark), each star's local density = neighbor mass inside the
    * sphere (self included), and the center is the density-weighted
    * mean position per return flag. All sums are integer-valued doubles
    * (exact below 2^53) so the one final division is bit-identical in
    * DuckDB — whose oracle does the O(n^2) pair join the operator
    * exists to avoid, affordable only because the gate sample is
    * bounded.
    */
  def q257DensityCenter(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: the grid-key build ran on the scan's single-row-group
    // splits (2.9 s of 3.8 s at sf0.1) — Tables.fanOut, guide §2.5
    val stars = Tables.fanOut(Tables(spark, dir).lineitem
        .filter(col("l_orderkey") % DC_MOD === 0), col("l_orderkey"))
      .select(col("l_returnflag"),
        floor(col("l_quantity") * 100 + lit(0.5)).as("px"),
        floor(col("l_extendedprice") / 100 + lit(0.5)).as("py"),
        floor(col("l_tax") * 10000 + lit(0.5)).as("pz"),
        floor(col("l_discount") * 100 + lit(1.5)).as("m"))
    graft.operators.SpatialNeighbors.densityCenter(
      stars, Seq("l_returnflag"), "px", "py", "pz", "m", DC_RADIUS)
  }

  val q257Sql: String =
    s"""WITH stars AS (
      |  SELECT l_returnflag,
      |    floor(l_quantity * 100 + 0.5) AS px,
      |    floor(l_extendedprice / 100 + 0.5) AS py,
      |    floor(l_tax * 10000 + 0.5) AS pz,
      |    floor(l_discount * 100 + 1.5) AS m,
      |    row_number() OVER () AS sid
      |  FROM lineitem WHERE l_orderkey % $DC_MOD = 0),
      |rho AS (
      |  SELECT a.l_returnflag, a.sid, a.px, a.py, a.pz,
      |    sum(b.m) AS rho
      |  FROM stars a JOIN stars b ON a.l_returnflag = b.l_returnflag
      |  WHERE sqrt((a.px - b.px) * (a.px - b.px)
      |    + (a.py - b.py) * (a.py - b.py)
      |    + (a.pz - b.pz) * (a.pz - b.pz)) <= $DC_RADIUS
      |  GROUP BY 1, 2, 3, 4, 5)
      |SELECT l_returnflag,
      |  CAST(sum(px * rho) AS DOUBLE) / CAST(sum(rho) AS DOUBLE) AS dc_x,
      |  CAST(sum(py * rho) AS DOUBLE) / CAST(sum(rho) AS DOUBLE) AS dc_y,
      |  CAST(sum(pz * rho) AS DOUBLE) / CAST(sum(rho) AS DOUBLE) AS dc_z,
      |  count(*) AS n_stars
      |FROM rho GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q257_density_center" -> Gate.sorted(q257DensityCenter _, "l_returnflag"),
    "q96_lagrangian_radii" -> (q96LagrangianRadii _),
    "q97_mass_function_slope" -> (q97MassFunctionSlope _),
    "q95_velocity_dispersion" -> Gate.sorted(q95VelocityDispersion _, "ring"),
    "q11_descriptive_stats" -> (q11DescriptiveStats _),
    "q12_half_mass_radius" -> (q12HalfMassRadius _),
    "q13_annular_hist" -> (q13AnnularHist _),
    "q14_photocentric" -> Gate.sorted(q14Photocentric _, "l_orderkey"),
    "q15_log_luminosity_sum" -> Gate.sorted(q15LogLuminositySum _, "l_orderkey", "l_linenumber"),
    "q16_kepler_semi_axis" -> Gate.sorted(q16KeplerSemiAxis _, "l_orderkey", "l_linenumber"),
    "q17_effective_temp" -> Gate.sorted(q17EffectiveTemp _, "l_orderkey", "l_linenumber"),
    "q18_magnitudes" -> Gate.sorted(q18Magnitudes _, "l_orderkey", "l_linenumber"),
    "q19_inclination" -> Gate.sorted(q19Inclination _, "l_orderkey", "l_linenumber"),
    "q20_density_center_dist" -> Gate.sorted(q20DensityCenterDist _, "l_orderkey", "l_linenumber"))

  val oracles: Map[String, String] = Map(
    "q257_density_center" -> q257Sql,
    "q96_lagrangian_radii" -> q96Sql,
    "q97_mass_function_slope" -> q97Sql,
    "q95_velocity_dispersion" -> q95Sql,
    "q11_descriptive_stats" -> q11Sql,
    "q12_half_mass_radius" -> q12Sql,
    "q13_annular_hist" -> q13Sql,
    "q14_photocentric" -> q14Sql,
    "q15_log_luminosity_sum" -> q15Sql,
    "q16_kepler_semi_axis" -> q16Sql,
    "q17_effective_temp" -> q17Sql,
    "q18_magnitudes" -> q18Sql,
    "q19_inclination" -> q19Sql,
    "q20_density_center_dist" -> q20Sql)
}
