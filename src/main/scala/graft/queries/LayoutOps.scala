package graft.queries

import graft.Tables
import graft.operators.{DistributedQuantile, Pins, ZOrderLayout}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 promotions: two components that until now were spec-only
  * (DistributedQuantileSpec, ZOrderLayoutSpec) exposed through
  * oracle-gated queries, so the driver's DuckDB gate proves their
  * semantics too, not just the Scala specs.
  */
object LayoutOps extends QueryModule {

  /** q165: EXACT GROUPED QUANTILES via the bucket-prune operator — the
    * `quantile_cont` p25/p50/p75 of l_extendedprice per return flag,
    * computed WITHOUT a per-group total sort (see
    * operators/DistributedQuantile.scala: histogram locate + survivor-
    * only local sort; nothing sorts more than ~1/256 of a group). The
    * oracle is DuckDB's own quantile_cont — the operator's symmetric
    * `(hi-pos)*lov + (pos-lo)*hiv` interpolation on `(n-1)*q` ranks is
    * the exact float expression both DuckDB and Spark's built-in
    * percentile evaluate, so doubles match bit-for-bit.
    */
  def q165GroupQuantiles(spark: SparkSession, dir: String): DataFrame =
    DistributedQuantile.quantiles(
      Tables(spark, dir).lineitem.select("l_returnflag", "l_extendedprice"),
      Seq("l_returnflag"), "l_extendedprice",
      Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))

  val q165Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.25) AS p25,
      |  quantile_cont(l_extendedprice, 0.50) AS p50,
      |  quantile_cont(l_extendedprice, 0.75) AS p75
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** q262: DISCRETE GROUPED QUANTILES — q165's `quantile_cont`
    * counterpart with `quantile_disc` semantics (the first element
    * whose cumulative distribution reaches q; always an actual data
    * value, the right choice for timestamps/ids where interpolated
    * midpoints are meaningless), via the same bucket-prune operator
    * (DistributedQuantile.quantilesDisc — no per-group total sort).
    * Oracle is DuckDB's own quantile_disc: both select the 1-based
    * rank ceil(q*n), so values match exactly with NO float arithmetic
    * in the gate at all.
    */
  def q262GroupQuantilesDisc(spark: SparkSession, dir: String): DataFrame =
    DistributedQuantile.quantilesDisc(
      Tables(spark, dir).lineitem.select("l_returnflag", "l_extendedprice"),
      Seq("l_returnflag"), "l_extendedprice",
      Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))

  val q262Sql: String =
    """SELECT l_returnflag,
      |  quantile_disc(l_extendedprice, 0.25) AS p25,
      |  quantile_disc(l_extendedprice, 0.50) AS p50,
      |  quantile_disc(l_extendedprice, 0.75) AS p75
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** q166 z-key normalization bounds — fixed literals shared with the
    * oracle (at production scale these come from table stats).
    */
  val PRICE_LO = 900.0; val PRICE_HI = 1000.0
  val SIZE_LO = 0.0; val SIZE_HI = 64.0

  /** q166: MORTON-KEY PROFILE — the z-order clustering key
    * (operators/ZOrderLayout.scala) computed for every part from
    * (p_retailprice, p_size) and profiled per brand (count, min, max,
    * sum). Gating the KEY VALUES proves the shift-or-mask spread
    * ladder and the rank normalization are exactly the documented
    * Morton interleave — the oracle replicates the ladder in SQL bit
    * ops. Zero shuffle beyond the tiny brand rollup; the expression is
    * pure codegen'd column arithmetic (no UDF).
    */
  def q166ZorderProfile(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).part
      .select(col("p_brand"),
        ZOrderLayout.zkey(
          ZOrderLayout.rank16(col("p_retailprice"), PRICE_LO, PRICE_HI),
          ZOrderLayout.rank16(col("p_size"), SIZE_LO, SIZE_HI)).as("z"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), min("z").as("z_min"),
        max("z").as("z_max"), sum("z").as("z_sum"))

  val q166Sql: String = {
    def rank16(v: String, lo: Double, hi: Double): String =
      s"least(65535, greatest(0, CAST(floor((($v - $lo) / ${hi - lo}) * 65536.0) AS BIGINT)))"
    val ra = rank16("p_retailprice", PRICE_LO, PRICE_HI)
    val rb = rank16("CAST(p_size AS DOUBLE)", SIZE_LO, SIZE_HI)
    // One CTE per shift-or-mask ladder step, both lanes carried
    // side-by-side so the row pairing stays intact.
    s"""WITH r AS (
       |  SELECT p_brand, ($ra) AS a, ($rb) AS b FROM part),
       |s1 AS (SELECT p_brand,
       |  ((a | (a << 8)) & 16711935) AS a, ((b | (b << 8)) & 16711935) AS b
       |  FROM r),
       |s2 AS (SELECT p_brand,
       |  ((a | (a << 4)) & 252645135) AS a, ((b | (b << 4)) & 252645135) AS b
       |  FROM s1),
       |s3 AS (SELECT p_brand,
       |  ((a | (a << 2)) & 858993459) AS a, ((b | (b << 2)) & 858993459) AS b
       |  FROM s2),
       |s4 AS (SELECT p_brand,
       |  ((a | (a << 1)) & 1431655765) AS a, ((b | (b << 1)) & 1431655765) AS b
       |  FROM s3),
       |z AS (SELECT p_brand, (a | (b << 1)) AS z FROM s4)
       |SELECT p_brand, count(*) AS n,
       |  CAST(min(z) AS BIGINT) AS z_min, CAST(max(z) AS BIGINT) AS z_max,
       |  CAST(sum(z) AS BIGINT) AS z_sum
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q174: WEIGHTED MEDIAN per group through
    * operators/DistributedQuantile.weightedCrossing — the first
    * l_extendedprice whose quantity-weighted cumulative mass reaches
    * half the group total (the same crossing machinery as the astro
    * half-mass radius q12, here DuckDB-gated on the warehouse tables).
    * Bucket histogram + survivor-only fine pass; weights aggregate in
    * DECIMAL so prefix sums are exact and the crossing value is
    * partitioning-independent.
    */
  def q174WeightedMedian(spark: SparkSession, dir: String): DataFrame =
    DistributedQuantile.weightedCrossing(
      Tables(spark, dir).lineitem
        .select("l_returnflag", "l_extendedprice", "l_quantity",
          "l_orderkey", "l_linenumber"),
      Seq("l_returnflag"), "l_extendedprice",
      Seq("l_orderkey", "l_linenumber"),
      col("l_quantity"), scale = 2)

  val q174Sql: String =
    """WITH w AS (
      |  SELECT l_returnflag, l_extendedprice AS v,
      |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS wc
      |  FROM lineitem),
      |c AS (
      |  SELECT l_returnflag, v,
      |    sum(wc) OVER (PARTITION BY l_returnflag ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    sum(wc) OVER (PARTITION BY l_returnflag) AS tot
      |  FROM w)
      |SELECT l_returnflag, min(v) AS crossing
      |FROM c WHERE cw * 2 >= tot
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q204 profiled columns — low-cardinality flags plus the date, the
    * three RLE-candidate columns of the fact table.
    */
  val RUN_COLS: Seq[String] = Seq("l_returnflag", "l_linestatus")

  /** q204: RUN-LENGTH ENCODING PROFILE — per column, the number and
    * size of equal-value runs in the table's natural clustering order
    * (l_orderkey, l_linenumber), the statistic a layout optimizer uses
    * to decide which columns RLE/dictionary encoding will actually
    * compress and whether a re-sort (e.g. the q166 z-order) pays for
    * itself. Runs are counted WITHIN each l_orderkey segment (row
    * groups never straddle the clustering key at write time, so
    * cross-segment runs are not encodable anyway), which is what keeps
    * the plan scalable: both window passes partition on l_orderkey —
    * no global-order single-task window. One unpivoted scan, one
    * (col, orderkey)-keyed exchange shared by both windows, then a
    * run-sized aggregate.
    */
  def q204RunProfile(spark: SparkSession, dir: String): DataFrame = {
    // (l_orderkey, l_linenumber) is NOT unique in the test data, so raw
    // rows have no deterministic total order — and a window engine may
    // legally place ties differently in the brk pass and the run_id
    // pass (DuckDB does, which double-counts a run). Compressing equal
    // (linenumber, val) rows to one keyed row + multiplicity FIRST
    // makes every window sort key unique (fully deterministic in any
    // engine) and shrinks the windowed data — the aggregate is
    // map-side combined before the (col_name, l_orderkey) exchange the
    // two windows share.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("col_name", "l_orderkey").orderBy("l_linenumber", "val")
    val stackExpr = RUN_COLS.map(c => s"'$c', $c").mkString(
      s"stack(${RUN_COLS.size}, ", ", ", ")")
    // fanOut: the stack unpivot ran in a 3-task scan stage (1.1 s at
    // sf0.1) — see Tables.fanOut (guide §2.5)
    val compressed = Tables.fanOut(
        Tables(spark, dir).lineitem, col("l_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
        expr(s"$stackExpr as (col_name, val)"))
      .groupBy("col_name", "l_orderkey", "l_linenumber", "val")
      .agg(count(lit(1)).as("cnt"))
    val runs = compressed
      .withColumn("brk",
        when(lag("val", 1).over(w).isNull ||
          lag("val", 1).over(w) =!= col("val"), 1L).otherwise(0L))
      .withColumn("run_id",
        sum("brk").over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy("col_name", "l_orderkey", "run_id")
      .agg(sum("cnt").as("rl"))
    runs.groupBy("col_name")
      .agg(sum("rl").as("n_rows"), count(lit(1)).as("n_runs"),
        max("rl").as("max_run"),
        floor(sum("rl") * lit(1e6) / count(lit(1)) + lit(0.5)).cast("long")
          .as("avg_run_micro"))
  }

  val q204Sql: String = {
    val branches = RUN_COLS.map(c =>
      s"SELECT '$c' AS col_name, l_orderkey, l_linenumber, $c AS val FROM lineitem")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH u AS (
       |  $branches),
       |g AS (
       |  SELECT col_name, l_orderkey, l_linenumber, val,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM u GROUP BY 1, 2, 3, 4),
       |b AS (
       |  SELECT col_name, l_orderkey, l_linenumber, val, cnt,
       |    CASE WHEN lag(val) OVER
       |        (PARTITION BY col_name, l_orderkey ORDER BY l_linenumber, val)
       |      IS DISTINCT FROM val THEN 1 ELSE 0 END AS brk
       |  FROM g),
       |r AS (
       |  SELECT col_name, l_orderkey, cnt,
       |    sum(brk) OVER (PARTITION BY col_name, l_orderkey
       |      ORDER BY l_linenumber, val
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS run_id
       |  FROM b),
       |runs AS (
       |  SELECT col_name, l_orderkey, run_id, CAST(sum(cnt) AS BIGINT) AS rl
       |  FROM r GROUP BY 1, 2, 3)
       |SELECT col_name, CAST(sum(rl) AS BIGINT) AS n_rows,
       |  CAST(count(*) AS BIGINT) AS n_runs,
       |  max(rl) AS max_run,
       |  CAST(floor(sum(rl) * 1e6 / count(*) + 0.5) AS BIGINT) AS avg_run_micro
       |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q229 profiled columns (name -> string-cast SQL expression, shared
    * with the oracle): the two RLE candidates plus a date and a
    * near-unique money column, all rendered as canonical strings so
    * widths are engine-identical (BIGINT-to-string has one decimal
    * form; raw doubles would not round-trip identically).
    */
  val ENC_COLS: Seq[(String, String)] = Seq(
    "l_returnflag" -> "l_returnflag",
    "l_linestatus" -> "l_linestatus",
    "ship_day" ->
      "cast(datediff(to_date(l_shipdate), date'1970-01-01') as string)",
    "price_cents" ->
      "cast(cast(floor(l_extendedprice * 100 + 0.5) as bigint) as string)")

  /** Per-value RLE overhead bits (run-length varint estimate). */
  val ENC_RUN_OVERHEAD_BITS = 32L

  /** q229: COLUMNAR ENCODING ADVISOR — the ANALYZE-driven layout
    * decision: for each column, its cardinality (dictionary size), its
    * run structure in the table's clustering order (the q204
    * machinery), and the estimated encoded size under PLAIN, DICT, and
    * RLE — with the argmin recommendation. The estimates are the
    * standard first-order models (PLAIN = data bytes; DICT = dictionary
    * bytes + n·ceil(log2(ndv)) code bits; RLE = runs x (value +
    * length-varint)) on EXACT integer stats, so the recommendation is
    * reproducible, and the deciding inputs (ndv vs runs) are exactly
    * what parquet writers weigh. One unpivoted scan feeds both the
    * run profile and the dictionary rollup.
    */
  def q229EncodingAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy("col_name", "l_orderkey").orderBy("l_linenumber", "val")
    val stackExpr = ENC_COLS.map { case (n, e) => s"'$n', $e" }
      .mkString(s"stack(${ENC_COLS.size}, ", ", ", ")")
    // fanOut: the 4-column stack unpivot + string rendering ran as a
    // 3-task scan stage (3.5 s of the query's 5.6 s at sf0.1) — see
    // Tables.fanOut (guide §2.5)
    val compressed = Tables.fanOut(
        Tables(spark, dir).lineitem, col("l_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
        expr(s"$stackExpr as (col_name, val)"))
      .groupBy("col_name", "l_orderkey", "l_linenumber", "val")
      .agg(count(lit(1)).as("cnt"))
      .transform(Pins.pin)
    val runs = compressed
      .withColumn("brk",
        when(lag("val", 1).over(w).isNull ||
          lag("val", 1).over(w) =!= col("val"), 1L).otherwise(0L))
      .groupBy("col_name")
      .agg(sum("brk").as("n_runs"),
        sum(col("cnt") * length(col("val"))).as("total_chars"),
        sum("cnt").as("n_rows"))
    val dict = compressed.groupBy("col_name", "val")
      .agg(count(lit(1)).as("k"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("ndv"), sum(length(col("val"))).as("dict_chars"))
    runs.join(dict, "col_name")
      .withColumn("code_bits",
        greatest(lit(1L), ceil(log2(col("ndv"))).cast("long")))
      .withColumn("avg_w_ceil",
        expr("(total_chars + n_rows - 1) div n_rows"))
      .select(col("col_name"), col("n_rows"), col("ndv"), col("n_runs"),
        (col("total_chars") * 8).as("plain_bits"),
        (col("dict_chars") * 8 + col("n_rows") * col("code_bits"))
          .as("dict_bits"),
        (col("n_runs") * (lit(ENC_RUN_OVERHEAD_BITS) + col("avg_w_ceil") * 8))
          .as("rle_bits"))
      .withColumn("recommended",
        when(col("rle_bits") <= col("dict_bits") &&
          col("rle_bits") <= col("plain_bits"), "RLE")
          .when(col("dict_bits") <= col("plain_bits"), "DICT")
          .otherwise("PLAIN"))
  }

  val q229Sql: String = {
    val branches = ENC_COLS.map { case (n, e) =>
      val duck = e
        .replace("cast(datediff(to_date(l_shipdate), date'1970-01-01') as string)",
          "CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS VARCHAR)")
        .replace("cast(cast(floor(l_extendedprice * 100 + 0.5) as bigint) as string)",
          "CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS VARCHAR)")
      s"SELECT '$n' AS col_name, l_orderkey, l_linenumber, $duck AS val FROM lineitem"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH u AS (
      |  $branches),
      |g AS (
      |  SELECT col_name, l_orderkey, l_linenumber, val,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM u GROUP BY 1, 2, 3, 4),
      |b AS (
      |  SELECT col_name, val, cnt,
      |    CASE WHEN lag(val) OVER
      |        (PARTITION BY col_name, l_orderkey ORDER BY l_linenumber, val)
      |      IS DISTINCT FROM val THEN 1 ELSE 0 END AS brk
      |  FROM g),
      |runs AS (
      |  SELECT col_name, CAST(sum(brk) AS BIGINT) AS n_runs,
      |    CAST(sum(cnt * length(val)) AS BIGINT) AS total_chars,
      |    CAST(sum(cnt) AS BIGINT) AS n_rows
      |  FROM b GROUP BY 1),
      |dict AS (
      |  SELECT col_name, CAST(count(*) AS BIGINT) AS ndv,
      |    CAST(sum(length(val)) AS BIGINT) AS dict_chars
      |  FROM (SELECT DISTINCT col_name, val FROM g) GROUP BY 1),
      |m AS (
      |  SELECT r.col_name, r.n_rows, d.ndv, r.n_runs,
      |    r.total_chars * 8 AS plain_bits,
      |    d.dict_chars * 8 + r.n_rows *
      |      greatest(1, CAST(ceil(log2(d.ndv)) AS BIGINT)) AS dict_bits,
      |    r.n_runs * ($ENC_RUN_OVERHEAD_BITS +
      |      ((r.total_chars + r.n_rows - 1) // r.n_rows) * 8) AS rle_bits
      |  FROM runs r JOIN dict d USING (col_name))
      |SELECT col_name, n_rows, ndv, n_runs,
      |  CAST(plain_bits AS BIGINT) AS plain_bits,
      |  CAST(dict_bits AS BIGINT) AS dict_bits,
      |  CAST(rle_bits AS BIGINT) AS rle_bits,
      |  CASE WHEN rle_bits <= dict_bits AND rle_bits <= plain_bits THEN 'RLE'
      |       WHEN dict_bits <= plain_bits THEN 'DICT'
      |       ELSE 'PLAIN' END AS recommended
      |FROM m ORDER BY col_name""".stripMargin
  }

  /** q370: TRIMMED + WINSORIZED MEANS per group — the robust location
    * estimates a skew/outlier-aware report pairs with the raw mean:
    * cut points are the DISCRETE p05/p95 per event type (actual data
    * values from the bucket-prune operator, so the cross-engine
    * comparison below is float-equality-safe), the trimmed mean drops
    * rows outside [p05, p95], the winsorized mean clamps them. q174
    * gives the robust MEDIAN; these are the robust means every
    * metrics platform ships next to it.
    *
    * Scale shape: DistributedQuantile's histogram-locate pass (no
    * per-group sort), then ONE conditional aggregate over the scan
    * with the |groups|-row cut table broadcast. Decimal-exact sums
    * (Exact.dec), so the three means are single IEEE divisions of
    * identical inputs.
    */
  def q370RobustMeans(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val ev = Tables(spark, dir).events.select("event_type", "value")
    val cuts = DistributedQuantile.quantilesDisc(ev, Seq("event_type"),
      "value", Seq("p05" -> 0.05, "p95" -> 0.95))
    val inBand = col("value") >= col("p05") && col("value") <= col("p95")
    val wins = when(col("value") < col("p05"), col("p05"))
      .when(col("value") > col("p95"), col("p95"))
      .otherwise(col("value"))
    ev.join(broadcast(cuts), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(inBand, 1L).otherwise(0L)).as("n_kept"),
        (sum(Exact.dec(col("value"))).cast("double") / count(lit(1)))
          .as("mean_raw"),
        (sum(when(inBand, Exact.dec(col("value")))).cast("double") /
          sum(when(inBand, 1L).otherwise(0L))).as("mean_trimmed"),
        (sum(Exact.dec(wins)).cast("double") / count(lit(1)))
          .as("mean_winsorized"))
  }

  val q370Sql: String =
    """WITH c AS (
      |  SELECT event_type,
      |    quantile_disc(value, 0.05) AS p05,
      |    quantile_disc(value, 0.95) AS p95
      |  FROM events GROUP BY 1),
      |j AS (SELECT e.event_type, e.value, c.p05, c.p95
      |      FROM events e JOIN c ON c.event_type = e.event_type)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN value >= p05 AND value <= p95 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_kept,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*)
      |    AS mean_raw,
      |  CAST(sum(CASE WHEN value >= p05 AND value <= p95
      |    THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) /
      |    sum(CASE WHEN value >= p05 AND value <= p95 THEN 1 ELSE 0 END)
      |    AS mean_trimmed,
      |  CAST(sum(CAST(CASE WHEN value < p05 THEN p05
      |                     WHEN value > p95 THEN p95
      |                     ELSE value END AS DECIMAL(18,4))) AS DOUBLE) /
      |    count(*) AS mean_winsorized
      |FROM j GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q370_robust_means" -> Gate.sorted(q370RobustMeans _, "event_type"),
    "q229_encoding_advisor" -> Gate.sorted(q229EncodingAdvisor _, "col_name"),
    "q165_group_quantiles" -> Gate.sorted(q165GroupQuantiles _, "l_returnflag"),
    "q262_group_quantiles_disc" ->
      Gate.sorted(q262GroupQuantilesDisc _, "l_returnflag"),
    "q166_zorder_profile" -> Gate.sorted(q166ZorderProfile _, "p_brand"),
    "q174_weighted_median" -> Gate.sorted(q174WeightedMedian _, "l_returnflag"),
    "q204_run_profile" -> Gate.sorted(q204RunProfile _, "col_name"))

  val oracles: Map[String, String] = Map(
    "q370_robust_means" -> q370Sql,
    "q229_encoding_advisor" -> q229Sql,
    "q165_group_quantiles" -> q165Sql,
    "q262_group_quantiles_disc" -> q262Sql,
    "q166_zorder_profile" -> q166Sql,
    "q174_weighted_median" -> q174Sql,
    "q204_run_profile" -> q204Sql)
}
