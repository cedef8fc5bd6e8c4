package graft.queries

import graft.Tables
import graft.operators.{DistributedQuantile, Pins}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 batch 10: time-series SLO percentiles, cross-source corpus
  * containment, and auto-binned histograms.
  */
object ProfileOps extends QueryModule {

  /** q191: HOURLY P95 TIME SERIES — the SLO/latency panel metric:
    * per (hour, event_type), exact p50/p95 of value plus the exact
    * integer sum. Groups here are NUMEROUS AND BOUNDED (hours x
    * types), the exact case DistributedQuantile's own scaladoc says
    * the plain per-group formulation is right for — so this is ONE
    * map-side-combined pass of Spark's built-in `percentile`
    * aggregate (bit-identical to DuckDB quantile_cont: both evaluate
    * the symmetric (hi-pos)*lo + (pos-lo)*hi form), not the 3-pass
    * bucket-prune machinery reserved for groups that span the cluster.
    */
  def q191HourlyP95(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).events
      .select(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        .as("hour"), col("event_type"), col("value"))
      .groupBy("hour", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("sum_c"),
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.95)).as("p95"))
      .select("hour", "event_type", "n", "sum_c", "p50", "p95")
  }

  val q191Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |    AS sum_c,
      |  quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.95) AS p95
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q192: SOURCE CONTAINMENT MATRIX — for every ordered source pair,
    * the containment C(a,b) = |shingles(a) ∩ shingles(b)| / |shingles(a)|
    * (how much of source a's content also appears in b) — the corpus-
    * redundancy diagnostic that decides which sources to down-weight
    * in a training mix (q50/q58's upstream question). Source-level
    * DISTINCT shingle sets are a tiny rollup (|sources| x vocab), so
    * the pair join runs on source-level postings, never documents.
    * Containment is asymmetric — both directions are emitted.
    */
  def q192SourceContainment(spark: SparkSession, dir: String): DataFrame = {
    val srcSh = Tables(spark, dir).documents
      .select(col("source"),
        explode(graft.plans.ShingleHashSet(col("text"), DedupOps.SHINGLE_N))
          .as("sh"))
      .distinct()
      .transform(Pins.pin)
    val sizes = srcSh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val inter = srcSh.as("a")
      .join(srcSh.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") =!= col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes.toDF("src_a", "n_a")), "src_a")
      .select(col("src_a"), col("src_b"), col("n_inter"),
        floor(col("n_inter") * lit(1e6) / col("n_a") + lit(0.5))
          .cast("long").as("containment_micro"))
  }

  val q192Sql: String = {
    val sh =
      s"""list_transform(generate_series(1, length(text) - ${DedupOps.SHINGLE_N - 1}),
        |      i -> list_reduce(
        |             list_transform(generate_series(i, i + ${DedupOps.SHINGLE_N - 1}),
        |                            j -> CAST(ascii(substr(text, j, 1)) AS BIGINT)),
        |             (a, c) -> a * 31 + c) % ${graft.functions.TextFunctions.MINHASH_P})""".stripMargin
    s"""WITH e AS (
      |  SELECT DISTINCT source, unnest($sh) AS sh FROM documents),
      |sizes AS (SELECT source, count(*) AS n_sh FROM e GROUP BY 1),
      |inter AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
      |  FROM e a JOIN e b ON a.sh = b.sh AND a.source <> b.source
      |  GROUP BY 1, 2)
      |SELECT i.src_a AS src_a, i.src_b AS src_b,
      |  CAST(i.n_inter AS BIGINT) AS n_inter,
      |  CAST(floor(i.n_inter * 1e6 / s.n_sh + 0.5) AS BIGINT)
      |    AS containment_micro
      |FROM inter i JOIN sizes s ON s.source = i.src_a
      |ORDER BY 1, 2""".stripMargin
  }

  /** q193: AUTO-BINNED HISTOGRAM (Freedman-Diaconis) of order totals —
    * the profiling histogram that picks its own bin width
    * h = 2*IQR/n^(1/3) instead of a magic constant. IQR comes from the
    * bucket-prune quantile pass; the bin width is frozen to an exact
    * INTEGER number of cents (ceil) so assignment `floor((v-min)/h)`
    * is pure integer arithmetic in both engines, and the histogram
    * itself is one aggregate.
    */
  def q193FdHistogram(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
        .as("v_c"))
    val stats = DistributedQuantile.quantiles(
      o, Seq(), "v_c", Seq("p25" -> 0.25, "p75" -> 0.75))
      .crossJoin(o.agg(count(lit(1)).as("n"), min("v_c").as("v_min")))
      .select(
        greatest(lit(1L),
          ceil(lit(2.0) * (col("p75") - col("p25")) /
            pow(col("n").cast("double"), 1.0 / 3.0)).cast("long"))
          .as("width_c"),
        col("v_min"), col("n"))
      .transform(Pins.pin)
    o.crossJoin(broadcast(stats))
      .groupBy((((col("v_c") - col("v_min")) / col("width_c"))
        .cast("long")).as("bin"))
      .agg(count(lit(1)).as("n_rows"))
      .crossJoin(broadcast(stats.select("width_c", "v_min")))
      .select(col("bin"), col("width_c"), col("v_min"), col("n_rows"))
  }

  val q193Sql: String =
    """WITH o AS (
      |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v_c
      |  FROM orders),
      |st AS (
      |  SELECT greatest(1, CAST(ceil(2.0 * (quantile_cont(v_c, 0.75)
      |      - quantile_cont(v_c, 0.25)) / pow(count(*), 1.0/3.0)) AS BIGINT))
      |    AS width_c,
      |    CAST(min(v_c) AS BIGINT) AS v_min
      |  FROM o)
      |SELECT CAST(floor((o.v_c - st.v_min) * 1.0 / st.width_c) AS BIGINT)
      |    AS bin,
      |  st.width_c, st.v_min, count(*) AS n_rows
      |FROM o CROSS JOIN st
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  /** q216 bucket count for the equi-depth histogram. */
  val EQD_BUCKETS = 16

  /** q216: EQUI-DEPTH HISTOGRAM (optimizer statistics) — the ANALYZE
    * artifact a cost-based planner stores per column: 16 buckets of
    * (near-)equal row count with their value bounds and per-bucket
    * NDV. Bucket assignment is SQL-standard ntile in
    * operators/GlobalRank.withNtile — the DISTRIBUTED formulation
    * (range-repartition + per-partition offsets), never the one-task
    * `ntile() OVER (ORDER BY ...)` global window; this query promotes
    * that spec-only operator through the DuckDB gate. The per-bucket
    * stats are tie-invariant (rows equal on the value can land either
    * side of a bucket boundary, but counts are fixed by the ntile rule
    * and min/max/ndv depend only on value ranks), so ntile's arbitrary
    * tie placement cannot drift the result.
    */
  def q216EquiDepthHist(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables(spark, dir).lineitem
      .select(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
        .as("c"), col("l_orderkey"), col("l_linenumber"))
    graft.operators.GlobalRank
      .withNtile(v, "bucket", EQD_BUCKETS,
        col("c"), col("l_orderkey"), col("l_linenumber"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), min("c").as("lo_c"),
        max("c").as("hi_c"), countDistinct("c").as("ndv"))
  }

  val q216Sql: String =
    s"""WITH v AS (
      |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
      |    l_orderkey, l_linenumber
      |  FROM lineitem),
      |t AS (
      |  SELECT c, ntile($EQD_BUCKETS)
      |      OVER (ORDER BY c, l_orderkey, l_linenumber) AS bucket
      |  FROM v)
      |SELECT bucket, count(*) AS n_rows, min(c) AS lo_c, max(c) AS hi_c,
      |  CAST(count(DISTINCT c) AS BIGINT) AS ndv
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  /** q218 concentration threshold: the report answers "how many docs
    * hold >= this fraction of each source's characters" (4/5 = the
    * 80/20 audit).
    */
  val PARETO_NUM = 4L
  val PARETO_DEN = 5L

  /** q218: PARETO CONCENTRATION AUDIT — per source, the minimum number
    * of documents (taken largest-first) that cover 80% of the source's
    * characters, plus that count as a fraction of the source's docs.
    * High concentration means a handful of giant documents dominate
    * the source — dedup/quota decisions (q50/q58) behave very
    * differently there than on a flat source. The naive form sorts
    * every source's docs; the plan instead rolls up to (source,
    * n_chars) — a bounded grid — and finds the crossing with
    * DESCENDING running sums plus one exact ceil-division inside the
    * crossing group: `k = ceil((4·total − 5·cum_before) / (5·v))`.
    * Pure BIGINT throughout; ties inside a size class cannot change
    * the count.
    */
  def q218ParetoConcentration(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_chars").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val roll = Tables(spark, dir).documents
      .groupBy("source", "n_chars")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("chars", col("n_chars") * col("cnt"))
    val tot = roll.groupBy("source")
      .agg(sum("chars").as("total_chars"), sum("cnt").as("n_docs"))
    roll
      .withColumn("cum_before", coalesce(sum("chars").over(w), lit(0L)))
      .withColumn("docs_before", coalesce(sum("cnt").over(w), lit(0L)))
      .join(tot, "source")
      .filter(col("cum_before") * PARETO_DEN < col("total_chars") * PARETO_NUM &&
        (col("cum_before") + col("chars")) * PARETO_DEN >=
          col("total_chars") * PARETO_NUM)
      .withColumn("extra", expr(
        s"(total_chars * $PARETO_NUM - cum_before * $PARETO_DEN + " +
          s"n_chars * $PARETO_DEN - 1) div (n_chars * $PARETO_DEN)"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        (col("docs_before") + col("extra")).as("docs_for_80pct"))
      .withColumn("doc_frac_micro",
        floor(col("docs_for_80pct") * lit(1e6) / col("n_docs") + lit(0.5))
          .cast("long"))
  }

  val q218Sql: String =
    s"""WITH roll AS (
      |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt,
      |    n_chars * count(*) AS chars
      |  FROM documents GROUP BY 1, 2),
      |tot AS (
      |  SELECT source, CAST(sum(chars) AS BIGINT) AS total_chars,
      |    CAST(sum(cnt) AS BIGINT) AS n_docs
      |  FROM roll GROUP BY 1),
      |c AS (
      |  SELECT source, n_chars, cnt, chars,
      |    COALESCE(sum(chars) OVER (PARTITION BY source ORDER BY n_chars DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
      |    COALESCE(sum(cnt) OVER (PARTITION BY source ORDER BY n_chars DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS docs_before
      |  FROM roll)
      |SELECT c.source, t.n_docs, t.total_chars,
      |  CAST(c.docs_before +
      |    (t.total_chars * $PARETO_NUM - c.cum_before * $PARETO_DEN +
      |     c.n_chars * $PARETO_DEN - 1) // (c.n_chars * $PARETO_DEN)
      |    AS BIGINT) AS docs_for_80pct,
      |  CAST(floor((c.docs_before +
      |    (t.total_chars * $PARETO_NUM - c.cum_before * $PARETO_DEN +
      |     c.n_chars * $PARETO_DEN - 1) // (c.n_chars * $PARETO_DEN))
      |    * 1e6 / t.n_docs + 0.5) AS BIGINT) AS doc_frac_micro
      |FROM c JOIN tot t USING (source)
      |WHERE c.cum_before * $PARETO_DEN < t.total_chars * $PARETO_NUM
      |  AND (c.cum_before + c.chars) * $PARETO_DEN >= t.total_chars * $PARETO_NUM
      |ORDER BY source""".stripMargin

  /** q317 accuracy parameter: approx_percentile guarantees rank error
    * ≤ n/ACC (plus ties), the contract the gate checks.
    */
  val APCT_ACC = 1000

  /** q317: BUILT-IN-SKETCH EVAL — Spark's approx_percentile (the
    * Greenwald–Khanna summary built into the engine) judged against
    * the exact percentile, the q251/q260/q310 sketch-gate convention:
    * exact values are the cross-engine contract, the sketch's quality
    * travels as a BOUND FLAG (DuckDB has no GK sketch to replay, and
    * hashing the approximate VALUE would pin an implementation, not a
    * guarantee). The bound is checked in RANK space — a second exact
    * pass joins the per-group approx values back (broadcast,
    * |types|×2 rows) and counts strict/weak ranks, and the flag pins
    * count(v < approx) ≤ (p+ε)·n AND count(v ≤ approx) ≥ (p−ε)·n with
    * ε = 1/ACC — exactly the sketch's published guarantee, tie-proof.
    * Two fact scans total; every rollup is |event_type|-bounded.
    */
  def q317ApproxPercentileEval(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events.select(col("event_type"), col("value"))
    val agg = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.95)).as("p95"),
        expr(s"approx_percentile(value, 0.5, $APCT_ACC)").as("a50"),
        expr(s"approx_percentile(value, 0.95, $APCT_ACC)").as("a95"))
    val ranks = ev.join(broadcast(agg.select(col("event_type"),
        col("a50"), col("a95"))), "event_type")
      .groupBy("event_type")
      .agg(
        sum(when(col("value") < col("a50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("value") <= col("a50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") < col("a95"), 1L).otherwise(0L)).as("lt95"),
        sum(when(col("value") <= col("a95"), 1L).otherwise(0L)).as("le95"))
    // the returned value's true-rank interval [lt+1, le] must
    // intersect the guaranteed window (p ± eps)·n; the +1 slack is the
    // rank of the returned element itself (rank arithmetic is
    // half-open on one side — without it the test is off by one and
    // flips on exact boundaries, observed at sf0.01)
    def inBound(p: Double, lt: org.apache.spark.sql.Column,
        le: org.apache.spark.sql.Column) =
      (lt <= (lit(p) + lit(1.0 / APCT_ACC)) * col("n") + 1) &&
        (le >= (lit(p) - lit(1.0 / APCT_ACC)) * col("n") - 1)
    agg.join(ranks, "event_type")
      .select(col("event_type"), col("n"), col("p50"), col("p95"),
        inBound(0.5, col("lt50"), col("le50")).as("p50_in_bound"),
        inBound(0.95, col("lt95"), col("le95")).as("p95_in_bound"))
  }

  val q317Sql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.95) AS p95,
      |  TRUE AS p50_in_bound, TRUE AS p95_in_bound
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q317_approx_pct_eval" ->
      Gate.sorted(q317ApproxPercentileEval _, "event_type"),
    "q191_hourly_p95" -> Gate.sorted(q191HourlyP95 _, "hour", "event_type"),
    "q192_source_containment" ->
      Gate.sorted(q192SourceContainment _, "src_a", "src_b"),
    "q193_fd_histogram" -> Gate.sorted(q193FdHistogram _, "bin"),
    "q216_equi_depth_hist" -> Gate.sorted(q216EquiDepthHist _, "bucket"),
    "q218_pareto_concentration" ->
      Gate.sorted(q218ParetoConcentration _, "source"))

  val oracles: Map[String, String] = Map(
    "q317_approx_pct_eval" -> q317Sql,
    "q191_hourly_p95" -> q191Sql,
    "q192_source_containment" -> q192Sql,
    "q193_fd_histogram" -> q193Sql,
    "q216_equi_depth_hist" -> q216Sql,
    "q218_pareto_concentration" -> q218Sql)
}
