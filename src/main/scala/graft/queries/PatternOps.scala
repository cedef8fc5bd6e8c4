package graft.queries

import graft.Tables
import graft.operators.{DistributedQuantile, Pins}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 batch 5: sequence-pattern mining, robust outlier detection,
  * and forensic digit auditing — analytics shapes the inventory's
  * Markov/z-score/drift families do not cover.
  */
object PatternOps extends QueryModule {

  /** q175: SEQUENTIAL PATTERN COUNTS — for every ordered type pair
    * (a, b), how many users exhibit "a THEN b" anywhere in their
    * stream (not merely adjacent, which is q162's Markov matrix). The
    * subsequence test reduces to first-occurrence(a) < last-
    * occurrence(b) in (ts, event_id) stream order, so ONE conditional
    * aggregate per user computes all 5x5 first/last cells and a tiny
    * explode counts the pairs — no self-join, no per-pair passes.
    */
  def q175SeqPattern(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val ev = Tables(spark, dir).events
      // order key fits a single long: us * 2^14 + event_id (ids < 16384
      // at bench scale would overflow — use a struct-free exact pack of
      // (us, id) into a decimal-free compare instead: us * 100000 + id
      // is NOT safe; keep two columns and compare lexicographically)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
    val aggs = types.flatMap { t =>
      Seq(
        min(when(col("event_type") === t,
          struct(col("us"), col("event_id")))).as(s"first_$t"),
        max(when(col("event_type") === t,
          struct(col("us"), col("event_id")))).as(s"last_$t"))
    }
    val perUser = ev.groupBy("user_id").agg(aggs.head, aggs.tail: _*)
    val pairCols = for { a <- types; b <- types } yield
      struct(lit(a).as("type_a"), lit(b).as("type_b"),
        when(col(s"first_$a").isNotNull && col(s"last_$b").isNotNull &&
          (col(s"first_$a.us") < col(s"last_$b.us") ||
            (col(s"first_$a.us") === col(s"last_$b.us") &&
              col(s"first_$a.event_id") < col(s"last_$b.event_id"))),
          1L).otherwise(0L).as("hit"))
    perUser
      .select(explode(array(pairCols: _*)).as("p"))
      .groupBy(col("p.type_a").as("type_a"), col("p.type_b").as("type_b"))
      .agg(sum("p.hit").as("n_users"))
  }

  val q175Sql: String =
    """WITH fl AS (
      |  SELECT user_id, event_type,
      |    min(ROW(epoch_us(ts), event_id)) AS fst,
      |    max(ROW(epoch_us(ts), event_id)) AS lst
      |  FROM events GROUP BY 1, 2),
      |types AS (SELECT DISTINCT event_type AS t FROM events),
      |pairs AS (SELECT a.t AS type_a, b.t AS type_b FROM types a, types b),
      |hits AS (
      |  SELECT p.type_a, p.type_b, fa.user_id
      |  FROM pairs p
      |  JOIN fl fa ON fa.event_type = p.type_a
      |  JOIN fl fb ON fb.event_type = p.type_b AND fb.user_id = fa.user_id
      |  WHERE fa.fst < fb.lst)
      |SELECT p.type_a AS type_a, p.type_b AS type_b,
      |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_users
      |FROM pairs p LEFT JOIN (
      |  SELECT type_a, type_b, count(*) AS n FROM hits GROUP BY 1, 2) h
      |  ON h.type_a = p.type_a AND h.type_b = p.type_b
      |ORDER BY 1, 2""".stripMargin

  /** q176: ROBUST OUTLIERS (median/MAD) per event type — the
    * outlier rule that, unlike q99's z-score, a few extreme points
    * cannot corrupt (mean and stddev are unbounded-influence; median
    * and MAD have breakdown point 1/2). Three bounded passes through
    * the bucket-prune quantile operator: median(value), then
    * MAD = median(|value - median|), then one conditional aggregate
    * counting |v - med| > 3 * MAD. Medians are quantile_cont
    * interpolation — bit-identical to DuckDB on the same doubles.
    */
  def q176MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events.select("event_type", "value")
    // med/mad are |types|-row tables consumed by several downstream
    // passes; eagerly pin them (localCheckpoint) or the second quantile
    // pass re-executes the first one's whole multi-scan DAG inside each
    // of ITS scans — measured 18.8 s at sf0.1 without the pins, 2 s with
    val med = DistributedQuantile.quantiles(
      ev, Seq("event_type"), "value", Seq("med" -> 0.5))
      .transform(Pins.pin)
    // round 10: pinning dev was tried and REVERTED — measured flat at
    // sf0.1 (4.3 s isolated both ways: the re-evaluated scan+broadcast
    // join is as cheap as the cache read), and at scale materializing
    // an events-sized frame is exactly the wrong trade; the tiny
    // med/mad pins below are what matters (r09 measurement: 18.8 s ->
    // 2 s without/with them)
    val dev = ev.join(broadcast(med), "event_type")
      .select(col("event_type"), col("value"),
        abs(col("value") - col("med")).as("adev"))
    val mad = DistributedQuantile.quantiles(
      dev, Seq("event_type"), "adev", Seq("mad" -> 0.5))
      .transform(Pins.pin)
    dev.join(broadcast(mad), "event_type")
      .join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        first("med").as("med"), first("mad").as("mad"),
        sum(when(col("adev") > col("mad") * 3, 1L).otherwise(0L))
          .as("n_outliers"))
  }

  val q176Sql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY 1),
      |dev AS (
      |  SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
      |  FROM events e JOIN med m ON m.event_type = e.event_type),
      |mad AS (
      |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type, count(*) AS n,
      |  max(d.med) AS med, max(m.mad) AS mad,
      |  CAST(sum(CASE WHEN d.adev > m.mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM dev d JOIN mad m ON m.event_type = d.event_type
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q177: BENFORD FIRST-DIGIT AUDIT of order totals — the classic
    * fabricated-data screen: observed leading-digit counts vs the
    * Benford expectation n*log10(1+1/d), with the per-digit chi-square
    * term alongside. Counts are exact integers from one aggregate;
    * expectation/term stay DOUBLE (a log10 is libm territory — the
    * driver gate compares doubles with relative tolerance, where a
    * floored integer would be brittle to a 1-ulp cross-engine flip).
    */
  def q177Benford(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables(spark, dir).orders
      .select(substring(col("o_totalprice").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val total = digits.agg(sum("n_obs").as("n"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n_obs"),
        (col("n").cast("double") *
          log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
          .as("expected"))
      .withColumn("chi2_term",
        (col("n_obs").cast("double") - col("expected")) *
          (col("n_obs").cast("double") - col("expected")) / col("expected"))
  }

  val q177Sql: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS INTEGER)
      |    AS digit, count(*) AS n_obs
      |  FROM orders GROUP BY 1),
      |n AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM d)
      |SELECT d.digit, CAST(d.n_obs AS BIGINT) AS n_obs,
      |  CAST(n.n AS DOUBLE) * log10(1.0 + 1.0 / d.digit) AS expected,
      |  (d.n_obs - CAST(n.n AS DOUBLE) * log10(1.0 + 1.0 / d.digit))
      |    * (d.n_obs - CAST(n.n AS DOUBLE) * log10(1.0 + 1.0 / d.digit))
      |    / (CAST(n.n AS DOUBLE) * log10(1.0 + 1.0 / d.digit)) AS chi2_term
      |FROM d CROSS JOIN n ORDER BY digit""".stripMargin

  /** q178: POSITIONAL INVERTED INDEX over documents — the retrieval
    * building block under q114's BM25: per (token, doc) the 1-based
    * token positions, plus per-token document frequency. posexplode
    * keeps the position at tokenization time (no window re-derivation);
    * postings serialize as a comma-joined string so the gate compares a
    * flat schema. One shuffle on token; the posting payload is built
    * with collect_list over the (token, doc) group in position order.
    */
  def q178InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), posexplode(
        filter(split(lower(col("text")), "[^a-z0-9]+"), w => w =!= "")))
      .select(col("doc_id"), col("col").as("token"),
        (col("pos") + 1).as("p"))
    val perDoc = toks.groupBy("token", "doc_id")
      .agg(concat_ws(",", sort_array(collect_list(col("p")))).as("positions"),
        count(lit(1)).as("tf"))
    val dfTab = perDoc.groupBy("token").agg(count(lit(1)).as("df"))
    perDoc.join(dfTab, "token")
      .select("token", "df", "doc_id", "tf", "positions")
  }

  val q178Sql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                x -> x <> '') AS ws
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, ws[i] AS token, i AS p
      |  FROM w, unnest(range(1, len(ws) + 1)) AS t(i)),
      |pd AS (
      |  SELECT token, doc_id,
      |    string_agg(CAST(p AS VARCHAR), ',' ORDER BY p) AS positions,
      |    count(*) AS tf
      |  FROM tok GROUP BY 1, 2),
      |dfx AS (SELECT token, count(*) AS df FROM pd GROUP BY 1)
      |SELECT pd.token AS token, CAST(dfx.df AS BIGINT) AS df, pd.doc_id,
      |  CAST(pd.tf AS BIGINT) AS tf, pd.positions
      |FROM pd JOIN dfx ON dfx.token = pd.token
      |ORDER BY 1, 3""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q175_seq_pattern" -> Gate.sorted(q175SeqPattern _, "type_a", "type_b"),
    "q176_mad_outliers" -> Gate.sorted(q176MadOutliers _, "event_type"),
    "q177_benford" -> Gate.sorted(q177Benford _, "digit"),
    "q178_inverted_index" -> Gate.sorted(q178InvertedIndex _, "token", "doc_id"))

  val oracles: Map[String, String] = Map(
    "q175_seq_pattern" -> q175Sql,
    "q176_mad_outliers" -> q176Sql,
    "q177_benford" -> q177Sql,
    "q178_inverted_index" -> q178Sql)
}
