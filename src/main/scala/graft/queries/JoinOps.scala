package graft.queries

import graft.Tables
import graft.functions.Exact
import graft.operators.{AsOfJoin, RangeJoin}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Temporal/interval join operators (SURVEY.md §2 q44–q45) — the two
  * join shapes Spark's built-ins don't express scalably, re-expressed
  * as library operators (graft.operators.AsOfJoin / RangeJoin) with
  * native-engine oracles: DuckDB's ASOF JOIN and inequality join
  * verify the Spark formulations row-for-row.
  */
object JoinOps extends QueryModule {

  /** q44: as-of enrichment — every event joined to its user's latest
    * hourly value-checkpoint at or before the event (AsOfJoin: one
    * shuffle on user_id, no inequality join). The checkpoint table is
    * unique per (user_id, hour) by construction, which is what makes
    * the as-of match well-defined in both engines.
    */
  def q44AsofEnrich(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val hourly = ev
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(Exact.sumExact(col("value")).as("hour_value"))
    val enriched = AsOfJoin.latestBefore(
      ev.select("event_id", "user_id", "ts"), hourly,
      key = Seq("user_id"), lTime = "ts", rTime = "hour",
      rValues = Seq("hour", "hour_value"))
    enriched.select(
      col("event_id"), col("user_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
      date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("asof_hour"),
      col("hour_value"))
  }

  val q44Sql: String =
    s"""WITH h AS (
      |  SELECT user_id, date_trunc('hour', ts) AS hour,
      |    ${Exact.sumSql("value")} AS hour_value
      |  FROM events GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id,
      |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts,
      |  strftime(h.hour, '%Y-%m-%d %H:%M:%S') AS asof_hour,
      |  h.hour_value
      |FROM events e
      |ASOF LEFT JOIN h ON e.user_id = h.user_id AND e.ts >= h.hour
      |ORDER BY e.user_id, e.event_id""".stripMargin

  /** q45: range join — points (lineitem prices) to the synthetic
    * supplier score intervals containing them, grid-cell equi-ized
    * (RangeJoin: explode intervals to covered cells, hash-join on the
    * cell, exact post-filter — never a nested-loop inequality join),
    * then aggregated per interval. The per-interval rollup is the
    * realistic consumer shape AND keeps the gate dump O(|intervals|)
    * instead of materializing every matched pair.
    *
    * Two scale moves (round-7 verdict item 4 — the sf1 ladder
    * measured the fixed-cell, raw-point shape at 9.3x on 10x data):
    *
    *  1. AGGREGATE PUSHDOWN. The consumer is a per-interval
    *     count/sum, so points collapse to the |distinct price| grid
    *     (count + exact DECIMAL price sum per value) BEFORE the range
    *     join — matched-pair enumeration then costs O(grid x density),
    *     not O(points x density), and replicated corpora (identical
    *     price distributions) pay ~nothing extra. Decimal sums are
    *     associative, so regrouping preserves [[Exact.sumExact]]
    *     bit-for-bit.
    *  2. STATS-DERIVED CELL WIDTH. Candidates cost ~G*Ni*(W+c)/R and
    *     the interval build costs ~Ni*(W/c+1); the sum is minimized at
    *     c* = sqrt(W*R/G). One ANALYZE-style stats pass (count/min/max
    *     of the grid — the numbers a table catalog already has)
    *     replaces the old fixed 250.0 literal, so the cell narrows as
    *     the value grid densifies instead of letting per-cell
    *     populations grow.
    */
  val RANGE_WIDTH = 500.0

  def q45RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // fanOut by the group key: the high-cardinality value-grid
    // partial agg ran on the scan's splits; the groupBy reuses the
    // fan's partitioning (Tables.fanOut, guide §2.5)
    val grid = Tables.fanOut(t.lineitem
        .select("l_extendedprice"), col("l_extendedprice"))
      .groupBy(col("l_extendedprice"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).as("dsum"))
    val st = grid.agg(count(lit(1)).as("g"),
      min("l_extendedprice").as("vlo"), max("l_extendedprice").as("vhi"))
      .collect()(0)
    val range = math.max(st.getDouble(2) - st.getDouble(1), 1e-6)
    val cell = math.max(1e-6,
      math.sqrt(RANGE_WIDTH * range / math.max(st.getLong(0), 1L).toDouble))
    val intervals = t.supplier.select(
      col("s_suppkey"),
      ((col("s_acctbal") + 1000.0) * 5.0).as("lo"),
      ((col("s_acctbal") + 1000.0) * 5.0 + RANGE_WIDTH).as("hi"))
    RangeJoin.pointInInterval(grid, "l_extendedprice",
        intervals, "lo", "hi", cell)
      .groupBy("s_suppkey")
      .agg(
        sum("n").as("n_points"),
        sum("dsum").cast("double").as("sum_price"))
  }

  val q45Sql: String =
    s"""SELECT s_suppkey, count(*) AS n_points,
      | ${Exact.sumSql("l_extendedprice")} AS sum_price
      |FROM lineitem, supplier
      |WHERE l_extendedprice >= (s_acctbal + 1000.0) * 5.0
      |  AND l_extendedprice <= (s_acctbal + 1000.0) * 5.0 + 500.0
      |GROUP BY s_suppkey
      |ORDER BY s_suppkey""".stripMargin

  /** q408 watchlist: sessions of the user_id < this accounts form
    * the BOUNDED probe side — the q100 boundedness contract (a fixed
    * query set regardless of corpus size). A modulus watchlist would
    * grow with the corpus and, since replicated users stay
    * co-temporal, drag the candidate volume quadratic; the fixed set
    * keeps candidates ∝ concurrency — linear in the data.
    */
  val OVERLAP_WATCH_MAX = 150L

  /** q408 session activity window: each gap-based session is padded by
    * the sessionization gap itself (a user is "active" until the gap
    * that would have closed the session), giving intervals with real
    * extent — raw min/max-ts sessions are near-points on sparse data.
    */
  val OVERLAP_PAD_US: Long = SessionOps.GAP_MINUTES * 60L * 1000000L

  /** q408: INTERVAL-OVERLAP JOIN — which sessions run CONCURRENTLY
    * with a watchlist account's sessions. The interval-interval
    * sibling of q45's point-in-interval shape, with two properties
    * that survive 100 TB:
    *
    *  1. Grid-cell equi-ization on BOTH sides — each interval explodes
    *     to its covered cells (cell width = the average interval width
    *     from an ANALYZE-style stats pass, q45's sizing discipline, so
    *     replication stays ~2-3 rows/interval while a cell's
    *     population stays at the true concurrency level) and the join
    *     runs on the cell key. Never a nested-loop inequality join.
    *  2. DEDUP-FREE EMISSION — an overlapping pair shares every cell
    *     in the overlap, so candidates would multiply-match; instead
    *     of a distinct() shuffle, a pair is emitted ONLY in the cell
    *     containing max(lo_a, lo_b) (always inside both intervals when
    *     they overlap) — exactly-once by construction.
    *
    * Sessions are q37's gap-based islands padded by [[OVERLAP_PAD_US]];
    * the rollup reports, per watchlist user: concurrent-session count,
    * distinct concurrent users, and total overlap duration.
    */
  def q408IntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = SessionOps.GAP_MINUTES * 60L * 1000000L
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val cum = byUser.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val sessions = Tables(spark, dir).events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag("us", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sess_idx", sum("new_sess").over(cum))
      .groupBy("user_id", "sess_idx")
      .agg(min("us").as("lo"), (max("us") + OVERLAP_PAD_US).as("hi"))
    val st = sessions.agg(avg(col("hi") - col("lo")).as("w")).collect()(0)
    val cell = math.max(1000000.0, st.getDouble(0))
    def toCells(df: DataFrame, prefix: String) = df.select(
      col("user_id").as(s"${prefix}_user"), col("lo").as(s"${prefix}_lo"),
      col("hi").as(s"${prefix}_hi"),
      explode(sequence(floor(col("lo") / cell).cast("long"),
        floor(col("hi") / cell).cast("long"))).as("__cell"))
    val watch = toCells(
      sessions.filter(col("user_id") < OVERLAP_WATCH_MAX), "a")
    val others = toCells(sessions, "b")
    watch.join(others,
        watch("__cell") === others("__cell") &&
          col("a_user") =!= col("b_user") &&
          greatest(col("a_lo"), col("b_lo")) <=
            least(col("a_hi"), col("b_hi")) &&
          watch("__cell") ===
            floor(greatest(col("a_lo"), col("b_lo")) / cell).cast("long"))
      .groupBy(col("a_user").as("user_id"))
      .agg(count(lit(1)).as("n_overlaps"),
        countDistinct(col("b_user")).as("n_users"),
        sum(least(col("a_hi"), col("b_hi")) -
          greatest(col("a_lo"), col("b_lo"))).as("sum_overlap_us"))
  }

  val q408Sql: String =
    s"""WITH f AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
      |              > ${SessionOps.GAP_MINUTES * 60L * 1000000L}
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id,
      |    -- order by (us, event_id) — the same total order as f's
      |    -- window and the Spark side; us alone is nondeterministic
      |    -- on duplicate timestamps at a session boundary
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx,
      |    us
      |  FROM f),
      |iv AS (
      |  SELECT user_id, min(us) AS lo, max(us) + $OVERLAP_PAD_US AS hi
      |  FROM s GROUP BY user_id, sess_idx)
      |SELECT a.user_id, count(*) AS n_overlaps,
      |  count(DISTINCT b.user_id) AS n_users,
      |  CAST(sum(least(a.hi, b.hi) - greatest(a.lo, b.lo)) AS BIGINT)
      |    AS sum_overlap_us
      |FROM iv a JOIN iv b
      |  ON a.user_id < $OVERLAP_WATCH_MAX
      |  AND a.user_id != b.user_id
      |  AND greatest(a.lo, b.lo) <= least(a.hi, b.hi)
      |GROUP BY a.user_id
      |ORDER BY a.user_id""".stripMargin

  /** q100 bounded query set: stars of orders with key <= this constant
    * — O(K) regardless of corpus size (same boundedness contract as
    * the ANN query sets, VERDICT r1 #2).
    */
  val KNN_MAX_QUERY_ORDERKEY = 200L

  /** q100 neighbor radius in the synthetic position space. */
  val KNN_RADIUS = 1.0

  /** q100: FIXED-RADIUS SPATIAL NEIGHBORS — per query star, the count
    * and mean distance of all stars within KNN_RADIUS in the 3-D
    * position space (the local-density estimate feeding a
    * Casertano-Hut density center; see operators/SpatialNeighbors).
    * Grid-cell equi-join (27x fanout of the bounded query side only),
    * exact Euclidean post-filter — never a nested-loop distance join.
    *
    * Cross-engine determinism: dist is one fixed IEEE op sequence
    * (mul/add/sqrt are all correctly rounded), and the mean comes from
    * an integer sum of floor(dist*1e6 + 0.5) — exact and
    * order-independent — divided back out in two IEEE ops.
    */
  def q100RadiusNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables(spark, dir).lineitem.select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice") / 1000.0).as("x"),
      (col("l_discount") * 100.0).as("y"),
      (col("l_tax") * 100.0).as("z"))
    val queries = pts
      .filter(col("l_orderkey") <= KNN_MAX_QUERY_ORDERKEY)
      .select(col("l_orderkey").as("q_orderkey"),
        col("l_linenumber").as("q_linenumber"),
        col("x").as("qx"), col("y").as("qy"), col("z").as("qz"))
    graft.operators.SpatialNeighbors
      .withinRadius(queries, "qx", "qy", "qz", pts, "x", "y", "z", KNN_RADIUS)
      .filter(!(col("l_orderkey") === col("q_orderkey") &&
        col("l_linenumber") === col("q_linenumber")))
      .groupBy("q_orderkey", "q_linenumber")
      .agg(count(lit(1)).as("n_neighbors"),
        sum(floor(col("dist") * 1e6 + 0.5).cast("long")).as("_sd"))
      .select(col("q_orderkey"), col("q_linenumber"), col("n_neighbors"),
        (col("_sd").cast("double") / 1e6 / col("n_neighbors")).as("mean_dist"))
  }

  val q100Sql: String =
    s"""WITH pts AS (
      |  SELECT l_orderkey, l_linenumber,
      |    l_extendedprice / 1000.0 AS x, l_discount * 100.0 AS y,
      |    l_tax * 100.0 AS z
      |  FROM lineitem),
      |q AS (SELECT * FROM pts WHERE l_orderkey <= $KNN_MAX_QUERY_ORDERKEY),
      |pairs AS (
      |  SELECT q.l_orderkey AS q_orderkey, q.l_linenumber AS q_linenumber,
      |    sqrt((p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)
      |       + (p.z - q.z) * (p.z - q.z)) AS dist
      |  FROM q JOIN pts p
      |    ON NOT (p.l_orderkey = q.l_orderkey
      |            AND p.l_linenumber = q.l_linenumber))
      |SELECT q_orderkey, q_linenumber, count(*) AS n_neighbors,
      |  CAST(sum(CAST(floor(dist * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 1e6 / count(*) AS mean_dist
      |FROM pairs WHERE dist <= $KNN_RADIUS
      |GROUP BY q_orderkey, q_linenumber
      |ORDER BY q_orderkey, q_linenumber""".stripMargin

  /** q116: FUZZY (edit-distance) JOIN — entity-resolution matching of
    * the distinct part-name vocabulary against itself at Levenshtein
    * distance <= 1, via the SymSpell DELETION-NEIGHBORHOOD index: each
    * name expands to its |name|+1 single-deletion variants (plus
    * itself), and two names within distance 1 MUST share a variant
    * (substitution -> delete the differing position from both;
    * insertion/deletion -> delete the inserted char), so the candidate
    * set from the variant equi-join is complete. Candidates are then
    * verified with the exact levenshtein — which both engines define
    * identically (unit-cost edits).
    *
    * Scale shape: O(N * L) index rows and a hash equi-join on short
    * strings — never the O(N^2) cross product a naive fuzzy join pays.
    * The name table here is the distinct dim-side vocabulary (the
    * realistic entity-resolution input); fact rows would join back by
    * exact name afterwards.
    */
  def q116FuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables(spark, dir).part.select(col("p_name").as("name")).distinct()
    val variants = names.select(col("name"), explode(array_append(expr(
        "transform(sequence(1, length(name)), i -> concat(substring(name, 1, i - 1), substring(name, i + 1, length(name))))"),
      col("name"))).as("var"))
    val cand = variants.as("a").join(variants.as("b"),
        col("a.var") === col("b.var") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
    cand.filter(levenshtein(col("name_a"), col("name_b")) <= 1)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"))
  }

  val q116Sql: String =
    """WITH n AS (SELECT DISTINCT p_name AS name FROM part),
      |v AS (
      |  SELECT name, unnest(list_append(
      |    list_transform(generate_series(1, length(name)),
      |      i -> substr(name, 1, i - 1) || substr(name, i + 1, length(name))),
      |    name)) AS var
      |  FROM n),
      |cand AS (
      |  SELECT DISTINCT a.name AS name_a, b.name AS name_b
      |  FROM v a JOIN v b ON a.var = b.var AND a.name < b.name)
      |SELECT name_a, name_b,
      |  CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
      |FROM cand
      |WHERE levenshtein(name_a, name_b) <= 1
      |ORDER BY name_a, name_b""".stripMargin

  /** q120 salt factor — replicates the dim side 8x to split each hot
    * fact key into 8 uniform sub-keys.
    */
  val SALT_FACTOR = 8

  /** q120: SKEW-SALTED JOIN, gated — the lineitem->orders equi-join
    * executed through operators/Skew.saltedJoin (fact side salted into
    * SALT_FACTOR sub-keys via a full-row xxhash64, dim side exploded to
    * match) and aggregated to per-priority revenue. The result is
    * definitionally identical to the plain join — the oracle IS the
    * plain join — only the physical key distribution changes, which is
    * the point: at 100 TB a handful of hot orderkeys would otherwise
    * pin single shuffle tasks. The dim side carries a merge hint so the
    * salted exchange actually executes (a broadcast would bypass it at
    * test scale and defeat what the gate exercises).
    */
  def q120SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val big = t.lineitem.select(col("l_orderkey").as("okey"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val small = t.orders.select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    graft.operators.Skew.saltedJoin(big, small.hint("merge"), "okey", SALT_FACTOR)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), Exact.sumExact(col("rev")).as("revenue"))
  }

  val q120Sql: String =
    s"""SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  ${Exact.sumSql("l_extendedprice * (1 - l_discount)")} AS revenue
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q127 build-side selector: suppliers of one nation — the selective
    * dimension predicate whose semi-join the bloom filter accelerates.
    */
  val BLOOM_NATION = 3

  /** q127: BLOOM-PRUNED SEMI JOIN, gated — the q87-class star-join
    * pattern with the fact-side reduction moved INTO the scan stage:
    * a bloom filter built from the selective dimension's keys
    * (operators/BloomPrune — driver-aggregated sketch, codegen'd
    * might_contain predicate, a Filter not a join) drops ~95% of the
    * fact table before any exchange, and the exact broadcast semi-join
    * then eliminates the sketch's false positives. The result is
    * definitionally the plain semi-join — the oracle IS the plain
    * semi-join — the bloom changes WHERE rows die, which at 100 TB is
    * the difference between shuffling the whole fact table and
    * shuffling a few percent of it.
    */
  def q127BloomSemi(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val dim = t.supplier.filter(col("s_nationkey") === BLOOM_NATION)
      .select(col("s_suppkey"))
    val pruned = graft.operators.BloomPrune.prune(
      t.lineitem, col("l_suppkey"), dim, col("s_suppkey"),
      expectedItems = 1024)
    pruned
      .join(broadcast(dim.withColumnRenamed("s_suppkey", "l_suppkey")),
        Seq("l_suppkey"), "left_semi")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_items"),
        Exact.sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
  }

  val q127Sql: String =
    s"""SELECT l_suppkey,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  ${Exact.sumSql("l_extendedprice * (1 - l_discount)")} AS revenue
      |FROM lineitem
      |WHERE l_suppkey IN (
      |  SELECT s_suppkey FROM supplier WHERE s_nationkey = $BLOOM_NATION)
      |GROUP BY l_suppkey
      |ORDER BY l_suppkey""".stripMargin

  /** q151: POINT-IN-TIME (PIT) FEATURE LOOKUP — enrich every event
    * with the SCD2 attribute version that was valid AT the event's
    * timestamp: the feature-store join that makes training data
    * leak-free (joining today's attribute onto last month's events is
    * the classic label-leakage bug; q151 is the correct-by-construction
    * alternative). The version table is q110's history; the temporal
    * predicate valid_from <= ts < valid_to is NOT executed as an
    * inequality join (O(events x versions) pairs) but as the as-of
    * union + forward-fill (operators/AsOfJoin): one user_id shuffle
    * over events + versions merged into a single ordered timeline.
    * Versions tile each user's time, so "latest version at-or-before
    * ts" IS the valid one; empty intervals (two changes in the same
    * microsecond) are dropped on both sides, keeping the as-of match
    * well-defined and identical to the interval-join oracle.
    */
  def q151PitEnrich(spark: SparkSession, dir: String): DataFrame = {
    val hist = graft.queries.EventAnalytics.q110Scd2History(spark, dir)
      .filter(col("valid_from_us") < col("valid_to_us"))
      .select(col("user_id"), col("valid_from_us"), col("attr"))
    val ev = Tables(spark, dir).events
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
    AsOfJoin.latestBefore(
      ev, hist,
      key = Seq("user_id"), lTime = "ts_us", rTime = "valid_from_us",
      rValues = Seq("attr", "valid_from_us"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("attr").as("attr_at_event"),
        col("valid_from_us").as("version_from_us"))
  }

  val q151Sql: String =
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
      |hist AS (
      |  SELECT user_id, attr, us AS valid_from_us,
      |    coalesce(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id),
      |             253402300799000000) AS valid_to_us
      |  FROM ch),
      |h AS (SELECT * FROM hist WHERE valid_from_us < valid_to_us)
      |SELECT e2.event_id, e2.user_id, CAST(epoch_us(e2.ts) AS BIGINT) AS ts_us,
      |  h.attr AS attr_at_event, h.valid_from_us AS version_from_us
      |FROM events e2
      |JOIN h ON h.user_id = e2.user_id
      |  AND epoch_us(e2.ts) >= h.valid_from_us
      |  AND epoch_us(e2.ts) < h.valid_to_us
      |ORDER BY event_id""".stripMargin

  /** q189: FORWARD AS-OF — every event joined to its user's EARLIEST
    * hourly checkpoint at or after the event (AsOfJoin.earliestAfter:
    * the "next publish" lookup — e.g. the label-window boundary a
    * training pipeline attaches to each example). Same one-shuffle
    * union+window shape as q44, frame reversed; the oracle is the
    * literal correlated min() subquery.
    */
  def q189AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val hourly = ev
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(Exact.sumExact(col("value")).as("hour_value"))
    AsOfJoin.earliestAfter(
      ev.select("event_id", "user_id", "ts"), hourly,
      key = Seq("user_id"), lTime = "ts", rTime = "hour",
      rValues = Seq("hour", "hour_value"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("next_hour"),
        col("hour_value"))
  }

  val q189Sql: String =
    s"""WITH hourly AS (
      |  SELECT user_id, date_trunc('hour', ts) AS hour,
      |    ${Exact.sumSql("value")} AS hour_value
      |  FROM events GROUP BY 1, 2),
      |nxt AS (
      |  SELECT e.event_id, e.user_id, e.ts,
      |    (SELECT min(h.hour) FROM hourly h
      |     WHERE h.user_id = e.user_id AND h.hour >= e.ts) AS next_hour
      |  FROM events e)
      |SELECT n.event_id, n.user_id,
      |  strftime(n.ts, '%Y-%m-%d %H:%M:%S') AS ts,
      |  strftime(n.next_hour, '%Y-%m-%d %H:%M:%S') AS next_hour,
      |  h.hour_value
      |FROM nxt n
      |LEFT JOIN hourly h
      |  ON h.user_id = n.user_id AND h.hour = n.next_hour
      |ORDER BY n.event_id""".stripMargin

  /** q217: NEAREST AS-OF — every event matched to its user's CLOSEST
    * hourly checkpoint by absolute time distance (ties to the earlier
    * one), the sensor-fusion variant completing the as-of family:
    * backward q44, forward q189, nearest here (AsOfJoin.nearest). The
    * operator composes the two one-shuffle window primitives on the
    * same user_id exchange — still no inequality join anywhere. The
    * oracle is the literal argmin-by-distance correlated subquery.
    */
  def q217AsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val hourly = ev
      .groupBy(col("user_id"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(Exact.sumExact(col("value")).as("hour_value"))
    graft.operators.AsOfJoin.nearest(
      ev.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us")),
      hourly,
      key = Seq("user_id"), lTime = "ts_us", rTime = "hour_us",
      rValues = Seq("hour_value"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("__near_hour_us").as("near_hour_us"), col("hour_value"),
        col("__dir").as("dir"), col("__dist").as("dist_us"))
  }

  val q217Sql: String =
    s"""WITH hourly AS (
      |  SELECT user_id, epoch_us(date_trunc('hour', ts)) AS hour_us,
      |    ${Exact.sumSql("value")} AS hour_value
      |  FROM events GROUP BY 1, 2),
      |pick AS (
      |  SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
      |    (SELECT h.hour_us FROM hourly h
      |     WHERE h.user_id = e.user_id
      |     ORDER BY abs(h.hour_us - epoch_us(e.ts)), h.hour_us
      |     LIMIT 1) AS near_hour_us
      |  FROM events e)
      |SELECT p.event_id, p.user_id, p.ts_us, p.near_hour_us, h.hour_value,
      |  CAST(CASE WHEN p.near_hour_us = p.ts_us THEN 0
      |            WHEN p.near_hour_us < p.ts_us THEN -1 ELSE 1 END
      |    AS INTEGER) AS dir,
      |  abs(p.near_hour_us - p.ts_us) AS dist_us
      |FROM pick p
      |JOIN hourly h ON h.user_id = p.user_id AND h.hour_us = p.near_hour_us
      |ORDER BY p.event_id""".stripMargin

  /** q324: BLOOM-FILTER QUALITY EVAL — the sketch-gate (q76/q220/q251
    * convention) for q127's pruning filter: over the DISTINCT probe
    * key population, measure (a) ZERO false negatives — the filter's
    * hard correctness contract (a false negative silently drops join
    * rows), and (b) the false-positive rate against the configured
    * fpp with 3× headroom + 1-key slack (fpp is an expectation, not a
    * bound, at small populations). Exact counts are the cross-engine
    * contract; DuckDB has no compatible bloom to replay, so the two
    * quality verdicts travel as flags (TRUE in the oracle). One
    * distinct-key rollup; the filter itself is built from the
    * broadcast-scale dimension exactly as q127 builds it.
    */
  def q324BloomFpr(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val dim = t.supplier.filter(col("s_nationkey") === BLOOM_NATION)
      .select(col("s_suppkey"))
    val fpp = 0.01
    val bytes = graft.operators.BloomPrune.buildFilter(
      dim, col("s_suppkey"), expectedItems = 1024, fpp = fpp)
    val probe = t.lineitem.select(col("l_suppkey")).distinct()
      .join(broadcast(dim.withColumnRenamed("s_suppkey", "l_suppkey")
        .withColumn("t", lit(true))), Seq("l_suppkey"), "left")
      .select(col("l_suppkey"), coalesce(col("t"), lit(false)).as("is_true"),
        graft.operators.BloomPrune.mightContain(bytes, col("l_suppkey"))
          .as("pass"))
    probe.agg(
        count(lit(1)).as("n_probe"),
        sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true"),
        sum(when(col("is_true") && !col("pass"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("is_true") && col("pass"), 1L).otherwise(0L)).as("fp"))
      .select(col("n_probe"), col("n_true"),
        (col("fn") === 0L).as("no_false_negatives"),
        (col("fp") <= (col("n_probe") - col("n_true")) * (3 * fpp) + 1)
          .as("fpr_in_bound"))
  }

  val q324Sql: String =
    s"""WITH probe AS (SELECT DISTINCT l_suppkey FROM lineitem)
      |SELECT CAST(count(*) AS BIGINT) AS n_probe,
      |  CAST(sum(CASE WHEN l_suppkey IN (
      |    SELECT s_suppkey FROM supplier WHERE s_nationkey = $BLOOM_NATION)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
      |  TRUE AS no_false_negatives, TRUE AS fpr_in_bound
      |FROM probe""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q324_bloom_fpr" -> Gate.sorted(q324BloomFpr _, "n_probe"),
    "q217_asof_nearest" -> Gate.sorted(q217AsofNearest _, "event_id"),
    "q189_asof_forward" -> Gate.sorted(q189AsofForward _, "event_id"),
    "q151_pit_enrich" -> Gate.sorted(q151PitEnrich _, "event_id"),
    "q127_bloom_semi" -> Gate.sorted(q127BloomSemi _, "l_suppkey"),
    "q44_asof_enrich" -> Gate.sorted(q44AsofEnrich _, "user_id", "event_id"),
    "q45_range_join" -> Gate.sorted(q45RangeJoin _, "s_suppkey"),
    "q408_interval_overlap" ->
      Gate.sorted(q408IntervalOverlap _, "user_id"),
    "q100_radius_neighbors" ->
      Gate.sorted(q100RadiusNeighbors _, "q_orderkey", "q_linenumber"),
    "q116_fuzzy_join" -> Gate.sorted(q116FuzzyJoin _, "name_a", "name_b"),
    "q120_salted_join" -> Gate.sorted(q120SaltedJoin _, "o_orderpriority"))

  val oracles: Map[String, String] = Map(
    "q324_bloom_fpr" -> q324Sql,
    "q217_asof_nearest" -> q217Sql,
    "q189_asof_forward" -> q189Sql,
    "q151_pit_enrich" -> q151Sql,
    "q127_bloom_semi" -> q127Sql,
    "q44_asof_enrich" -> q44Sql,
    "q45_range_join" -> q45Sql,
    "q408_interval_overlap" -> q408Sql,
    "q100_radius_neighbors" -> q100Sql,
    "q116_fuzzy_join" -> q116Sql,
    "q120_salted_join" -> q120Sql)
}
