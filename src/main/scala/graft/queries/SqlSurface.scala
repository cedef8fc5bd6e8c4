package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 SQL-surface completeness: the grouping/set/spine operators a
  * warehouse user expects beyond q10's ROLLUP and q78's CUBE —
  * explicit GROUPING SETS with grouping_id, multiset INTERSECT/EXCEPT
  * ALL, and the calendar-spine gap-fill every time-series report needs
  * before charting (missing buckets must exist as zeros, not be
  * silently absent).
  */
object SqlSurface extends QueryModule {

  /** q288: CORRELATED SCALAR SUBQUERIES — the SQL surface every ORM
    * and hand-written report leans on: per-order scalar lookups
    * `(SELECT count(*) ...)`, `(SELECT max(...) ...)`, and a
    * correlated EXISTS-derived flag, written EXACTLY as subqueries and
    * handed to Catalyst. The point under test is the planner's
    * DECORRELATION: RewriteCorrelatedScalarSubquery turns each scalar
    * subquery into an aggregate + left outer join on o_orderkey (one
    * co-partitioned exchange, shared by AQE reuse), not a per-row
    * re-execution — the difference between O(n) and O(n²) at 100 TB.
    * COUNT's null-to-zero corner (an order with no lineitems must
    * report 0, not NULL) and the MAX sentinel are pinned explicitly
    * because the count-bug class is exactly what decorrelation
    * rewrites historically got wrong.
    */
  def q288CorrelatedScalar(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders.createOrReplaceTempView("q288_orders")
    t.lineitem.createOrReplaceTempView("q288_lineitem")
    try spark.sql(s"""
      SELECT o_orderkey,
        (SELECT count(*) FROM q288_lineitem l
          WHERE l.l_orderkey = o.o_orderkey) AS n_lines,
        coalesce((SELECT CAST(floor(max(l_extendedprice) * 100 + 0.5) AS BIGINT)
          FROM q288_lineitem l
          WHERE l.l_orderkey = o.o_orderkey), -1) AS max_price_c,
        EXISTS (SELECT 1 FROM q288_lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_returnflag = 'R') AS has_return
      FROM q288_orders o
      WHERE o.o_totalprice > 150000.0""")
    // the frame is analyzed already: its plan holds the tables, not the views
    finally Seq("q288_orders", "q288_lineitem").foreach(spark.catalog.dropTempView)
  }

  val q288Sql: String =
    """SELECT o_orderkey,
      |  (SELECT count(*) FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey) AS n_lines,
      |  coalesce((SELECT CAST(floor(max(l_extendedprice) * 100 + 0.5) AS BIGINT)
      |    FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey), -1) AS max_price_c,
      |  EXISTS (SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_returnflag = 'R') AS has_return
      |FROM orders o
      |WHERE o.o_totalprice > 150000.0
      |ORDER BY o_orderkey""".stripMargin

  /** q171: explicit GROUPING SETS — (flag, status), (flag), () in one
    * pass with grouping_id() distinguishing the grains (both engines
    * use the same bitmask convention: bit set = column rolled away).
    * One shuffle; Catalyst expands the sets into a single Expand +
    * partial aggregate, not three scans.
    */
  def q171GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long"))
          .as("qty_c"))
      .select("l_returnflag", "l_linestatus", "gid", "n", "qty_c")

  val q171Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS n,
      |  CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |    AS qty_c
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |                        (l_returnflag), ())
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  /** q172: MULTISET SET OPERATIONS — INTERSECT ALL and EXCEPT ALL over
    * two derived key multisets (customers of urgent orders vs
    * customers of high-value orders), tagged and unioned. These are
    * the duplicate-preserving forms (bag semantics) that DISTINCT-based
    * semi/anti joins cannot express; Spark plans them as a single
    * shuffle on the key with per-side counts, no join explosion.
    */
  def q172SetOps(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val urgent = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey"))
    val highValue = t.orders.filter(col("o_totalprice") > 200000.0)
      .select(col("o_custkey").as("custkey"))
    val inter = urgent.intersectAll(highValue)
      .groupBy("custkey").agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect_all"))
    val except = urgent.exceptAll(highValue)
      .groupBy("custkey").agg(count(lit(1)).as("n"))
      .withColumn("op", lit("except_all"))
    inter.unionByName(except).select("op", "custkey", "n")
  }

  val q172Sql: String =
    """WITH urgent AS (
      |  SELECT o_custkey AS custkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT'),
      |hv AS (
      |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000.0),
      |i AS (SELECT custkey FROM urgent INTERSECT ALL SELECT custkey FROM hv),
      |x AS (SELECT custkey FROM urgent EXCEPT ALL SELECT custkey FROM hv)
      |SELECT 'intersect_all' AS op, custkey, count(*) AS n
      |FROM i GROUP BY 2
      |UNION ALL
      |SELECT 'except_all' AS op, custkey, count(*) AS n
      |FROM x GROUP BY 2
      |ORDER BY op, custkey""".stripMargin

  /** q173: CALENDAR-SPINE GAP-FILL — daily event counts per type with
    * missing days materialized as ZEROS over the global [min, max] day
    * range. The spine is sequence()+explode on the 1-row bounds
    * aggregate crossed with the distinct type domain (both tiny, both
    * broadcast); the fact table contributes one map-side-combined
    * count. No row of the big table is scanned twice, and the spine
    * cost is |days| x |types| regardless of fact volume.
    */
  def q173GapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val daily = ev.groupBy(col("event_type"),
        date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val spine = ev.agg(
        date_trunc("DAY", min(col("ts"))).as("d0"),
        date_trunc("DAY", max(col("ts"))).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("INTERVAL 1 DAY"))).as("day"))
    val types = ev.select("event_type").distinct()
    broadcast(spine).crossJoin(broadcast(types))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  val q173Sql: String =
    """WITH b AS (
      |  SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
      |  FROM events),
      |spine AS (
      |  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM b),
      |types AS (SELECT DISTINCT event_type FROM events),
      |daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT t.event_type AS event_type, strftime(s.day, '%Y-%m-%d') AS day,
      |  COALESCE(d.n, 0) AS n
      |FROM spine s CROSS JOIN types t
      |LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
      |ORDER BY 1, 2""".stripMargin

  /** q233: CALENDAR-AWARE TRAILING WINDOW — trailing 7-day order count
    * and revenue per day via a RANGE frame on the integer day key
    * (`RANGE BETWEEN 6 PRECEDING AND CURRENT ROW`): where a ROWS frame
    * would silently stretch across gaps in the date spine, the VALUE-
    * bounded frame keeps the window a true calendar week — the frame
    * semantics none of the other window queries exercise. The window
    * runs on the day-grain rollup (one map-side-combined aggregate; a
    * metadata-sized ~2.5k-row frame even at 100 TB), never on raw
    * facts.
    */
  def q233TrailingWindow(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(expr("unix_micros(o_orderdate) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("rev_c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
      .rangeBetween(-6, 0)
    daily.select(col("day"), col("n_orders"), col("rev_c"),
      sum("n_orders").over(w).as("n_7d"),
      sum("rev_c").over(w).as("rev_7d_c"))
  }

  val q233Sql: String =
    """WITH daily AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
      |    count(*) AS n_orders,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS rev_c
      |  FROM orders GROUP BY 1)
      |SELECT day, n_orders, rev_c,
      |  CAST(sum(n_orders) OVER w AS BIGINT) AS n_7d,
      |  CAST(sum(rev_c) OVER w AS BIGINT) AS rev_7d_c
      |FROM daily
      |WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY day""".stripMargin

  /** q234: ORDERED STRING AGGREGATION — per order priority, the top-5
    * orders by value as an ORDERED id list (string_agg with an ORDER
    * BY — the report-building SQL feature no other query exercises):
    * Spark expresses it as a per-group top-k window followed by
    * concat_ws over the sorted collected structs, which is the
    * deterministic distributed equivalent of DuckDB's ordered
    * string_agg. Revenue ranks are exact cents; ties break by
    * orderkey, so the concatenated string is byte-identical.
    */
  def q234OrderedAgg(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("price_c").desc, col("o_orderkey"))
    Tables(spark, dir).orders
      .select(col("o_orderpriority"), col("o_orderkey"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
          .as("price_c"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_top"),
        sum("price_c").as("top_rev_c"),
        concat_ws(",",
          transform(
            sort_array(collect_list(struct(col("rk"), col("o_orderkey")))),
            s => s.getField("o_orderkey").cast("string"))).as("top_keys"))
  }

  val q234Sql: String =
    """WITH r AS (
      |  SELECT o_orderpriority, o_orderkey,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
      |        o_orderkey) AS rk
      |  FROM orders)
      |SELECT o_orderpriority, count(*) AS n_top,
      |  CAST(sum(price_c) AS BIGINT) AS top_rev_c,
      |  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY rk) AS top_keys
      |FROM r WHERE rk <= 5
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q265: RANKING-WINDOW SURFACE PARITY — rank / dense_rank /
    * percent_rank / cume_dist / ntile / lag / lead in ONE window over
    * each priority class, top-5 per class gated. The order key is
    * (totalprice DESC, orderkey), so peer groups are singletons and
    * the ratio functions reduce to exact single divisions —
    * bit-identical across engines. One shuffle on the partition key;
    * the rank filter is the classic top-k-per-group shape.
    */
  def q265WindowRankSurface(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(spark, dir).orders
      .select(col("o_orderpriority"), col("o_orderkey"),
        rank().over(w).cast("long").as("rk"),
        dense_rank().over(w).cast("long").as("drk"),
        percent_rank().over(w).as("prk"),
        cume_dist().over(w).as("cd"),
        ntile(4).over(w).cast("long").as("tile"),
        // sentinel instead of NULL: a nullable BIGINT turns into
        // float64 in the driver's pandas fetch and flips the hash
        coalesce(lag("o_orderkey", 1).over(w), lit(-1L)).as("prev_key"),
        coalesce(lead("o_orderkey", 1).over(w), lit(-1L)).as("next_key"))
      .filter(col("rk") <= 5)
  }

  /** q388: WINDOW VALUE-EXTRACTOR SURFACE — the frame-sensitive
    * window builtins q265's rank surface leaves out: nth_value over an
    * explicit growing frame, first_value/last_value with IGNORE NULLS
    * (over a null-bearing derived column), and the distribution
    * functions on the same bounded per-type day series. The window
    * input is the |types×days| rollup — never fact rows — and NULL
    * BIGINTs are sentineled to −1 (the q265 pandas-hash rule). The
    * surface trap this gates: both engines must agree that
    * (a) nth_value in a UNBOUNDED-PRECEDING..CURRENT frame yields NULL
    * until the frame holds n rows, and (b) IGNORE NULLS last_value
    * over the FULL frame finds the last non-null regardless of
    * position.
    */
  def q388WindowExtrema(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(spark, dir).events
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
        .as("rev"))
      .withColumn("rev_or_null",
        when(col("day") % 3 === 0, lit(null).cast("long"))
          .otherwise(col("rev")))
    val wGrow = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFull = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    daily.select(col("event_type"), col("day"), col("rev"),
      coalesce(nth_value(col("rev"), 3).over(wGrow), lit(-1L))
        .as("nv3"),
      coalesce(first(col("rev_or_null"), ignoreNulls = true).over(wGrow),
        lit(-1L)).as("first_nn"),
      coalesce(last(col("rev_or_null"), ignoreNulls = true).over(wFull),
        lit(-1L)).as("last_nn"),
      percent_rank().over(wOrd).as("prk"),
      cume_dist().over(wOrd).as("cd"))
  }

  val q388Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM events GROUP BY 1, 2),
      |d2 AS (
      |  SELECT *, CASE WHEN day % 3 = 0 THEN NULL ELSE rev END
      |    AS rev_or_null
      |  FROM daily)
      |SELECT event_type, day, rev,
      |  COALESCE(nth_value(rev, 3) OVER wg, -1) AS nv3,
      |  COALESCE(first_value(rev_or_null IGNORE NULLS) OVER wg, -1)
      |    AS first_nn,
      |  COALESCE(last_value(rev_or_null IGNORE NULLS) OVER wf, -1)
      |    AS last_nn,
      |  percent_rank() OVER wo AS prk,
      |  cume_dist() OVER wo AS cd
      |FROM d2
      |WINDOW
      |  wg AS (PARTITION BY event_type ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  wf AS (PARTITION BY event_type ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
      |  wo AS (PARTITION BY event_type ORDER BY day)
      |ORDER BY event_type, day""".stripMargin

  val q265Sql: String =
    """SELECT * FROM (
      |  SELECT o_orderpriority, o_orderkey,
      |    CAST(rank() OVER w AS BIGINT) AS rk,
      |    CAST(dense_rank() OVER w AS BIGINT) AS drk,
      |    percent_rank() OVER w AS prk,
      |    cume_dist() OVER w AS cd,
      |    CAST(ntile(4) OVER w AS BIGINT) AS tile,
      |    COALESCE(lag(o_orderkey) OVER w, -1) AS prev_key,
      |    COALESCE(lead(o_orderkey) OVER w, -1) AS next_key
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority
      |               ORDER BY o_totalprice DESC, o_orderkey))
      |WHERE rk <= 5 ORDER BY o_orderpriority, rk""".stripMargin

  /** q266: HIGHER-ORDER-FUNCTION SURFACE PARITY — the array/lambda
    * toolkit (split, size, array_distinct, filter-lambda,
    * transform-lambda, array_max, array_sort, slice, array_join) over
    * each document's tokens, gated against DuckDB's list_* twins.
    * Everything runs IN THE SCAN STAGE — no shuffle, no UDF, all
    * codegen'd HOF expressions; this is the surface a corpus pipeline
    * leans on before anything aggregates.
    */
  /** q305: MAP-FUNCTION SURFACE PARITY — the MapType toolkit
    * (map_from_entries / map_keys / element_at / transform_values /
    * map_filter / map_concat / map explode) exercised end-to-end and
    * gated RELATIONALLY: the map is built from a sorted entry list,
    * transformed, filtered on keys, concatenated with a literal
    * sentinel entry, and exploded back to rows — so DuckDB replays the
    * same semantics with plain grouping and needs no map-type parity
    * of its own. element_at's null-on-missing is pinned via a coalesce
    * sentinel (and keeps the gate's dtype integer-kind on both
    * engines).
    *
    * Scale shape: maps live per GROUP (bounded by |types|×7 entries),
    * built after the map-side-combined count rollup — the fact table
    * never carries a map column.
    */
  def q305MapSurface(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables(spark, dir).events
      .groupBy(col("event_type"),
        expr("(unix_micros(ts) div 86400000000) % 7").as("wd"))
      .agg(count(lit(1)).as("c"))
    val maps = cells.groupBy("event_type")
      .agg(map_from_entries(array_sort(collect_list(struct(col("wd"), col("c")))))
        .as("m"))
    maps.select(col("event_type"),
        size(map_keys(col("m"))).cast("long").as("n_keys"),
        coalesce(expr("element_at(m, 3L)"), lit(-1L)).as("d3"),
        expr("map_concat(" +
          "map_filter(transform_values(m, (k, v) -> v * 2L)," +
          "           (k, v) -> k % 2 = 0)," +
          "map(99L, -1L))").as("m2"))
      .select(col("event_type"), col("n_keys"), col("d3"),
        explode(col("m2")).as(Seq("wd", "v2")))
  }

  val q305Sql: String =
    """WITH cells AS (
      |  SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS wd,
      |    count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |keys AS (
      |  SELECT event_type, count(*) AS n_keys,
      |    coalesce(max(CASE WHEN wd = 3 THEN c END), -1) AS d3
      |  FROM cells GROUP BY 1)
      |SELECT c.event_type, k.n_keys, k.d3, c.wd, c.c * 2 AS v2
      |FROM cells c JOIN keys k USING (event_type)
      |WHERE c.wd % 2 = 0
      |UNION ALL
      |SELECT k.event_type, k.n_keys, k.d3, CAST(99 AS BIGINT) AS wd,
      |  CAST(-1 AS BIGINT) AS v2
      |FROM keys k
      |ORDER BY 1, 4""".stripMargin

  /** q312: CALENDAR ARITHMETIC PARITY — the month/week arithmetic
    * q267's field extractors don't cover, each a classic cross-engine
    * trap pinned to an engine-neutral contract: add_months
    * END-OF-MONTH CLAMPING (Jan 31 + 1 month = Feb 28/29 in BOTH
    * Spark add_months and DuckDB + INTERVAL — gated over 13-month
    * spans so leap/short months are crossed), Monday-start
    * date_trunc('week'), quarter starts, ISO week numbers, days-in-
    * month via last_day, and signed day differences. Dates travel as
    * formatted strings so neither engine's date/timestamp physical
    * type leaks into the hash. Scan-stage expressions only.
    */
  def q312CalendarArith(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .filter(col("o_orderkey") % 41 === 0)
      .select(col("o_orderkey"),
        date_format(expr("add_months(o_orderdate, 1)"), "yyyy-MM-dd")
          .as("plus_1m"),
        date_format(expr("add_months(o_orderdate, 13)"), "yyyy-MM-dd")
          .as("plus_13m"),
        date_format(date_trunc("week", col("o_orderdate")), "yyyy-MM-dd")
          .as("week_start"),
        date_format(date_trunc("quarter", col("o_orderdate")), "yyyy-MM-dd")
          .as("quarter_start"),
        weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
        dayofmonth(last_day(col("o_orderdate"))).cast("long")
          .as("days_in_month"),
        datediff(to_date(lit("2000-01-01")), to_date(col("o_orderdate")))
          .cast("long").as("days_to_y2k"))

  val q312Sql: String =
    """SELECT o_orderkey,
      |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH, '%Y-%m-%d')
      |    AS plus_1m,
      |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 13 MONTH, '%Y-%m-%d')
      |    AS plus_13m,
      |  strftime(date_trunc('week', CAST(o_orderdate AS DATE)), '%Y-%m-%d')
      |    AS week_start,
      |  strftime(date_trunc('quarter', CAST(o_orderdate AS DATE)),
      |           '%Y-%m-%d') AS quarter_start,
      |  CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week,
      |  CAST(day(last_day(CAST(o_orderdate AS DATE))) AS BIGINT)
      |    AS days_in_month,
      |  CAST(DATE '2000-01-01' - CAST(o_orderdate AS DATE) AS BIGINT)
      |    AS days_to_y2k
      |FROM orders WHERE o_orderkey % 41 = 0
      |ORDER BY o_orderkey""".stripMargin

  def q266HofSurface(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        size(expr("filter(toks, x -> length(x) >= 6)")).cast("long")
          .as("n_long"),
        expr("array_max(transform(toks, x -> length(x)))").cast("long")
          .as("max_len"),
        expr("array_join(slice(array_sort(toks), 1, 5), ',')")
          .as("first5"))

  val q266Sql: String =
    """SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS n_toks,
      |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
      |  CAST(len(list_filter(toks, x -> length(x) >= 6)) AS BIGINT)
      |    AS n_long,
      |  CAST(list_max(list_transform(toks, x -> length(x))) AS BIGINT)
      |    AS max_len,
      |  array_to_string(list_slice(list_sort(toks), 1, 5), ',') AS first5
      |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** q315: ARRAY SET-ALGEBRA SURFACE PARITY — array_intersect /
    * array_except / array_union / arrays_overlap / array_min /
    * array_position over per-customer part SETS from two halves of
    * 1997 (H1 vs H2 baskets — the "what changed in the basket"
    * shape). The gate pins engine-neutral SET-ALGEBRA IDENTITIES
    * rather than element order (array_intersect's output order is
    * implementation-defined in both engines): |A∩B| and |A\B| and
    * |A∪B| must satisfy inclusion-exclusion against |A|,|B| — DuckDB
    * computes the identity side (n_a − n_inter, n_a + n_b − n_inter)
    * while Spark evaluates the actual functions, so a Spark function
    * that deviated from set semantics (duplicates, dropped elements)
    * would break the hash. first_common / its position are made
    * order-free by pinning min-of-intersection and position-in-sorted.
    *
    * Scale shape: ONE groupBy on custkey builds both halves' sets via
    * conditional collect_set (no self-join, no second scan); set sizes
    * are bounded by per-customer basket breadth, never corpus-wide.
    */
  def q315ArraySurface(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val li = t.lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(t.orders.filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
          .select(col("o_orderkey"), col("o_custkey"),
            (month(col("o_orderdate")) <= 6).as("h1")),
        col("l_orderkey") === col("o_orderkey"))
    li.groupBy(col("o_custkey").as("c_custkey"))
      .agg(
        array_sort(collect_set(when(col("h1"), col("l_partkey")))).as("a"),
        array_sort(collect_set(when(!col("h1"), col("l_partkey")))).as("b"))
      .filter(size(col("a")) > 0 && size(col("b")) > 0)
      .withColumn("fc", array_min(array_intersect(col("a"), col("b"))))
      .select(col("c_custkey"),
        size(col("a")).cast("long").as("n_a"),
        size(col("b")).cast("long").as("n_b"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("n_inter"),
        size(array_except(col("a"), col("b"))).cast("long").as("n_except"),
        size(array_union(col("a"), col("b"))).cast("long").as("n_union"),
        arrays_overlap(col("a"), col("b")).as("overlap"),
        coalesce(col("fc"), lit(-1L)).as("first_common"),
        coalesce(expr("array_position(a, fc)"), lit(0L)).cast("long")
          .as("pos_first"))
  }

  val q315Sql: String =
    """WITH sets AS (
      |  SELECT o_custkey AS c_custkey,
      |    list_sort(list(DISTINCT l_partkey)
      |      FILTER (WHERE month(o_orderdate) <= 6)) AS a,
      |    list_sort(list(DISTINCT l_partkey)
      |      FILTER (WHERE month(o_orderdate) > 6)) AS b
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderdate >= DATE '1997-01-01'
      |    AND o_orderdate < DATE '1998-01-01'
      |  GROUP BY 1),
      |m AS (
      |  SELECT c_custkey, a, b,
      |    CAST(len(a) AS BIGINT) AS n_a, CAST(len(b) AS BIGINT) AS n_b,
      |    CAST(len(list_intersect(a, b)) AS BIGINT) AS n_inter,
      |    list_min(list_intersect(a, b)) AS fc
      |  FROM sets WHERE len(a) > 0 AND len(b) > 0)
      |SELECT c_custkey, n_a, n_b, n_inter,
      |  n_a - n_inter AS n_except,
      |  n_a + n_b - n_inter AS n_union,
      |  n_inter > 0 AS overlap,
      |  coalesce(fc, -1) AS first_common,
      |  CASE WHEN fc IS NULL THEN CAST(0 AS BIGINT)
      |       ELSE CAST(len(list_filter(a, x -> x < fc)) + 1 AS BIGINT)
      |  END AS pos_first
      |FROM m
      |ORDER BY c_custkey""".stripMargin

  /** q319: RANGE-FRAME WINDOW SURFACE — value-based window frames,
    * the calendar-trailing-total idiom q233's ROWS frames cannot
    * express (a ROWS frame counts physical rows; a RANGE frame spans
    * the ORDER-KEY interval, handling gaps AND same-day peer rows —
    * every peer gets the identical frame total). Two frames per
    * order: trailing 7 calendar days and leading 14, over an
    * epoch-day BIGINT order key (integer RANGE offsets are exact and
    * identical in both engines, sidestepping interval-literal frame
    * dialects). Integer cents end-to-end; the window partitions on
    * custkey — bounded per-customer work, never a global sort.
    */
  def q319RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1995-01-01")).cast("long").as("d"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
    val w = Window.partitionBy("o_custkey").orderBy("d")
    o.select(col("o_orderkey"), col("o_custkey"), col("d"), col("cents"),
      sum("cents").over(w.rangeBetween(-6, 0)).as("trail7_cents"),
      sum("cents").over(w.rangeBetween(0, 13)).as("lead14_cents"),
      count(lit(1)).over(w.rangeBetween(-6, 0)).as("trail7_n"))
  }

  val q319Sql: String =
    """SELECT o_orderkey, o_custkey, d, cents,
      |  CAST(sum(cents) OVER w7 AS BIGINT) AS trail7_cents,
      |  CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY d
      |    RANGE BETWEEN CURRENT ROW AND 13 FOLLOWING) AS BIGINT)
      |    AS lead14_cents,
      |  CAST(count(*) OVER w7 AS BIGINT) AS trail7_n
      |FROM (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(date_diff('day', DATE '1995-01-01',
      |      CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders)
      |WINDOW w7 AS (PARTITION BY o_custkey ORDER BY d
      |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  /** q267: DATE/TIME SURFACE PARITY — the calendar field extractors a
    * reporting layer lives on (year/quarter/month/day/doy/dow/epoch
    * day/last-day-of-month), gated on a deterministic order sample.
    * The one convention mismatch is day-of-week: Spark's dayofweek()
    * is 1-based Sunday=1 while DuckDB's dayofweek() is 0-based
    * Sunday=0 — the query normalizes BOTH to ISO (Monday=1..Sunday=7)
    * so the gate pins an explicit, engine-neutral contract instead of
    * either engine's default. Scan-stage expressions only.
    */
  def q267DateSurface(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .filter(col("o_orderkey") % 37 === 0)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        dayofyear(col("o_orderdate")).cast("long").as("doy"),
        // Spark: Sun=1..Sat=7 -> ISO Mon=1..Sun=7
        ((dayofweek(col("o_orderdate")) + 5) % 7 + 1).cast("long")
          .as("iso_dow"),
        (unix_micros(col("o_orderdate")) / 86400000000L).cast("long")
          .as("epoch_day"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd")
          .as("month_end"))

  val q267Sql: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS y,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
      |  CAST(month(o_orderdate) AS BIGINT) AS m,
      |  CAST(day(o_orderdate) AS BIGINT) AS d,
      |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
      |  CAST(isodow(o_orderdate) AS BIGINT) AS iso_dow,
      |  CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS epoch_day,
      |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end
      |FROM orders WHERE o_orderkey % 37 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** q268: NULL-SEMANTICS SURFACE PARITY — the three-valued-logic
    * corners that silently diverge between engines if either side gets
    * them wrong: null-safe equality (`<=>` / IS NOT DISTINCT FROM) in
    * a join predicate, nullif-generated NULLs flowing through
    * aggregates (count skips, count(*) keeps), coalesce fallbacks, and
    * explicit NULLS FIRST ordering pinned through a rank (Spark
    * defaults nulls FIRST ascending, DuckDB defaults LAST — the gate
    * forces agreement by stating it). One aggregate over a derived
    * nullable column, integer-exact.
    */
  def q268NullSemantics(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    // tax == discount produces NULL via nullif -> nullable measure
    val li = t.lineitem.select(col("l_returnflag"),
      nullif(col("l_tax"), col("l_discount")).as("nv"),
      col("l_tax"), col("l_discount"))
    val agg = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        count(col("nv")).as("n_nonnull"),
        sum(when(col("nv").isNull, 1L).otherwise(0L)).as("n_null"),
        sum(when(col("l_tax") <=> col("l_discount"), 1L).otherwise(0L))
          .as("n_nullsafe_eq"),
        sum(floor(coalesce(col("nv"), lit(-1.0)) * 100 + lit(0.5))
          .cast("long")).as("coalesced_c"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("nv").asc_nulls_first, col("l_tax"))
    val firstNull = li
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy("l_returnflag")
      .agg(sum(when(col("nv").isNull, 1L).otherwise(0L))
        .as("first_is_null"))
    agg.join(firstNull, "l_returnflag")
  }

  val q268Sql: String =
    """WITH li AS (
      |  SELECT l_returnflag, nullif(l_tax, l_discount) AS nv,
      |    l_tax, l_discount
      |  FROM lineitem),
      |agg AS (
      |  SELECT l_returnflag, count(*) AS n_rows,
      |    CAST(count(nv) AS BIGINT) AS n_nonnull,
      |    CAST(sum(CASE WHEN nv IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_null,
      |    CAST(sum(CASE WHEN l_tax IS NOT DISTINCT FROM l_discount
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
      |    CAST(sum(CAST(floor(COALESCE(nv, -1.0) * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS coalesced_c
      |  FROM li GROUP BY 1),
      |fn AS (
      |  SELECT l_returnflag,
      |    CAST(sum(CASE WHEN nv IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS first_is_null
      |  FROM (
      |    SELECT l_returnflag, nv,
      |      row_number() OVER (PARTITION BY l_returnflag
      |        ORDER BY nv ASC NULLS FIRST, l_tax) AS rk
      |    FROM li)
      |  WHERE rk = 1 GROUP BY 1)
      |SELECT a.l_returnflag, a.n_rows, a.n_nonnull, a.n_null,
      |  a.n_nullsafe_eq, a.coalesced_c, fn.first_is_null
      |FROM agg a JOIN fn USING (l_returnflag)
      |ORDER BY 1""".stripMargin

  /** q269: STRING-FUNCTION SURFACE PARITY — the scalar string toolkit
    * (length/upper/lower/trim/substring/instr/split_part/lpad/reverse/
    * translate/repeat/left/ascii/levenshtein/md5/concat_ws) evaluated
    * per part name and gated against DuckDB's equivalents (instr ↔
    * strpos; both engines are 1-based with 0-if-absent). Pure
    * scan-stage codegen'd expressions — zero shuffles, zero UDFs; this
    * is the surface every text-normalization pipeline composes before
    * anything hashes or joins.
    */
  def q269StringSurface(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).part
      .filter(col("p_partkey") % 7 === 0)
      .select(col("p_partkey"),
        length(col("p_name")).cast("long").as("name_len"),
        upper(col("p_name")).as("name_up"),
        instr(col("p_name"), " ").cast("long").as("first_space"),
        expr("split_part(p_name, ' ', 1)").as("w1"),
        expr("split_part(p_name, ' ', 2)").as("w2"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("key_pad"),
        reverse(expr("split_part(p_name, ' ', 1)")).as("w1_rev"),
        translate(col("p_name"), "aeiou", "AEIOU").as("name_tr"),
        expr("repeat('*', CAST(p_size % 4 AS INT))").as("stars"),
        expr("left(p_name, 3)").as("name_l3"),
        ascii(upper(substring(col("p_name"), 1, 1))).cast("long")
          .as("first_ascii"),
        levenshtein(expr("split_part(p_name, ' ', 2)"), lit("widget"))
          .cast("long").as("lev_widget"),
        md5(col("p_name")).as("name_md5"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))

  val q269Sql: String =
    """SELECT p_partkey,
      |  CAST(length(p_name) AS BIGINT) AS name_len,
      |  upper(p_name) AS name_up,
      |  CAST(strpos(p_name, ' ') AS BIGINT) AS first_space,
      |  split_part(p_name, ' ', 1) AS w1,
      |  split_part(p_name, ' ', 2) AS w2,
      |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_pad,
      |  reverse(split_part(p_name, ' ', 1)) AS w1_rev,
      |  translate(p_name, 'aeiou', 'AEIOU') AS name_tr,
      |  repeat('*', CAST(p_size % 4 AS INT)) AS stars,
      |  left(p_name, 3) AS name_l3,
      |  CAST(ascii(upper(substr(p_name, 1, 1))) AS BIGINT) AS first_ascii,
      |  CAST(levenshtein(split_part(p_name, ' ', 2), 'widget') AS BIGINT)
      |    AS lev_widget,
      |  md5(p_name) AS name_md5,
      |  concat_ws('|', p_brand, p_type) AS brand_type
      |FROM part WHERE p_partkey % 7 = 0
      |ORDER BY p_partkey""".stripMargin

  /** q270: REGEX SURFACE PARITY — extract / global replace / count /
    * boolean match over document text, constrained to the dialect
    * subset Java regex (Spark) and RE2 (DuckDB) share: character
    * classes, quantifiers, alternation, word boundaries, capture
    * groups — NO backreferences or lookaround, which RE2 rejects by
    * design. DuckDB's regexp_replace is first-match-only by default,
    * so the oracle passes the 'g' flag to match Spark's replace-all
    * semantics; match counts go through regexp_extract_all's length
    * since DuckDB lacks regexp_count. Scan-stage only.
    */
  def q270RegexSurface(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        regexp_extract(col("text"), "^([a-z]+)", 1).as("first_tok"),
        expr("CAST(regexp_count(text, '\\\\ba[a-z]*') AS BIGINT)")
          .as("n_a_words"),
        length(regexp_replace(col("text"), "[aeiou]+", "#"))
          .cast("long").as("scrub_len"),
        expr("CAST(text RLIKE 'value (table|part)' AS INT)").cast("long")
          .as("has_vtp"),
        expr("CAST(regexp_count(text, '[a-z]*ss[a-z]*') AS BIGINT)")
          .as("n_ss"),
        regexp_extract(col("text"), "\\b([a-z]{6,})\\b", 1)
          .as("first_long"))

  val q270Sql: String =
    """SELECT doc_id,
      |  regexp_extract(text, '^([a-z]+)', 1) AS first_tok,
      |  CAST(len(regexp_extract_all(text, '\ba[a-z]*')) AS BIGINT)
      |    AS n_a_words,
      |  CAST(length(regexp_replace(text, '[aeiou]+', '#', 'g')) AS BIGINT)
      |    AS scrub_len,
      |  CAST(CAST(regexp_matches(text, 'value (table|part)') AS INT)
      |    AS BIGINT) AS has_vtp,
      |  CAST(len(regexp_extract_all(text, '[a-z]*ss[a-z]*')) AS BIGINT)
      |    AS n_ss,
      |  regexp_extract(text, '\b([a-z]{6,})\b', 1) AS first_long
      |FROM documents WHERE doc_id % 5 = 0
      |ORDER BY doc_id""".stripMargin

  /** q364: LATERAL JOIN SURFACE — correlated top-N per outer row
    * through the ANSI `LATERAL` derived table (the "for each nation,
    * its 2 richest customers" shape written the way a SQL user
    * migrating from Postgres/DuckDB writes it), plus a lateral
    * aggregate column. Complements q288 (correlated SCALAR
    * subqueries) and q7/q79 (the same top-N as window / native
    * operator): the point here is PARITY of the lateral SURFACE —
    * Spark's DecorrelateInnerQuery must rewrite both the LIMIT and
    * the aggregate into joins the same way DuckDB's optimizer does.
    *
    * Scale shape: Catalyst decorrelates the lateral LIMIT into a
    * partitioned window over the customer scan and the lateral
    * aggregate into one grouped join — no per-outer-row re-execution
    * survives in the physical plan (the plan audit pins no
    * CartesianProduct). Integer cents end-to-end.
    */
  def q364LateralTopn(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.nation.createOrReplaceTempView("q364_nation")
    t.customer.createOrReplaceTempView("q364_customer")
    try spark.sql("""
      SELECT n.n_name AS nation, t.c_custkey, t.bal_c, a.n_cust
      FROM q364_nation n
      JOIN LATERAL (
        SELECT c_custkey,
          CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
        FROM q364_customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey ASC
        LIMIT 2) t
      JOIN LATERAL (
        SELECT count(*) AS n_cust
        FROM q364_customer c
        WHERE c.c_nationkey = n.n_nationkey) a""")
    // the frame is analyzed already: its plan holds the tables, not the views
    finally Seq("q364_nation", "q364_customer").foreach(spark.catalog.dropTempView)
  }

  val q364Sql: String =
    """SELECT n.n_name AS nation, t.c_custkey, t.bal_c, a.n_cust
      |FROM nation n
      |JOIN LATERAL (
      |  SELECT c_custkey,
      |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
      |  FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey ASC
      |  LIMIT 2) t ON true
      |JOIN LATERAL (
      |  SELECT count(*) AS n_cust
      |  FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey) a ON true
      |ORDER BY nation, c_custkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q388_window_extrema" ->
      Gate.sorted(q388WindowExtrema _, "event_type", "day"),
    "q364_lateral_topn" ->
      Gate.sorted(q364LateralTopn _, "nation", "c_custkey"),
    "q305_map_surface" -> Gate.sorted(q305MapSurface _, "event_type", "wd"),
    "q312_calendar_arith" -> Gate.sorted(q312CalendarArith _, "o_orderkey"),
    "q315_array_surface" -> Gate.sorted(q315ArraySurface _, "c_custkey"),
    "q319_range_frame" -> Gate.sorted(q319RangeFrame _, "o_orderkey"),
    "q269_string_surface" -> Gate.sorted(q269StringSurface _, "p_partkey"),
    "q270_regex_surface" -> Gate.sorted(q270RegexSurface _, "doc_id"),
    "q267_date_surface" -> Gate.sorted(q267DateSurface _, "o_orderkey"),
    "q268_null_semantics" -> Gate.sorted(q268NullSemantics _, "l_returnflag"),
    "q265_window_rank_surface" ->
      Gate.sorted(q265WindowRankSurface _, "o_orderpriority", "rk"),
    "q266_hof_surface" -> Gate.sorted(q266HofSurface _, "doc_id"),
    "q234_ordered_agg" -> Gate.sorted(q234OrderedAgg _, "o_orderpriority"),
    "q288_correlated_scalar" ->
      Gate.sorted(q288CorrelatedScalar _, "o_orderkey"),
    "q171_grouping_sets" ->
      Gate.sorted(q171GroupingSets _, "gid", "l_returnflag", "l_linestatus"),
    "q172_set_ops" -> Gate.sorted(q172SetOps _, "op", "custkey"),
    "q173_gap_fill" -> Gate.sorted(q173GapFill _, "event_type", "day"),
    "q233_trailing_window" -> Gate.sorted(q233TrailingWindow _, "day"))

  val oracles: Map[String, String] = Map(
    "q388_window_extrema" -> q388Sql,
    "q364_lateral_topn" -> q364Sql,
    "q305_map_surface" -> q305Sql,
    "q312_calendar_arith" -> q312Sql,
    "q315_array_surface" -> q315Sql,
    "q319_range_frame" -> q319Sql,
    "q269_string_surface" -> q269Sql,
    "q270_regex_surface" -> q270Sql,
    "q267_date_surface" -> q267Sql,
    "q268_null_semantics" -> q268Sql,
    "q265_window_rank_surface" -> q265Sql,
    "q266_hof_surface" -> q266Sql,
    "q234_ordered_agg" -> q234Sql,
    "q288_correlated_scalar" -> q288Sql,
    "q171_grouping_sets" -> q171Sql,
    "q172_set_ops" -> q172Sql,
    "q173_gap_fill" -> q173Sql,
    "q233_trailing_window" -> q233Sql)
}
