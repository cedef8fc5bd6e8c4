package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 relational widening: the TPC-H decision-support shapes the
  * inventory did not yet cover (Q13 outer-join distribution, Q17
  * correlated-average filter, Q22 scalar-subquery + anti join), plus a
  * distributed SKYLINE (Pareto frontier) operator. Reference behavior:
  * the reference engine's query surface covers grouped aggregation,
  * outer joins, correlated filters and anti joins
  * (`/root/reference` query suite); these queries re-express those
  * semantics Spark-first.
  *
  * Exactness idiom shared with the rest of the inventory: money/
  * quantity doubles carry <= 2 decimals, so they quantize losslessly to
  * integer centi/micro units (floor(x*1eK + 0.5) — one IEEE op,
  * identical in DuckDB), and every AVG-comparison is cross-multiplied
  * into pure integer arithmetic so the oracle hash is bit-stable.
  */
object TpchShapes extends QueryModule {

  /** q158: ORDER-COUNT DISTRIBUTION (the TPC-H Q13 shape) — how many
    * customers placed exactly k orders, INCLUDING the zero bucket that
    * makes this an outer join rather than a plain rollup.
    *
    * Plan: orders aggregate FIRST (map-side partial count, one shuffle
    * on o_custkey), then a LEFT join from customer — at 100 TB both
    * sides are large so this is a sort-merge/shuffle-hash join on the
    * customer key, never a broadcast; the final distribution agg is on
    * a tiny domain (order counts) so its shuffle is negligible. No
    * per-row window, no explode.
    */
  def q158OrderCountDist(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val perCust = t.orders.groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    t.customer.select("c_custkey")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .groupBy("n_orders")
      .agg(count(lit(1)).as("n_customers"))
  }

  val q158Sql: String =
    """WITH pc AS (
      |  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
      |SELECT COALESCE(pc.n_orders, 0) AS n_orders,
      |  count(*) AS n_customers
      |FROM customer c LEFT JOIN pc ON pc.o_custkey = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q159: SMALL-QUANTITY REVENUE (the TPC-H Q17 shape) — revenue from
    * lineitems whose quantity is below 20% of the part's average
    * quantity, for one brand. The correlated scalar subquery
    * (avg per part) becomes ONE per-part aggregate joined back — and
    * because the probe side is already filtered to a single brand
    * (~2% of parts), BOTH the per-part average build and the join are
    * restricted by a broadcast semi of the brand's part keys, so the
    * fact table is scanned once and only brand rows leave the scan
    * stage.
    *
    * The avg comparison is exact: quantity quantizes to centi-units,
    * and `q < 0.2 * sum/n` cross-multiplies to `q_c * 5 * n < sum_c`
    * — pure BIGINT on both engines.
    */
  def q159SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val brandParts = t.part
      .filter(col("p_brand") === lit("Brand#23"))
      .select("p_partkey")
    val li = t.lineitem
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"),
        floor(col("l_quantity") * lit(100) + lit(0.5)).cast("long").as("q_c"),
        floor(col("l_extendedprice") * lit(1e6) + lit(0.5)).cast("long")
          .as("price_micro"))
    val perPart = li.groupBy("l_partkey")
      .agg(sum("q_c").as("sum_qc"), count(lit(1)).as("n_li"))
    li.join(perPart, "l_partkey")
      .filter(col("q_c") * lit(5L) * col("n_li") < col("sum_qc"))
      .agg(count(lit(1)).as("n_small"),
        sum("price_micro").as("revenue_micro"))
      .select(col("n_small"),
        coalesce(col("revenue_micro"), lit(0L)).as("revenue_micro"))
  }

  val q159Sql: String =
    """WITH li AS (
      |  SELECT l_partkey,
      |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q_c,
      |    CAST(floor(l_extendedprice * 1e6 + 0.5) AS BIGINT) AS price_micro
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_brand = 'Brand#23'),
      |pp AS (
      |  SELECT l_partkey, CAST(sum(q_c) AS BIGINT) AS sum_qc,
      |    count(*) AS n_li
      |  FROM li GROUP BY 1)
      |SELECT count(*) AS n_small,
      |  COALESCE(CAST(sum(li.price_micro) AS BIGINT), 0) AS revenue_micro
      |FROM li JOIN pp USING (l_partkey)
      |WHERE li.q_c * 5 * pp.n_li < pp.sum_qc""".stripMargin

  /** q160 dormancy cutoff: a customer is dormant if they have no order
    * on/after this date (the order log spans 1995-2001).
    */
  val DORMANT_CUTOFF = "1999-01-01"

  /** q160: DORMANT HIGH-BALANCE CUSTOMERS (the TPC-H Q22 shape) — per
    * nation, customers whose account balance exceeds the global average
    * POSITIVE balance yet who placed no order since the cutoff. Three
    * classic pieces: a global scalar subquery (one-row aggregate,
    * crossJoin-broadcast — no collect), a LEFT ANTI join against the
    * recent-orders key set (at scale the anti join shuffles both sides
    * on custkey; the date filter is pushed to the orders scan first),
    * and a dim rollup.
    *
    * The threshold compare is exact: `bal > sum_pos/n_pos` cross-
    * multiplies to `bal_c * n_pos > sum_pos_c` in BIGINT.
    */
  def q160DormantRich(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val cust = t.customer.select(col("c_custkey"), col("c_nationkey"),
      floor(col("c_acctbal") * lit(100) + lit(0.5)).cast("long").as("bal_c"))
    val thresh = cust.filter(col("bal_c") > 0)
      .agg(sum("bal_c").as("sum_pos"), count(lit(1)).as("n_pos"))
    cust
      .crossJoin(broadcast(thresh))
      .filter(col("bal_c") * col("n_pos") > col("sum_pos"))
      .join(t.orders
          .filter(col("o_orderdate") >= lit(DORMANT_CUTOFF).cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"), sum("bal_c").as("bal_sum_c"))
      .join(broadcast(Tables(spark, dir).nation
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select("n_name", "n_cust", "bal_sum_c")
  }

  val q160Sql: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
      |  FROM customer),
      |th AS (
      |  SELECT CAST(sum(bal_c) AS BIGINT) AS sum_pos, count(*) AS n_pos
      |  FROM cust WHERE bal_c > 0)
      |SELECT n.n_name,
      |  count(*) AS n_cust, CAST(sum(c.bal_c) AS BIGINT) AS bal_sum_c
      |FROM cust c, th
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |WHERE c.bal_c * th.n_pos > th.sum_pos
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q161: SKYLINE (Pareto frontier) over part — minimize retail price,
    * maximize size; a part survives iff no other part is at-least-as-
    * good on both axes and strictly better on one. The naive form is an
    * O(n^2) self-join; the 2-D structure admits a SWEEP instead:
    *
    *   1. one aggregate to per-size min price (the size domain is tiny
    *      and bounded — 50 values — so this shuffle is trivial and the
    *      result broadcastable at ANY fact scale),
    *   2. a window running-min over that tiny sorted domain gives, for
    *      every size, the cheapest price at any STRICTLY LARGER size,
    *   3. one broadcast join back prunes the full table: survivor iff
    *      price == per-size min AND price < running-min-above (or no
    *      larger size exists). Ties on both axes co-survive (neither
    *      dominates — no strict edge).
    *
    * The big table is scanned once with no self-join, no global sort,
    * no O(n^2) anywhere; the only window runs over 50 rows. The oracle
    * is the literal NOT EXISTS dominance definition, proving the sweep
    * equivalent.
    */
  def q161Skyline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    val p = t.part.select(col("p_partkey"), col("p_size"),
      floor(col("p_retailprice") * lit(100) + lit(0.5)).cast("long")
        .as("price_c"))
    val perSize = p.groupBy("p_size").agg(min("price_c").as("min_price_c"))
    val w = Window.orderBy(col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perSize
      .withColumn("min_above", min("min_price_c").over(w))
      .filter(col("min_above").isNull || col("min_price_c") < col("min_above"))
      .select(col("p_size").as("f_size"), col("min_price_c"))
    p.join(broadcast(frontier),
        col("p_size") === col("f_size") &&
          col("price_c") === col("min_price_c"))
      .select("p_partkey", "p_size", "price_c")
  }

  val q161Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_size,
      |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c
      |  FROM part)
      |SELECT a.p_partkey, a.p_size, a.price_c
      |FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE b.price_c <= a.price_c AND b.p_size >= a.p_size
      |    AND (b.price_c < a.price_c OR b.p_size > a.p_size))
      |ORDER BY a.p_partkey""".stripMargin

  /** q182: RANK MOVERS — per month, each brand's revenue rank and its
    * movement vs the previous month (the BI "top movers" report). The
    * fact pass is one l JOIN o (both large: shuffle join on orderkey,
    * orders pruned to key+month at the scan) + broadcast part, reduced
    * to the (month, brand) rollup in the same aggregation; both rank
    * windows (dense_rank within month, lag within brand) run on that
    * ~|months| x |brands| rollup, never on fact rows. Revenue is
    * per-row integer micro units, so ranks are engine-exact.
    */
  def q182RankMovers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    val rev = t.lineitem
      .select(col("l_orderkey"), col("l_partkey"),
        floor(col("l_extendedprice") * lit(1e6) + lit(0.5)).cast("long")
          .as("rev_micro"))
      .join(t.orders.select(col("o_orderkey"),
        date_format(date_trunc("MONTH", col("o_orderdate")), "yyyy-MM")
          .as("month")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.part.select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("month", "p_brand")
      .agg(sum("rev_micro").as("rev_micro"))
    val byMonth = Window.partitionBy("month")
      .orderBy(col("rev_micro").desc, col("p_brand"))
    val byBrand = Window.partitionBy("p_brand").orderBy("month")
    rev
      .withColumn("rk", rank().over(byMonth).cast("long"))
      .withColumn("prev_rk", lag("rk", 1).over(byBrand))
      .filter(col("prev_rk").isNotNull && col("rk") =!= col("prev_rk"))
      .select(col("month"), col("p_brand"), col("rk"),
        col("prev_rk").cast("long").as("prev_rk"),
        (col("prev_rk") - col("rk")).cast("long").as("delta"))
  }

  val q182Sql: String =
    """WITH rev AS (
      |  SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
      |    p.p_brand,
      |    CAST(sum(CAST(floor(l.l_extendedprice * 1e6 + 0.5) AS BIGINT))
      |      AS BIGINT) AS rev_micro
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT month, p_brand, rev_micro,
      |    CAST(rank() OVER (PARTITION BY month
      |      ORDER BY rev_micro DESC, p_brand) AS BIGINT) AS rk
      |  FROM rev),
      |m AS (
      |  SELECT month, p_brand, rk,
      |    lag(rk) OVER (PARTITION BY p_brand ORDER BY month) AS prev_rk
      |  FROM r)
      |SELECT month, p_brand, rk, CAST(prev_rk AS BIGINT) AS prev_rk,
      |  CAST(prev_rk - rk AS BIGINT) AS delta
      |FROM m WHERE prev_rk IS NOT NULL AND rk <> prev_rk
      |ORDER BY month, p_brand""".stripMargin

  /** q183: DISJUNCTIVE-PREDICATE REVENUE (the TPC-H Q19 shape) — an
    * OR of three conjunctive (brand, size-band, quantity-band) clauses
    * over the lineitem x part join. The interesting part is the PLAN:
    * the disjunction's common structure (`p_size >= 1`, quantity
    * bounds) lets Catalyst push a relaxed conjunct to BOTH scans while
    * the full OR evaluates post-join — predicate pushdown through a
    * disjunction is exactly what a hand-rolled engine usually misses.
    * Exactness: bands compare quantized centi-integers; revenue sums
    * per-row micro units.
    */
  def q183DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val li = t.lineitem.select(col("l_partkey"),
      floor(col("l_quantity") * 100 + lit(0.5)).cast("long").as("q_c"),
      floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * lit(1e4)
        + lit(0.5)).cast("long").as("rev_tenth_milli"))
    val clause = (
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("q_c").between(100L, 1100L)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("q_c").between(1000L, 2000L)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("q_c").between(2000L, 3000L)))
    li.join(broadcast(t.part.select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .filter(clause)
      .agg(count(lit(1)).as("n"),
        coalesce(sum("rev_tenth_milli"), lit(0L)).as("rev_tenth_milli"))
  }

  val q183Sql: String =
    """SELECT count(*) AS n,
      |  COALESCE(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1e4
      |    + 0.5) AS BIGINT)) AS BIGINT), 0) AS rev_tenth_milli
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE
      |  (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |    AND CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) BETWEEN 100 AND 1100)
      |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |    AND CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) BETWEEN 1000 AND 2000)
      |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
      |    AND CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) BETWEEN 2000 AND 3000)
      |""".stripMargin

  /** q184: PROMO REVENUE SHARE (the TPC-H Q14 shape) — the share of
    * one-month revenue coming from a part-type class, as a conditional
    * aggregate over the date-banded join (filter pushed to the orders
    * scan, part broadcast). The share is reported in micro units from
    * the two exact integer sums.
    */
  def q184PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ordersIn = t.orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .select("o_orderkey")
    t.lineitem
      .select(col("l_orderkey"), col("l_partkey"),
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * lit(1e4)
          + lit(0.5)).cast("long").as("rev"))
      .join(ordersIn, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.part.select(col("p_partkey"),
        (col("p_type") === "PROMO").as("is_promo"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("is_promo"), col("rev")).otherwise(0L)).as("promo_rev"),
        sum("rev").as("total_rev"))
      .select(col("promo_rev"), col("total_rev"),
        floor(col("promo_rev") * lit(1e6) / col("total_rev") + lit(0.5))
          .cast("long").as("share_micro"))
  }

  val q184Sql: String =
    """WITH j AS (
      |  SELECT CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5)
      |      AS BIGINT) AS rev,
      |    p.p_type = 'PROMO' AS is_promo
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o.o_orderdate < TIMESTAMP '1996-07-01')
      |SELECT CAST(sum(CASE WHEN is_promo THEN rev ELSE 0 END) AS BIGINT)
      |    AS promo_rev,
      |  CAST(sum(rev) AS BIGINT) AS total_rev,
      |  CAST(floor(sum(CASE WHEN is_promo THEN rev ELSE 0 END) * 1e6
      |    / sum(rev) + 0.5) AS BIGINT) AS share_micro
      |FROM j""".stripMargin

  /** q212: RETURNED-ITEM REVENUE REPORT (the TPC-H Q10 shape) — the
    * top 20 customers by revenue lost to returns in one quarter, with
    * their nation. Decision shape: selective fact filter (flag +
    * order-date band, both pushed to the scans), a three-way
    * star join (orders filtered THEN joined; customer and nation
    * broadcast), a customer-grain rollup, and a TakeOrdered top-20 —
    * never a global sort. Revenue in exact tenth-milli units (the q183
    * idiom).
    */
  def q212ReturnedReport(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ordersIn = t.orders
      .filter(col("o_orderdate") >= lit("1995-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-10-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    t.lineitem
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * lit(1e4)
          + lit(0.5)).cast("long").as("rev"))
      .join(ordersIn, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer.select("c_custkey", "c_name", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum("rev").as("lost_rev"), count(lit(1)).as("n_items"))
      .orderBy(col("lost_rev").desc, col("c_custkey"))
      .limit(20)
  }

  val q212Sql: String =
    """SELECT c.c_custkey, c.c_name, n.n_name,
      |  CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5)
      |    AS BIGINT)) AS BIGINT) AS lost_rev,
      |  count(*) AS n_items
      |FROM lineitem l
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |WHERE l.l_returnflag = 'R'
      |  AND o.o_orderdate >= TIMESTAMP '1995-07-01'
      |  AND o.o_orderdate < TIMESTAMP '1995-10-01'
      |GROUP BY 1, 2, 3
      |ORDER BY lost_rev DESC, c_custkey LIMIT 20""".stripMargin

  /** q213: TOP SUPPLIER (the TPC-H Q15 shape) — the supplier(s) whose
    * quarterly revenue equals the maximum, i.e. a group rollup
    * compared against a scalar aggregate OF ITSELF. The classic
    * formulation is a view referenced twice; the plan here computes
    * the supplier rollup once (localCheckpoint pins it), reduces it to
    * a broadcast 1-row max, and filters by equality — no re-scan of
    * the fact table, exact integer revenue so "equals max" is
    * well-defined.
    */
  def q213TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ordersIn = t.orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select("o_orderkey")
    val rev = t.lineitem
      .select(col("l_orderkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * lit(1e4)
          + lit(0.5)).cast("long").as("rev"))
      .join(ordersIn, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_suppkey")
      .agg(sum("rev").as("total_rev"))
      .transform(graft.operators.Pins.pin)
    val mx = rev.agg(max("total_rev").as("max_rev"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("max_rev"))
      .join(broadcast(t.supplier.select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
  }

  val q213Sql: String =
    """WITH rev AS (
      |  SELECT l.l_suppkey,
      |    CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4
      |      + 0.5) AS BIGINT)) AS BIGINT) AS total_rev
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o.o_orderdate < TIMESTAMP '1996-04-01'
      |  GROUP BY 1)
      |SELECT s.s_suppkey, s.s_name, r.total_rev
      |FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
      |WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** q214 threshold (quantity centi-units): orders above this total
    * quantity are "large" — ~p99 of the synthetic order-size
    * distribution, the same selectivity class as TPC-H Q18's 300.
    */
  val LARGE_ORDER_QTY_C = 25000L

  /** q214: LARGE-ORDER CUSTOMERS (the TPC-H Q18 shape) — orders whose
    * total quantity crosses a threshold, with their customer. The
    * HAVING-on-sum subquery becomes one fact rollup (map-side
    * combined) filtered BEFORE any join, so the joins see only the
    * rare large orders; customer broadcasts.
    */
  def q214LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val big = t.lineitem
      .groupBy("l_orderkey")
      .agg(sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long"))
        .as("qty_c"), count(lit(1)).as("n_items"))
      .filter(col("qty_c") > LARGE_ORDER_QTY_C)
    big
      .join(t.orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer.select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        unix_micros(col("o_orderdate")).as("order_us"),
        col("qty_c"), col("n_items"))
  }

  val q214Sql: String =
    s"""WITH big AS (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS qty_c,
      |    count(*) AS n_items
      |  FROM lineitem GROUP BY 1
      |  HAVING sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
      |    > $LARGE_ORDER_QTY_C)
      |SELECT c.c_custkey, c.c_name, o.o_orderkey, epoch_us(o.o_orderdate)
      |    AS order_us,
      |  b.qty_c, b.n_items
      |FROM big b
      |JOIN orders o ON o.o_orderkey = b.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** q215 share threshold: parts holding at least this many micro-units
    * (1e6 = all) of total revenue are "important".
    */
  val IMPORTANT_PART_MICRO = 600L

  /** q215: IMPORTANT-STOCK SHARE (the TPC-H Q11 shape) — parts whose
    * revenue share exceeds a fraction of the GLOBAL total: a group
    * rollup filtered against a scalar aggregate. The part rollup and
    * the 1-row global total come from the SAME pre-aggregated frame
    * (localCheckpoint pins it; the total broadcasts back) — one fact
    * scan, and the share comparison cross-multiplies exact BIGINTs
    * (share * total > threshold * total-parts form), so no division
    * enters the filter.
    */
  def q215ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Tables(spark, dir).lineitem
      .select(col("l_partkey"),
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * lit(1e4)
          + lit(0.5)).cast("long").as("rev"))
      .groupBy("l_partkey")
      .agg(sum("rev").as("part_rev"))
      .transform(graft.operators.Pins.pin)
    val tot = perPart.agg(sum("part_rev").as("total_rev"))
    perPart.crossJoin(broadcast(tot))
      .filter(col("part_rev") * lit(1000000L) >
        lit(IMPORTANT_PART_MICRO) * col("total_rev"))
      .select(col("l_partkey").as("p_partkey"), col("part_rev"),
        floor(col("part_rev") * lit(1e6) / col("total_rev") + lit(0.5))
          .cast("long").as("share_micro"))
  }

  val q215Sql: String =
    s"""WITH pp AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1e4 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS part_rev
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(sum(part_rev) AS BIGINT) AS total_rev FROM pp)
      |SELECT pp.l_partkey AS p_partkey, pp.part_rev,
      |  CAST(floor(pp.part_rev * 1e6 / t.total_rev + 0.5) AS BIGINT)
      |    AS share_micro
      |FROM pp CROSS JOIN t
      |WHERE pp.part_rev * 1000000 > $IMPORTANT_PART_MICRO * t.total_rev
      |ORDER BY p_partkey""".stripMargin

  /** q253: NATION-PAIR TRADE VOLUME (TPC-H Q7 shape, generalized to
    * ALL nation pairs): revenue shipped between every (supplier
    * nation, customer nation) pair per order year. The physical shape
    * is the classic snowflake: the lineitem fact shuffles ONCE on
    * orderkey to meet orders (which carries custkey -> customer ->
    * nation via broadcasts), supplier and both nation legs broadcast —
    * at 100 TB only the fact and the orders leg shuffle; everything
    * else ships to the executors. Output is |nations|^2 x years rows.
    */
  def q253NationTrade(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .join(t.orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation.select(col("n_nationkey").as("snk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
      .join(broadcast(t.nation.select(col("n_nationkey").as("cnk"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("n_lines"),
        graft.functions.Exact.sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
  }

  val q253Sql: String =
    s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n_lines,
      |  ${graft.functions.Exact.sumSql("l_extendedprice * (1 - l_discount)")} AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** q254: REGIONAL MARKET SHARE (TPC-H Q8 shape): per (customer
    * region, order year, supplier nation), the nation's revenue in
    * integer micro units NEXT TO the region-year total — numerator and
    * denominator as exact BIGINTs (the ratio is one division away;
    * emitting it would put a float quotient in the gate for no
    * analytical gain). Window-sum over the tiny rollup supplies the
    * denominator without a second scan.
    */
  def q254MarketShare(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    val rev = t.lineitem
      .join(t.orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select(col("n_nationkey").as("cnk"),
        col("n_regionkey").as("crk"))), col("c_nationkey") === col("cnk"))
      .join(broadcast(t.region), col("crk") === col("r_regionkey"))
      .join(broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation.select(col("n_nationkey").as("snk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
      .groupBy(col("r_name"), year(col("o_orderdate")).as("o_year"),
        col("supp_nation"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * 10000 + lit(0.5)).cast("long")).as("rev_cmicro"))
    val wTot = Window.partitionBy("r_name", "o_year")
    rev.withColumn("total_cmicro", sum("rev_cmicro").over(wTot))
  }

  val q254Sql: String =
    """WITH rev AS (
      |  SELECT r_name, CAST(year(o_orderdate) AS INT) AS o_year,
      |    sn.n_name AS supp_nation,
      |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000
      |      + 0.5) AS BIGINT)) AS BIGINT) AS rev_cmicro
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  JOIN region ON cn.n_regionkey = r_regionkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  GROUP BY 1, 2, 3)
      |SELECT r_name, o_year, supp_nation, rev_cmicro,
      |  CAST(sum(rev_cmicro) OVER (PARTITION BY r_name, o_year)
      |    AS BIGINT) AS total_cmicro
      |FROM rev ORDER BY r_name, o_year, supp_nation""".stripMargin

  /** q255 late threshold (days past order date). */
  val LATE_DAYS = 60

  /** q255: WAITING SUPPLIERS (TPC-H Q21 shape, late := shipped more
    * than LATE_DAYS past the order date since this lineitem carries no
    * receipt/commit dates): suppliers whose line was LATE in a
    * multi-supplier order where NO OTHER supplier was late — the
    * "who alone held up the order" attribution. The semi + anti
    * SELF-JOINS run on the shared l_orderkey partitioning (orders are
    * small groups, so the exists/not-exists probes are bounded per
    * key); one count rollup per supplier at the end.
    */
  def q255WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val li = t.lineitem
      .join(t.orders.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") >
          col("o_orderdate") + expr(s"INTERVAL $LATE_DAYS DAYS")).as("late"))
    val l1 = li.filter(col("late"))
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    val others = li.select(col("l_orderkey").as("k2"),
      col("l_suppkey").as("s2"), col("late").as("late2"))
    val multiSupp = l1.join(others,
        col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"),
        "left_semi")
    val othersLate = others.filter(col("late2"))
    val alone = multiSupp.join(othersLate,
      col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"),
      "left_anti")
    alone.groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_waiting_orders"))
      .join(broadcast(Tables(spark, dir).supplier
        .select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_waiting_orders"))
  }

  val q255Sql: String =
    s"""WITH li AS (
      |  SELECT l_orderkey, l_suppkey,
      |    l_shipdate > o_orderdate + INTERVAL $LATE_DAYS DAY AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |l1 AS (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late)
      |SELECT s_suppkey, s_name, count(*) AS n_waiting_orders
      |FROM l1 JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE EXISTS (SELECT 1 FROM li o WHERE o.l_orderkey = l1.l_orderkey
      |              AND o.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM li o WHERE o.l_orderkey = l1.l_orderkey
      |                  AND o.l_suppkey <> l1.l_suppkey AND o.late)
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** q274: PRIORITY CHECKING (the TPC-H Q4 shape) — per order
    * priority, how many orders placed in one quarter had AT LEAST ONE
    * late lineitem (shipped more than [[LATE_DAYS]] past the order
    * date — the same lateness proxy q255 uses, since this lineitem
    * carries no commit/receipt dates). The EXISTS subquery is a
    * LEFT-SEMI join: the order survives once no matter how many of its
    * lines are late, so no distinct is ever needed on the fact side.
    *
    * Plan shape: the quarter filter prunes orders FIRST (at 100 TB
    * with date-partitioned storage this is partition pruning, ~1/26 of
    * the table), then ONE shuffle on the shared orderkey meets the
    * lateness-filtered lineitem projection; the semi join emits the
    * order row at the first match (no fanout), and the final rollup is
    * over the 5-value priority domain — map-side combined, negligible.
    */
  def q274PriorityChecking(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val quarter = t.orders
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-04-01"))
      .select("o_orderkey", "o_orderpriority", "o_orderdate")
    val late = t.lineitem.select(col("l_orderkey"), col("l_shipdate"))
    quarter.join(late,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") >
            col("o_orderdate") + expr(s"INTERVAL $LATE_DAYS DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
  }

  val q274Sql: String =
    s"""SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-04-01'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL $LATE_DAYS DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q283 part-name filter token (the schema's p_name vocabulary is
    * "<adjective> <noun>"; 'red' selects ~1/8 of parts).
    */
  val PROFIT_TOKEN = "red"

  /** Stand-in supply-cost fraction of retail price — the test schema
    * has no partsupp table (reference: TPC-H Q9 reads ps_supplycost),
    * so cost is modeled as a fixed fraction of p_retailprice.
    */
  val COST_FRAC = 0.5

  /** q283: PRODUCT-TYPE PROFIT (TPC-H Q9 shape): profit per supplier
    * nation per order year over the parts matching a name token —
    * profit = revenue − modeled supply cost per line.
    *
    * Scale shape: the part filter runs FIRST and the surviving part
    * keys broadcast onto the fact scan — at 100 TB this is the join
    * Spark turns into a dynamic partition-pruning / runtime-filter
    * scan (1/8 of parts -> only their lineitems survive the first
    * join), so the expensive orders join sees pre-thinned facts.
    * Supplier and nation broadcast; orders is the only shuffled side
    * besides lineitem. One exchange on l_orderkey, then a 125-row
    * rollup. Money stays DECIMAL-exact (Exact.sumExact, scale 6 for
    * the triple product).
    */
  def q283ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .join(broadcast(t.part.filter(col("p_name").contains(PROFIT_TOKEN))
        .select("p_partkey", "p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(t.orders.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"),
        col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("n_lines"),
        graft.functions.Exact.sumExact(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
            lit(COST_FRAC) * col("p_retailprice") * col("l_quantity"), 6)
          .as("profit"))
  }

  val q283Sql: String =
    s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
      |  count(*) AS n_lines,
      |  ${graft.functions.Exact.sumSql(
            s"l_extendedprice * (1 - l_discount) - $COST_FRAC * p_retailprice * l_quantity", 6)}
      |    AS profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%$PROFIT_TOKEN%'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q304: PARTS/SUPPLIER RELATIONSHIP COUNT (the TPC-H Q16 shape) —
    * for each (brand, type, size-band) part group: how many DISTINCT
    * suppliers have actually shipped it, excluding one brand and the
    * complaint-listed suppliers (negative account balance stands in
    * for Q16's comment scan; the schema has no partsupp, so the
    * supplier↔part relation is the DISTINCT (l_partkey, l_suppkey)
    * projection of lineitem — the same relation Q16 reads, derived
    * from shipments).
    *
    * Plan shape: the exclusion list is a broadcast ANTI join (NOT IN
    * with no NULL hazard — keys are non-null); the part dim filter
    * broadcasts onto the distinct-pair aggregate; the
    * count(DISTINCT suppkey) collapses on the |groups|-bounded rollup.
    * Fact-sized work: one distinct-pair aggregate of lineitem — the
    * exchange carries 16-byte key pairs, never rows.
    */
  def q304SupplierPartTypes(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pairs = t.lineitem.select(col("l_partkey"), col("l_suppkey")).distinct()
    val complaints = t.supplier.filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    val parts = t.part.filter(col("p_brand") =!= "Brand#13")
      .select(col("p_partkey"), col("p_brand"), col("p_type"),
        (floor(col("p_size") / lit(10)) * 10).cast("long").as("size_band"))
    pairs
      .join(broadcast(complaints),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "size_band")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  val q304Sql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |ok AS (
      |  SELECT p.l_partkey, p.l_suppkey FROM pairs p
      |  WHERE p.l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
      |SELECT pt.p_brand, pt.p_type,
      |  CAST(floor(pt.p_size / 10) * 10 AS BIGINT) AS size_band,
      |  CAST(count(DISTINCT ok.l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM ok JOIN part pt ON ok.l_partkey = pt.p_partkey
      |WHERE pt.p_brand != 'Brand#13'
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  /** q328: FORECAST REVENUE CHANGE (the TPC-H Q6 shape) — the revenue
    * that would have been kept had discounts in a 3-centi-point band
    * been eliminated on small-quantity lines shipped in one year. The
    * entire query is ONE scan: no join, a single global aggregate.
    *
    * Plan shape: the shipdate band is a plain column-vs-literal
    * predicate, so it reaches the parquet scan as PushedFilters (at
    * 100 TB with date-partitioned storage it is partition pruning —
    * ~1/7 of this table's date range); the quantized discount/quantity
    * bands are arithmetic over scanned columns and evaluate inside the
    * same whole-stage-codegen scan stage, never materializing a row
    * that fails them. The aggregate is a map-side partial -> 1-row
    * final: the shuffle carries 32 partial rows, nothing else.
    * Exactness: per-row tenth-milli quantization (the q183 idiom) so
    * the sum is pure BIGINT in both engines.
    */
  def q328ForecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(
        floor(col("l_discount") * 100 + lit(0.5)).cast("long").as("disc_c"),
        floor(col("l_quantity") * 100 + lit(0.5)).cast("long").as("q_c"),
        floor(col("l_extendedprice") * col("l_discount") * lit(1e4)
          + lit(0.5)).cast("long").as("delta_tenth_milli"))
      .filter(col("disc_c").between(5L, 7L) && col("q_c") < 2400L)
      .agg(count(lit(1)).as("n_lines"),
        coalesce(sum("delta_tenth_milli"), lit(0L)).as("delta_tenth_milli"))
  }

  val q328Sql: String =
    """SELECT count(*) AS n_lines,
      |  COALESCE(CAST(sum(CAST(floor(l_extendedprice * l_discount * 1e4
      |      + 0.5) AS BIGINT)) AS BIGINT), 0) AS delta_tenth_milli
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND CAST(floor(l_discount * 100 + 0.5) AS BIGINT) BETWEEN 5 AND 7
      |  AND CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) < 2400""".stripMargin

  /** Ship-mode model: the schema carries no l_shipmode (same
    * modeled-column convention as [[COST_FRAC]]), so a deterministic
    * 4-value mode is derived from the line identity. Both engines
    * compute the identical `(l_orderkey*7 + l_linenumber) % 4` on
    * non-negative BIGINTs, so %/pmod agree.
    */
  val SHIP_MODES_CHECKED = Seq("MODE_1", "MODE_2")

  /** q329: SHIP-MODE PRIORITY DISTRIBUTION (the TPC-H Q12 shape) —
    * for two audited ship modes, how many lines shipped LATE in one
    * year came from critical-priority orders (1-URGENT / 2-HIGH)
    * vs everything else. Lateness is the [[LATE_DAYS]] proxy shared
    * with q255/q274 (no commit/receipt dates in this schema).
    *
    * Plan shape: the year band prunes the lineitem scan (pushed
    * filter / date partition pruning at 100 TB); the mode filter is a
    * cheap in-scan arithmetic predicate that keeps ~half the lines
    * BEFORE the join; then ONE shuffle on the shared orderkey joins
    * the priority + orderdate projection of orders, the lateness
    * predicate evaluates post-join (it reads both sides), and the
    * final rollup is over the 2-value mode domain — map-side combined.
    */
  def q329ShipmodePriority(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val li = t.lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_shipdate"),
        concat(lit("MODE_"),
          pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(4))
            .cast("int")).as("ship_mode"))
      .filter(col("ship_mode").isin(SHIP_MODES_CHECKED: _*))
    li.join(t.orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr(s"INTERVAL $LATE_DAYS DAYS"))
      .groupBy("ship_mode")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_lines"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_lines"))
  }

  val q329Sql: String =
    s"""SELECT 'MODE_' || CAST((l_orderkey * 7 + l_linenumber) % 4 AS VARCHAR)
      |    AS ship_mode,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_lines,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND (l_orderkey * 7 + l_linenumber) % 4 IN (1, 2)
      |  AND l_shipdate > o_orderdate + INTERVAL $LATE_DAYS DAY
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q330 part-name prefix (Q20 uses a LIKE 'forest%' prefix; this
    * vocabulary's adjectives include 'old' at ~12% selectivity).
    */
  val EXCESS_PREFIX = "old"

  /** q330: EXCESS-INVENTORY SUPPLIERS (the TPC-H Q20 shape) — per
    * nation, the suppliers holding "excess availability" of promoted
    * parts: availability (modeled as the supplier's all-time shipped
    * quantity of the part — no partsupp in this schema) exceeding half
    * of the part's total one-year demand. Q20's nested correlated
    * IN-subqueries become two aggregates of the same fact table joined
    * on the part key.
    *
    * Plan shape: the part prefix filter runs first and BROADCASTS
    * (~12% of a dimension); the availability aggregate shuffles
    * lineitem ONCE on (suppkey, partkey) — the pair domain, already
    * thinned by the broadcast part filter before the exchange; the
    * demand aggregate reuses the same broadcast on the date-pruned
    * scan and is |promoted parts|-bounded, so IT broadcasts onto the
    * availability side. The excess test is integer cross-multiplied
    * (avail*2 > demand), the supplier/nation dims broadcast, and the
    * rollup is |suppliers|-bounded. Nothing fact-sized ever shuffles
    * twice.
    */
  def q330ExcessSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val promoted = t.part.filter(col("p_name").startsWith(EXCESS_PREFIX))
      .select("p_partkey")
    val qtyC = floor(col("l_quantity") * 100 + lit(0.5)).cast("long")
    val promotedLines = t.lineitem
      .join(broadcast(promoted), col("l_partkey") === col("p_partkey"))
    val avail = promotedLines
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum(qtyC).as("avail_c"))
    val demand = promotedLines
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("l_partkey").as("d_partkey"))
      .agg(sum(qtyC).as("demand_c"))
    avail.join(broadcast(demand), col("l_partkey") === col("d_partkey"))
      .filter(col("avail_c") * 2 > col("demand_c"))
      .join(broadcast(t.supplier
          .join(broadcast(t.nation.select(col("n_nationkey"),
            col("n_name"))), col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "s_name", "n_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("n_name", "s_suppkey", "s_name")
      .agg(count(lit(1)).as("n_excess_parts"))
  }

  val q330Sql: String =
    s"""WITH promoted AS (
      |  SELECT p_partkey FROM part WHERE p_name LIKE '$EXCESS_PREFIX%'),
      |avail AS (
      |  SELECT l_suppkey, l_partkey,
      |    sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS avail_c
      |  FROM lineitem JOIN promoted ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |demand AS (
      |  SELECT l_partkey,
      |    sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS demand_c
      |  FROM lineitem JOIN promoted ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1998-01-01'
      |  GROUP BY 1)
      |SELECT n_name, s_suppkey, s_name, count(*) AS n_excess_parts
      |FROM avail
      |JOIN demand USING (l_partkey)
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE avail_c * 2 > demand_c
      |GROUP BY 1, 2, 3 ORDER BY 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q328_forecast_revenue" -> ((s, d) => q328ForecastRevenue(s, d)),
    "q329_shipmode_priority" ->
      Gate.sorted(q329ShipmodePriority _, "ship_mode"),
    "q330_excess_suppliers" -> Gate.sorted(q330ExcessSuppliers _, "s_suppkey"),
    "q304_supplier_part_types" ->
      Gate.sorted(q304SupplierPartTypes _, "p_brand", "p_type", "size_band"),
    "q283_product_profit" ->
      Gate.sorted(q283ProductProfit _, "nation", "o_year"),
    "q274_priority_checking" ->
      Gate.sorted(q274PriorityChecking _, "o_orderpriority"),
    "q253_nation_trade" ->
      Gate.sorted(q253NationTrade _, "supp_nation", "cust_nation", "o_year"),
    "q254_market_share" ->
      Gate.sorted(q254MarketShare _, "r_name", "o_year", "supp_nation"),
    "q255_waiting_suppliers" ->
      Gate.sorted(q255WaitingSuppliers _, "s_suppkey"),
    "q212_returned_report" -> ((s, d) => q212ReturnedReport(s, d)),
    "q213_top_supplier" -> Gate.sorted(q213TopSupplier _, "s_suppkey"),
    "q214_large_orders" -> Gate.sorted(q214LargeOrders _, "o_orderkey"),
    "q215_important_parts" -> Gate.sorted(q215ImportantParts _, "p_partkey"),
    "q183_disjunctive_revenue" -> ((s, d) => q183DisjunctiveRevenue(s, d)),
    "q184_promo_share" -> ((s, d) => q184PromoShare(s, d)),
    "q182_rank_movers" -> Gate.sorted(q182RankMovers _, "month", "p_brand"),
    "q158_order_count_dist" -> Gate.sorted(q158OrderCountDist _, "n_orders"),
    "q159_small_qty_revenue" -> ((s, d) => q159SmallQtyRevenue(s, d)),
    "q160_dormant_rich" -> Gate.sorted(q160DormantRich _, "n_name"),
    "q161_skyline" -> Gate.sorted(q161Skyline _, "p_partkey"))

  val oracles: Map[String, String] = Map(
    "q328_forecast_revenue" -> q328Sql,
    "q329_shipmode_priority" -> q329Sql,
    "q330_excess_suppliers" -> q330Sql,
    "q304_supplier_part_types" -> q304Sql,
    "q274_priority_checking" -> q274Sql,
    "q283_product_profit" -> q283Sql,
    "q253_nation_trade" -> q253Sql,
    "q254_market_share" -> q254Sql,
    "q255_waiting_suppliers" -> q255Sql,
    "q212_returned_report" -> q212Sql,
    "q213_top_supplier" -> q213Sql,
    "q214_large_orders" -> q214Sql,
    "q215_important_parts" -> q215Sql,
    "q183_disjunctive_revenue" -> q183Sql,
    "q184_promo_share" -> q184Sql,
    "q182_rank_movers" -> q182Sql,
    "q158_order_count_dist" -> q158Sql,
    "q159_small_qty_revenue" -> q159Sql,
    "q160_dormant_rich" -> q160Sql,
    "q161_skyline" -> q161Sql)
}
