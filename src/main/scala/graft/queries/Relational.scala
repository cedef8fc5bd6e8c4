package graft.queries

import graft.Tables
import graft.functions.Exact
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operators (SURVEY.md §2 q01–q10).
  *
  * These are the workhorses the reference pipeline's pandas merges /
  * groupbys / melts map onto (reference: src/nbody6/assembler.py). Each
  * query is a declarative DataFrame plan: Catalyst pushes filters and
  * projections into the parquet scan, broadcasts the small dimension
  * side of joins, and does partial (map-side) aggregation before the
  * shuffle — the properties that keep these plans viable at 100 TB.
  *
  * Doubles that pass through a commutative aggregation are summed in
  * DECIMAL (graft.functions.Exact) — order-independent and therefore
  * identical across engines, partition counts, and thread schedules;
  * raw column values pass through exactly.
  */
object Relational extends QueryModule {

  /** q01: grouped aggregation with map-side combine (pricing summary).
    * Scale note: group-by on low-cardinality keys -> partial agg
    * reduces shuffle to |groups| x |partitions| rows.
    */
  def q01AggSummary(spark: SparkSession, dir: String): DataFrame =
    // fanOut: the exact-decimal partial aggregate ran on the scan's
    // single-row-group splits (2.2 s of 6.5 s serial at sf0.1) —
    // Tables.fanOut, guide §2.5
    Tables.fanOut(Tables(spark, dir).lineitem
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")),
        col("l_orderkey"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        Exact.sumExact(col("l_quantity")).as("sum_qty"),
        Exact.sumExact(col("l_extendedprice")).as("sum_base_price"),
        Exact.sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        Exact.sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
        Exact.meanExact(col("l_quantity")).as("avg_qty"),
        Exact.meanExact(col("l_extendedprice")).as("avg_price"),
        Exact.meanExact(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
      | ${Exact.sumSql("l_quantity")} AS sum_qty,
      | ${Exact.sumSql("l_extendedprice")} AS sum_base_price,
      | ${Exact.sumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
      | ${Exact.sumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
      | ${Exact.meanSql("l_quantity")} AS avg_qty,
      | ${Exact.meanSql("l_extendedprice")} AS avg_price,
      | ${Exact.meanSql("l_discount")} AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q02: predicate + projection pushdown. The physical scan must show
    * PushedFilters on l_quantity and a 4-column ReadSchema.
    */
  def q02FilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .filter(col("l_quantity") < 3.0 && col("l_discount") > 0.05)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_quantity < 3.0 AND l_discount > 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q03: multi-way join with broadcast dimensions (region/nation are
    * tiny at any scale factor -> broadcast; customer joins shuffle).
    */
  def q03JoinDims(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        Exact.sumExact(col("o_totalprice")).as("revenue"))
      .orderBy("r_name", "n_name")
  }

  val q03Sql: String =
    s"""SELECT r_name, n_name, count(*) AS n_orders,
      | ${Exact.sumSql("o_totalprice")} AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** q04: left-semi join — customers that have at least one
    * high-priority order (EXISTS without materializing the right side).
    */
  def q04SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val urgent = t.orders.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    t.customer
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment", "c_acctbal")
  }

  val q04Sql: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** q05: left-anti join — customers with no urgent orders (the
    * reference uses set-difference validation, assembler.py:168).
    */
  def q05AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val urgent = t.orders.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    t.customer
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_nationkey")
  }

  val q05Sql: String =
    """SELECT c_custkey, c_name, c_nationkey
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** q06: window functions — per-supplier running quantity and row
    * number in deterministic ship order (the cumulative-mass pattern of
    * calc/cluster.py:28 at per-key granularity).
    */
  def q06WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    Tables(spark, dir).lineitem
      .select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        row_number().over(w).as("rn"),
        sum(Exact.dec(col("l_quantity")))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double").as("running_qty"))
  }

  val q06Sql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      | row_number() OVER w AS rn,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
      |ORDER BY l_suppkey, rn""".stripMargin

  /** q07: top-k per group — 3 priciest orders per priority class
    * (rank-and-filter; at scale this is a single shuffle + per-key
    * heap, no global sort).
    */
  def q07TopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables(spark, dir).orders
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "rk")
  }

  val q07Sql: String =
    """SELECT o_orderpriority, rk, o_orderkey, o_totalprice
      |FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      |  FROM orders)
      |WHERE rk <= 3
      |ORDER BY o_orderpriority, rk""".stripMargin

  /** q08: exact distinct counting per group (duplicate detection,
    * assembler.py:130). countDistinct expands to a two-phase aggregate.
    */
  def q08DistinctCount(spark: SparkSession, dir: String): DataFrame =
    // fanOut: the distinct-expand partial aggregate ran on the scan's
    // single-row-group splits — Tables.fanOut, guide §2.5
    Tables.fanOut(Tables(spark, dir).lineitem
        .select("l_returnflag", "l_partkey", "l_suppkey", "l_orderkey"),
        col("l_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy("l_returnflag")

  val q08Sql: String =
    """SELECT l_returnflag,
      | count(DISTINCT l_partkey) AS n_parts,
      | count(DISTINCT l_suppkey) AS n_supps,
      | count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q09: melt/union — customers and suppliers unified into one party
    * catalog (the reference melts OUT9 name1/name2 columns into rows,
    * assembler.py:90).
    */
  def q09ExplodeMerge(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val c = t.customer.select(
      lit("customer").as("role"),
      col("c_custkey").cast("long").as("party_key"),
      col("c_nationkey").cast("int").as("nation_key"),
      col("c_acctbal").as("acctbal"))
    val s = t.supplier.select(
      lit("supplier").as("role"),
      col("s_suppkey").cast("long").as("party_key"),
      col("s_nationkey").cast("int").as("nation_key"),
      col("s_acctbal").as("acctbal"))
    c.unionAll(s)
  }

  val q09Sql: String =
    """SELECT * FROM (
      |  SELECT 'customer' AS role, CAST(c_custkey AS BIGINT) AS party_key,
      |         CAST(c_nationkey AS INT) AS nation_key, c_acctbal AS acctbal
      |  FROM customer
      |  UNION ALL
      |  SELECT 'supplier', CAST(s_suppkey AS BIGINT), CAST(s_nationkey AS INT), s_acctbal
      |  FROM supplier)
      |ORDER BY role, party_key""".stripMargin

  /** q10: rollup — multi-level aggregation in one pass (the reference
    * recomputes stats per mask level, snapshot.py:226; ROLLUP computes
    * the lattice with a single shuffle).
    */
  def q10RollupStats(spark: SparkSession, dir: String): DataFrame =
    // fanOut: the rollup-expand partial aggregate ran on the scan's
    // single-row-group splits — Tables.fanOut, guide §2.5
    Tables.fanOut(Tables(spark, dir).lineitem
        .select("l_returnflag", "l_linestatus", "l_quantity", "l_orderkey"),
        col("l_orderkey"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        Exact.sumExact(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")

  val q10Sql: String =
    s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       count(*) AS n,
      |       ${Exact.sumSql("l_quantity")} AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** q79: top-k per group through the NATIVE whole-operator path
    * (graft.plans.TopKPerGroupExec via GraftStrategies) — same
    * semantics as q07's window formulation, but the physical plan is
    * one hash exchange + a one-pass bounded heap per key: no
    * per-partition sort of the input, O(n log k) instead of
    * O(n log n). The oracle stays the row_number() formulation, so the
    * gate pins the custom exec to the declarative semantics.
    */
  def q79NativeTopk(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TopK.perGroup(
      Tables(spark, dir).orders.select("o_custkey", "o_orderkey", "o_totalprice"),
      keys = Seq(col("o_custkey")),
      order = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
      k = 3)

  val q79Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      |  FROM orders)
      |WHERE rk <= 3
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** q87 parameters: market segment, order/ship cutoff, result size. */
  val Q87_SEGMENT = "BUILDING"
  val Q87_CUTOFF = "1998-06-01"
  val Q87_TOP = 10

  /** q87: SHIPPING-PRIORITY report (TPC-H Q3 shape) — the classic
    * 3-way star join + grouped revenue + global top-k, the most common
    * "real" analytics plan over this schema: filter the customer dim
    * by segment (broadcast — it is the smallest side), filter orders
    * and lineitem by date AT THE SCAN (both predicates push to
    * parquet), join on the fact keys, aggregate revenue in DECIMAL,
    * and take the top Q87_TOP by revenue. The final cut is an
    * orderBy+limit, which Spark plans as TakeOrderedAndProject —
    * per-partition heaps + one driver merge of Q87_TOP rows, never a
    * full global sort.
    */
  def q87ShipPriority(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val cutoff = lit(Q87_CUTOFF).cast("timestamp")
    val cust = t.customer.filter(col("c_mktsegment") === Q87_SEGMENT)
      .select("c_custkey")
    val ord = t.orders.filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = t.lineitem.filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .agg(Exact.sumExact(
        col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
      .limit(Q87_TOP)
  }

  val q87Sql: String =
    s"""SELECT l_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
      |  ${Exact.sumSql("l_extendedprice * (1 - l_discount)")} AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = '$Q87_SEGMENT'
      |  AND o_orderdate < TIMESTAMP '$Q87_CUTOFF'
      |  AND l_shipdate > TIMESTAMP '$Q87_CUTOFF'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, o_orderdate, l_orderkey
      |LIMIT $Q87_TOP""".stripMargin

  /** q112 date band (one year, TPC-H Q5 convention). */
  val Q112_FROM = "1996-01-01 00:00:00"
  val Q112_TO = "1997-01-01 00:00:00"
  val Q112_REGION = "ASIA"

  /** q112: TPC-H Q5-shaped LOCAL-SUPPLIER REVENUE — revenue per nation
    * within one region and one order-date year, counting only line
    * items whose supplier sits in the customer's own nation. The
    * multi-hop dimension chain (region -> nation -> customer, and
    * nation -> supplier) stays entirely broadcast — the fact table
    * shuffles once for the orders join and never for a dimension; the
    * date filter pushes to the orders scan; the n_name aggregation runs
    * on |nations| keys. The c_nationkey = s_nationkey condition rides
    * the join as an equi-conjunct, not a post-filter.
    */
  def q112RegionalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val nations = t.nation
      .join(broadcast(t.region.filter(col("r_name") === Q112_REGION)),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = t.customer.join(broadcast(nations),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val supp = t.supplier.select("s_suppkey", "s_nationkey")
    val ord = t.orders
      .filter(col("o_orderdate") >= lit(Q112_FROM).cast("timestamp") &&
        col("o_orderdate") < lit(Q112_TO).cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    t.lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        Exact.sumExact(
          col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
  }

  val q112Sql: String =
    s"""SELECT n_name, count(*) AS n_items,
      |  ${Exact.sumSql("l_extendedprice * (1 - l_discount)")} AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = '$Q112_REGION'
      |  AND o_orderdate >= TIMESTAMP '$Q112_FROM'
      |  AND o_orderdate < TIMESTAMP '$Q112_TO'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** q92: MONTH-OVER-MONTH revenue growth per market segment — the
    * time-series report layer: one DECIMAL-exact aggregation collapses
    * the log to |months x segments| rows, and the lag/growth window
    * runs over that tiny table (partitioned by segment — never a
    * log-sized window). The growth ratio is one IEEE division of two
    * decimal-exact sums — bit-identical across engines; months with no
    * predecessor report NULL growth.
    */
  def q92RevenueGrowth(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val monthly = t.orders
      .join(broadcast(t.customer.select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(Exact.sumExact(col("o_totalprice")).as("revenue"))
    val bySeg = Window.partitionBy("segment").orderBy("month")
    monthly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(bySeg))
      .withColumn("growth", col("revenue") / col("prev_revenue"))
      .select("segment", "month", "revenue", "prev_revenue", "growth")
  }

  val q92Sql: String =
    s"""WITH m AS (
      |  SELECT c_mktsegment AS segment, strftime(o_orderdate, '%Y-%m') AS month,
      |    ${Exact.sumSql("o_totalprice")} AS revenue
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2)
      |SELECT segment, month, revenue,
      |  lag(revenue) OVER (PARTITION BY segment ORDER BY month) AS prev_revenue,
      |  revenue / lag(revenue) OVER (PARTITION BY segment ORDER BY month)
      |    AS growth
      |FROM m ORDER BY segment, month""".stripMargin

  /** q93 minimum co-purchase support. */
  val Q93_MIN_SUPPORT = 2

  /** q103 power-iteration rounds. */
  val PAGERANK_ITERS = 5

  /** q103: PAGERANK over the co-purchase graph — part importance via
    * PAGERANK_ITERS power-iteration rounds on q93's affinity edges
    * (the graph-centrality pass of a recommender pipeline). Each round
    * is one shuffle join (ranks x edges on src) + one aggregation on
    * dst — the canonical distributed PageRank; the edge table is
    * eagerly checkpointed so the basket self-join runs once, not once
    * per round.
    *
    * Cross-engine determinism: ranks live in INTEGER micro-units
    * (1e9 = rank 1.0) and each contribution is the integer division
    * (85 * rank) div (100 * deg) — truncation is identical in both
    * engines on nonnegative operands, and integer sums are exact, so
    * after any number of rounds the ranks are bit-equal to the
    * oracle's unrolled-CTE formulation.
    */
  def q103PartPagerank(spark: SparkSession, dir: String): DataFrame = {
    // basket-shaped pair generation (round 9, guide §2.3): one groupBy
    // of lineitem on the order key + in-row pair explode replaces the
    // self-join (one exchange instead of two + two SMJ sorts);
    // collect_set reproduces the old distinct() exactly
    // round 10: pin the pair rollup BEFORE fanning both directions —
    // the old union(pairs, pairs.swapped) evaluated the whole basket
    // build once per reference (4x through deg + edgesD); the explode
    // symmetrization (ConnectedComponents.symmetric) reads the pinned
    // pairs ONCE, and deg (|nodes| rows) pins too so r0 is free
    val pairs = Tables.fanOut(Tables(spark, dir).lineitem
        .select(col("l_orderkey"), col("l_partkey")), col("l_orderkey"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .select(graft.operators.Baskets.pairs(col("parts")).as("p"))
      .groupBy(col("p.u").as("part_a"), col("p.v").as("part_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= Q93_MIN_SUPPORT)
      .transform(graft.operators.Pins.pin)
    val edges = graft.operators.ConnectedComponents
      .symmetric(pairs, "part_a", "part_b")
      .select(col("a").as("src"), col("b").as("dst"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .transform(graft.operators.Pins.pin)
    // hash-partition on src BEFORE the eager checkpoint: LogicalRDD
    // keeps the partitioning, so every iteration's ranks join reuses
    // it and only the |nodes|-sized ranks side shuffles per round
    val edgesD = edges.join(deg, "src")
      .repartition(col("src")).transform(graft.operators.Pins.pin)
    var ranks = deg.select(col("src").as("node"),
      lit(1000000000L).as("rank"))
    for (_ <- 1 to PAGERANK_ITERS) {
      ranks = edgesD.join(ranks, edgesD("src") === ranks("node"))
        .select(col("dst"),
          expr("(85 * rank) div (100 * deg)").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("in_rank"))
        .select(col("dst").as("node"),
          (lit(150000000L) + col("in_rank")).as("rank"))
    }
    ranks.select(col("node").as("part"), col("rank").as("pr_micro"))
  }

  val q103Sql: String = {
    val iter = (1 to PAGERANK_ITERS).map { i =>
      s"""r$i AS (
        |  SELECT e.dst AS node,
        |    CAST(150000000 + sum((85 * r.rank) // (100 * e.deg)) AS BIGINT)
        |      AS rank
        |  FROM ed e JOIN r${i - 1} r ON r.node = e.src
        |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= $Q93_MIN_SUPPORT),
      |edges AS (
      |  SELECT part_a AS src, part_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT part_b AS src, part_a AS dst FROM pairs),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
      |        FROM edges GROUP BY 1),
      |ed AS (SELECT e.src, e.dst, d.deg FROM edges e
      |       JOIN deg d ON d.src = e.src),
      |r0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS rank
      |       FROM deg),
      |$iter
      |SELECT node AS part, rank AS pr_micro FROM r$PAGERANK_ITERS
      |ORDER BY part""".stripMargin
  }

  /** q93: MARKET-BASKET affinity — parts bought together in the same
    * order, with support and lift: the association-rule mining pass of
    * a recommender pipeline. The pair fanout is the WITHIN-ORDER
    * self-join — bounded by lines-per-order (single digits), so the
    * candidate table is O(|orders| x basket²), linear in the log, never
    * |parts|². Lift is an integer-count ratio (support x order count /
    * product of item supports) — deterministic in both engines.
    */
  def q93BasketAffinity(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // basket-shaped (round 9, guide §2.3): one groupBy on the order
    // key feeds BOTH per-part support (basket explode) and the pair
    // fanout (in-row ordered-pair explode) — the old li.distinct()
    // self-join exchanged lineitem three times (distinct + both join
    // sides); the checkpointed basket table is built once
    val baskets = Tables.fanOut(t.lineitem
        .select(col("l_orderkey"), col("l_partkey")), col("l_orderkey"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .transform(graft.operators.Pins.pin)
    val nOrders = broadcast(
      t.orders.agg(count(lit(1)).as("n_orders")))
    val supp = baskets.select(explode(col("parts")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("supp"))
    val pairs = baskets
      .select(graft.operators.Baskets.pairs(col("parts")).as("p"))
      .groupBy(col("p.u").as("part_a"), col("p.v").as("part_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= Q93_MIN_SUPPORT)
    pairs
      .join(supp.select(col("l_partkey").as("part_a"), col("supp").as("supp_a")), "part_a")
      .join(supp.select(col("l_partkey").as("part_b"), col("supp").as("supp_b")), "part_b")
      .crossJoin(nOrders)
      .withColumn("lift",
        col("n_both").cast("double") * col("n_orders") /
          (col("supp_a") * col("supp_b")))
      .select("part_a", "part_b", "n_both", "supp_a", "supp_b", "lift")
  }

  val q93Sql: String =
    s"""WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |supp AS (
      |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS supp FROM li GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_orders FROM orders),
      |pairs AS (
      |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |    count(*) AS n_both
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= $Q93_MIN_SUPPORT)
      |SELECT part_a, part_b, n_both, sa.supp AS supp_a, sb.supp AS supp_b,
      |  CAST(n_both AS DOUBLE) * n.n_orders / (sa.supp * sb.supp) AS lift
      |FROM pairs
      |JOIN supp sa ON sa.l_partkey = part_a
      |JOIN supp sb ON sb.l_partkey = part_b
      |CROSS JOIN n
      |ORDER BY part_a, part_b""".stripMargin

  /** q130 quartile count — RFM scores are 1..4 per dimension. */
  val RFM_TILES = 4

  /** q130: RFM CUSTOMER SEGMENTATION — per customer: last order date
    * (Recency), order count (Frequency), exact decimal spend
    * (Monetary), each scored into global quartiles, concatenated into
    * the classic 3-digit segment code (score 4 = most
    * recent / most frequent / highest spend). The naive formulation is
    * three `ntile(4) OVER (ORDER BY ...)` no-partition windows — three
    * one-task funnels; here each score comes from
    * GlobalRank.withNtile (range-repartition + integer tile
    * arithmetic, identical output to the SQL-standard builtin the
    * oracle uses). Three |customers|-sized range exchanges after one
    * fact-table aggregate.
    */
  def q130RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.GlobalRank
    val perCust = Tables(spark, dir).orders
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("n_orders"),
        Exact.sumExact(col("o_totalprice")).as("total_spent"))
    val r = GlobalRank.withNtile(perCust, "r_score", RFM_TILES,
      col("last_order"), col("c_custkey"))
    val f = GlobalRank.withNtile(r, "f_score", RFM_TILES,
      col("n_orders"), col("c_custkey"))
    val m = GlobalRank.withNtile(f, "m_score", RFM_TILES,
      col("total_spent"), col("c_custkey"))
    m.select(col("c_custkey"),
      date_format(col("last_order"), "yyyy-MM-dd").as("last_order"),
      col("n_orders"), col("total_spent"),
      col("r_score"), col("f_score"), col("m_score"),
      (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
        .as("segment"))
  }

  val q130Sql: String =
    s"""WITH c AS (
      |  SELECT o_custkey AS c_custkey,
      |    max(o_orderdate) AS last_order,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    ${Exact.sumSql("o_totalprice")} AS total_spent
      |  FROM orders GROUP BY o_custkey),
      |s AS (
      |  SELECT c_custkey, last_order, n_orders, total_spent,
      |    CAST(ntile($RFM_TILES) OVER (ORDER BY last_order, c_custkey) AS BIGINT)
      |      AS r_score,
      |    CAST(ntile($RFM_TILES) OVER (ORDER BY n_orders, c_custkey) AS BIGINT)
      |      AS f_score,
      |    CAST(ntile($RFM_TILES) OVER (ORDER BY total_spent, c_custkey) AS BIGINT)
      |      AS m_score
      |  FROM c)
      |SELECT c_custkey,
      |  strftime(last_order, '%Y-%m-%d') AS last_order,
      |  n_orders, total_spent, r_score, f_score, m_score,
      |  r_score * 100 + f_score * 10 + m_score AS segment
      |FROM s ORDER BY c_custkey""".stripMargin

  /** q138: MIN-COST SUPPLIER PER PART (the TPC-H Q2 shape). The
    * textbook formulation is a correlated subquery — "the supplier
    * whose cost equals the minimum cost for that part" — which naive
    * engines run as a self-join of the fact against its own per-part
    * aggregate. Here the groupwise argmin is ONE aggregate:
    * min(struct(cost, suppkey)) picks the cheapest supplier with
    * deterministic lower-suppkey tie-breaking, no join-back, no second
    * fact scan. Unit costs are quantized to integer micro-units (one
    * IEEE multiply-divide chain, identical in both engines) BEFORE the
    * min, so the argmin ordering is an integer compare. The winner rows
    * (|parts|-sized) then broadcast-join the supplier and nation dims
    * for display attributes. Two map-side-combined shuffles
    * ((part,supp) then part) + broadcasts — at 100 TB the fact is
    * scanned once and nothing larger than |parts| is ever exchanged.
    */
  def q138CheapestSupplier(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val perSupp = t.lineitem
      .select(col("l_partkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * lit(1e6) / col("l_quantity") + lit(0.5))
          .cast("long").as("cost_micro"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min("cost_micro").as("cost_micro"))
    val best = perSupp
      .groupBy("l_partkey")
      .agg(min(struct(col("cost_micro"), col("l_suppkey"))).as("b"))
      .select(col("l_partkey").as("p_partkey"),
        col("b.l_suppkey").as("s_suppkey"),
        col("b.cost_micro").as("cost_micro"))
    best
      .join(broadcast(t.supplier.select("s_suppkey", "s_name", "s_nationkey")),
        "s_suppkey")
      .join(broadcast(t.nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select("p_partkey", "s_suppkey", "cost_micro", "s_name", "n_name")
  }

  val q138Sql: String =
    """WITH c AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(floor(l_extendedprice * 1e6 / l_quantity + 0.5) AS BIGINT)
      |      AS cost_micro
      |  FROM lineitem),
      |g AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(min(cost_micro) AS BIGINT) AS cost_micro
      |  FROM c GROUP BY 1, 2),
      |b AS (
      |  SELECT l_partkey, l_suppkey, cost_micro,
      |    row_number() OVER (PARTITION BY l_partkey
      |      ORDER BY cost_micro, l_suppkey) AS rn
      |  FROM g)
      |SELECT b.l_partkey AS p_partkey, b.l_suppkey AS s_suppkey,
      |  b.cost_micro, s.s_name, n.n_name
      |FROM b
      |JOIN supplier s ON s.s_suppkey = b.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |WHERE b.rn = 1
      |ORDER BY p_partkey""".stripMargin

  /** q150: REFERENTIAL-INTEGRITY AUDIT — the data-contract validation
    * a lakehouse runs before publishing a snapshot: every foreign key
    * checked for orphans, reported as (constraint, checked, violations)
    * rows. Each fact is scanned ONCE: its outgoing keys left-join the
    * dimension key columns (all broadcast) in a single chain, and all
    * per-constraint counts fold in ONE conditional aggregate whose
    * 1-row result explodes to the report (the q121/q137 single-pass
    * idiom — 5 constraints cost 3 scans, not 5 anti-joins). Key
    * uniqueness in the dimensions means the left joins cannot multiply
    * rows, so checked counts are exact. At 100 TB the orders side
    * outgrows a broadcast and the same plan degrades gracefully to a
    * shuffle join on the key — or a BloomPrune pre-pass (q127) when
    * violations are rare, which is the production fast path.
    */
  def q150IntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val li = t.lineitem.select("l_orderkey", "l_partkey", "l_suppkey")
      .join(broadcast(t.orders.select(col("o_orderkey"))),
        col("l_orderkey") === col("o_orderkey"), "left")
      .join(broadcast(t.part.select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left")
      .join(broadcast(t.supplier.select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_ord"),
        sum(when(col("p_partkey").isNull, 1L).otherwise(0L)).as("v_part"),
        sum(when(col("s_suppkey").isNull, 1L).otherwise(0L)).as("v_supp"))
    val liRows = li.select(explode(array(
      struct(lit("lineitem.l_orderkey -> orders").as("c"),
        col("n").as("n_checked"), col("v_ord").as("n_violations")),
      struct(lit("lineitem.l_partkey -> part").as("c"),
        col("n").as("n_checked"), col("v_part").as("n_violations")),
      struct(lit("lineitem.l_suppkey -> supplier").as("c"),
        col("n").as("n_checked"), col("v_supp").as("n_violations"))))
      .as("e"))
      .select(col("e.c").as("fk_constraint"), col("e.n_checked"),
        col("e.n_violations"))
    val ordRows = t.orders.select("o_custkey")
      .join(broadcast(t.customer.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
          .as("n_violations"))
      .select(lit("orders.o_custkey -> customer").as("fk_constraint"),
        col("n_checked"), col("n_violations"))
    val custRows = t.customer.select("c_nationkey")
      .join(broadcast(t.nation.select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"), "left")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("n_nationkey").isNull, 1L).otherwise(0L))
          .as("n_violations"))
      .select(lit("customer.c_nationkey -> nation").as("fk_constraint"),
        col("n_checked"), col("n_violations"))
    liRows.unionByName(ordRows).unionByName(custRows)
  }

  val q150Sql: String =
    """WITH li AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ord,
      |    CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_part,
      |    CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_supp
      |  FROM lineitem l
      |  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  LEFT JOIN part p ON l.l_partkey = p.p_partkey
      |  LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey),
      |o AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v
      |  FROM orders ord LEFT JOIN customer c ON ord.o_custkey = c.c_custkey),
      |cu AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN nt.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v
      |  FROM customer cc LEFT JOIN nation nt ON cc.c_nationkey = nt.n_nationkey)
      |SELECT 'lineitem.l_orderkey -> orders' AS fk_constraint, n AS n_checked, v_ord AS n_violations FROM li
      |UNION ALL
      |SELECT 'lineitem.l_partkey -> part', n, v_part FROM li
      |UNION ALL
      |SELECT 'lineitem.l_suppkey -> supplier', n, v_supp FROM li
      |UNION ALL
      |SELECT 'orders.o_custkey -> customer', n, v FROM o
      |UNION ALL
      |SELECT 'customer.c_nationkey -> nation', n, v FROM cu
      |ORDER BY fk_constraint""".stripMargin

  /** q219: FREQUENT TRIPLES (the Apriori 3-itemset step) — part
    * triples co-purchased in at least [[Q93_MIN_SUPPORT]] orders,
    * extending q93's pair affinity one level. The plan is the
    * anti-monotonicity prune that makes Apriori feasible at scale:
    * a triple can only be frequent if ALL THREE of its pairs are, so
    * the within-order triple enumeration (bounded by basket size) is
    * semi-joined against the frequent-pair set on (a,b), (b,c) AND
    * (a,c) BEFORE the counting shuffle — the candidate volume
    * collapses from C(basket,3) x orders to near the true frequent
    * set. The frequent pairs are q93's rollup, checkpointed and
    * reused for all three probes.
    */
  def q219FrequentTriples(spark: SparkSession, dir: String): DataFrame = {
    // basket-shaped (round 9, guide §2.3): the old shape exchanged the
    // distinct (order, part) table FIVE times (distinct + two pair-join
    // sides + two more triple-join sides). One basket groupBy now feeds
    // both the frequent-pair rollup and the in-row triple explode; the
    // anti-monotonicity semi-join prune is unchanged and still runs
    // BEFORE the counting shuffle.
    val baskets = Tables.fanOut(Tables(spark, dir).lineitem
        .select(col("l_orderkey"), col("l_partkey")), col("l_orderkey"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .transform(graft.operators.Pins.pin)
    val f2 = baskets
      .select(graft.operators.Baskets.pairs(col("parts")).as("p"))
      .groupBy(col("p.u").as("x"), col("p.v").as("y"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= Q93_MIN_SUPPORT)
      .select("x", "y")
      .transform(graft.operators.Pins.pin)
    baskets
      .select(graft.operators.Baskets.triples(col("parts")).as("t"))
      .join(f2.as("pab"),
        col("t.u") === col("pab.x") &&
          col("t.v") === col("pab.y"), "left_semi")
      .join(f2.as("pbc"),
        col("t.v") === col("pbc.x") &&
          col("t.w") === col("pbc.y"), "left_semi")
      .join(f2.as("pac"),
        col("t.u") === col("pac.x") &&
          col("t.w") === col("pac.y"), "left_semi")
      .groupBy(col("t.u").as("part_a"),
        col("t.v").as("part_b"), col("t.w").as("part_c"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= Q93_MIN_SUPPORT)
  }

  val q219Sql: String =
    s"""WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |  c.l_partkey AS part_c, count(*) AS support
      |FROM li a
      |JOIN li b ON b.l_orderkey = a.l_orderkey
      |  AND a.l_partkey < b.l_partkey
      |JOIN li c ON c.l_orderkey = a.l_orderkey
      |  AND b.l_partkey < c.l_partkey
      |GROUP BY 1, 2, 3
      |HAVING count(*) >= $Q93_MIN_SUPPORT
      |ORDER BY 1, 2, 3""".stripMargin

  /** q237: HIERARCHICAL CONTRIBUTION ANALYSIS — revenue share of each
    * nation within its region AND of each region within the total, in
    * one report: the drill-down decomposition ("which child drives the
    * parent's number") every BI layer renders. The fact table
    * aggregates ONCE to the nation grain (orders joined to broadcast
    * customer/nation/region dims); both share levels are windows over
    * that ~25-row rollup, and each share is a floor on exact BIGINTs.
    */
  def q237Contribution(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val byRegion = org.apache.spark.sql.expressions.Window
      .partitionBy("r_name")
    val overAll = org.apache.spark.sql.expressions.Window
      .partitionBy()
    val nationRev = t.orders
      .select(col("o_custkey"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("rev_c"))
      .join(broadcast(t.customer.select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum("rev_c").as("rev_c"))
    nationRev
      .select(col("r_name"), col("n_name"), col("rev_c"),
        floor(col("rev_c") * lit(1e6) / sum("rev_c").over(byRegion)
          + lit(0.5)).cast("long").as("nation_in_region_micro"),
        floor(sum("rev_c").over(byRegion) * lit(1e6) /
          sum("rev_c").over(overAll) + lit(0.5)).cast("long")
          .as("region_of_total_micro"))
  }

  val q237Sql: String =
    """WITH nr AS (
      |  SELECT r.r_name, n.n_name,
      |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS rev_c
      |  FROM orders o
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey
      |  JOIN region r ON r.r_regionkey = n.n_regionkey
      |  GROUP BY 1, 2)
      |SELECT r_name, n_name, rev_c,
      |  CAST(floor(rev_c * 1e6 / sum(rev_c) OVER (PARTITION BY r_name) + 0.5)
      |    AS BIGINT) AS nation_in_region_micro,
      |  CAST(floor(sum(rev_c) OVER (PARTITION BY r_name) * 1e6 /
      |    sum(rev_c) OVER () + 0.5) AS BIGINT) AS region_of_total_micro
      |FROM nr ORDER BY r_name, n_name""".stripMargin

  /** q239: ASSOCIATION SIGNIFICANCE — q93's co-purchase pairs upgraded
    * from raw lift to a 2x2 chi-square test per pair: lift says the
    * pair co-occurs more than chance, chi-square says whether the
    * evidence is enough to act on (rare pairs produce huge lifts from
    * tiny counts — the classic basket-analysis trap). The contingency
    * cells (a=both, b=A only, c=B only, d=neither) come from the pair
    * and support rollups q93 already builds; chi2 = N(ad−bc)² /
    * ((a+b)(c+d)(a+c)(b+d)) is computed from exact BIGINTs with the
    * single division last, reported in milli units.
    */
  def q239AssocSignificance(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val li = t.lineitem.select("l_orderkey", "l_partkey").distinct()
      .transform(graft.operators.Pins.pin)
    val nOrders = broadcast(t.orders.agg(count(lit(1)).as("n")))
    val supp = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("supp"))
    li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("part_a"), col("y.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("a"))
      .filter(col("a") >= Q93_MIN_SUPPORT)
      .join(supp.select(col("l_partkey").as("part_a"), col("supp").as("sa")),
        "part_a")
      .join(supp.select(col("l_partkey").as("part_b"), col("supp").as("sb")),
        "part_b")
      .crossJoin(nOrders)
      .select(col("part_a"), col("part_b"), col("a"),
        (col("sa") - col("a")).as("b"), (col("sb") - col("a")).as("c"),
        (col("n") - col("sa") - col("sb") + col("a")).as("d"), col("n"))
      .select(col("part_a"), col("part_b"), col("a").as("n_both"),
        floor(col("n").cast("double") *
          (col("a") * col("d") - col("b") * col("c")) *
          (col("a") * col("d") - col("b") * col("c")) /
          ((col("a") + col("b")) * (col("c") + col("d")) *
            (col("a") + col("c")).cast("double") * (col("b") + col("d"))) *
          lit(1000) + lit(0.5)).cast("long").as("chi2_milli"))
  }

  val q239Sql: String =
    s"""WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
      |supp AS (
      |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS supp FROM li GROUP BY 1),
      |pairs AS (
      |  SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
      |    CAST(count(*) AS BIGINT) AS a
      |  FROM li x JOIN li y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= $Q93_MIN_SUPPORT),
      |cells AS (
      |  SELECT p.part_a, p.part_b, p.a,
      |    sa.supp - p.a AS b, sb.supp - p.a AS c,
      |    n.n - sa.supp - sb.supp + p.a AS d, n.n AS n
      |  FROM pairs p
      |  JOIN supp sa ON sa.l_partkey = p.part_a
      |  JOIN supp sb ON sb.l_partkey = p.part_b
      |  CROSS JOIN n)
      |SELECT part_a, part_b, a AS n_both,
      |  CAST(floor(CAST(n AS DOUBLE) * (a * d - b * c) * (a * d - b * c) /
      |    ((a + b) * (c + d) * CAST(a + c AS DOUBLE) * (b + d)) * 1000 + 0.5)
      |    AS BIGINT) AS chi2_milli
      |FROM cells
      |ORDER BY part_a, part_b""".stripMargin

  /** q286: COHORT LIFETIME-VALUE TRIANGLE — revenue, order count, and
    * active-customer count per (first-order cohort month, months since
    * first order): the cumulative-value complement of q74's retention
    * COUNTS and the table every LTV / payback-period model reads.
    *
    * Scale shape: the customer's first-order month comes from a window
    * MIN over the o_custkey partitioning — the one exchange the query
    * pays; the cohort rollup then reduces to |cohorts x ages| cells
    * (months², independent of order volume) with map-side partials.
    * Month arithmetic is integer (year*12 + month), money is
    * DECIMAL-exact, the distinct-customer count keys on the already
    * co-partitioned custkey.
    */
  def q286CohortLtv(spark: SparkSession, dir: String): DataFrame = {
    def mIdx(c: Column): Column = (year(c) * 12 + month(c)).cast("long")
    val w = Window.partitionBy("o_custkey")
    Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("first_dt", min(col("o_orderdate")).over(w))
      .groupBy(date_format(col("first_dt"), "yyyy-MM").as("cohort"),
        (mIdx(col("o_orderdate")) - mIdx(col("first_dt"))).as("age_months"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        Exact.sumExact(col("o_totalprice"), 2).as("ltv"))
  }

  val q286Sql: String =
    s"""WITH f AS (
      |  SELECT o_custkey, o_orderdate, o_totalprice,
      |    min(o_orderdate) OVER (PARTITION BY o_custkey) AS first_dt
      |  FROM orders)
      |SELECT strftime(first_dt, '%Y-%m') AS cohort,
      |  CAST((year(o_orderdate) * 12 + month(o_orderdate))
      |    - (year(first_dt) * 12 + month(first_dt)) AS BIGINT) AS age_months,
      |  count(*) AS n_orders,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
      |  ${Exact.sumSql("o_totalprice", 2)} AS ltv
      |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q286_cohort_ltv" -> Gate.sorted(q286CohortLtv _, "cohort", "age_months"),
    "q239_assoc_significance" ->
      Gate.sorted(q239AssocSignificance _, "part_a", "part_b"),
    "q237_contribution" -> Gate.sorted(q237Contribution _, "r_name", "n_name"),
    "q219_frequent_triples" ->
      Gate.sorted(q219FrequentTriples _, "part_a", "part_b", "part_c"),
    "q150_integrity_audit" -> Gate.sorted(q150IntegrityAudit _, "fk_constraint"),
    "q138_cheapest_supplier" -> Gate.sorted(q138CheapestSupplier _, "p_partkey"),
    "q130_rfm_segments" -> Gate.sorted(q130RfmSegments _, "c_custkey"),
    "q92_revenue_growth" -> Gate.sorted(q92RevenueGrowth _, "segment", "month"),
    "q93_basket_affinity" -> Gate.sorted(q93BasketAffinity _, "part_a", "part_b"),
    "q103_part_pagerank" -> Gate.sorted(q103PartPagerank _, "part"),
    "q87_ship_priority" -> Gate.sorted(q87ShipPriority _, "l_orderkey"),
    "q112_regional_revenue" -> Gate.sorted(q112RegionalRevenue _, "n_name"),
    "q01_agg_summary" -> (q01AggSummary _),
    "q02_filter_project" -> Gate.sorted(q02FilterProject _, "l_orderkey", "l_linenumber"),
    "q03_join_dims" -> (q03JoinDims _),
    "q04_semi_join" -> Gate.sorted(q04SemiJoin _, "c_custkey"),
    "q05_anti_join" -> Gate.sorted(q05AntiJoin _, "c_custkey"),
    "q06_window_running" -> Gate.sorted(q06WindowRunning _, "l_suppkey", "rn"),
    "q07_topk_per_group" -> (q07TopkPerGroup _),
    "q08_distinct_count" -> (q08DistinctCount _),
    "q09_explode_merge" -> Gate.sorted(q09ExplodeMerge _, "role", "party_key"),
    "q10_rollup_stats" -> (q10RollupStats _),
    "q79_native_topk" -> Gate.sorted(q79NativeTopk _, "o_custkey", "o_orderkey"))

  val oracles: Map[String, String] = Map(
    "q286_cohort_ltv" -> q286Sql,
    "q239_assoc_significance" -> q239Sql,
    "q237_contribution" -> q237Sql,
    "q219_frequent_triples" -> q219Sql,
    "q150_integrity_audit" -> q150Sql,
    "q138_cheapest_supplier" -> q138Sql,
    "q130_rfm_segments" -> q130Sql,
    "q92_revenue_growth" -> q92Sql,
    "q93_basket_affinity" -> q93Sql,
    "q103_part_pagerank" -> q103Sql,
    "q87_ship_priority" -> q87Sql,
    "q112_regional_revenue" -> q112Sql,
    "q01_agg_summary" -> q01Sql,
    "q02_filter_project" -> q02Sql,
    "q03_join_dims" -> q03Sql,
    "q04_semi_join" -> q04Sql,
    "q05_anti_join" -> q05Sql,
    "q06_window_running" -> q06Sql,
    "q07_topk_per_group" -> q07Sql,
    "q08_distinct_count" -> q08Sql,
    "q09_explode_merge" -> q09Sql,
    "q10_rollup_stats" -> q10Sql,
    "q79_native_topk" -> q79Sql)
}
