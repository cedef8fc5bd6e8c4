package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 batch 8 (non-streaming half): optimizer-statistic and
  * sampling operators.
  */
object PlannerOps extends QueryModule {

  /** q186: SELF-JOIN CARDINALITY ESTIMATE — the cost-based-optimizer
    * statistic behind join planning (and the companion to q157's skew
    * probe): for an equi self-join of events on user_id, the EXACT
    * output cardinality is sum(c_k^2) over the key histogram, the hot
    * key contributes max(c_k)^2 of it, and their ratio is the skew
    * share that decides plain vs salted (q120) execution. ONE
    * map-side-combined count plus a one-row aggregate — the estimate
    * costs a scan, not the join.
    */
  def q186JoinCardinality(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables(spark, dir).events
      .groupBy("user_id").agg(count(lit(1)).as("c"))
    hist.agg(
        count(lit(1)).as("n_keys"),
        sum("c").as("n_rows"),
        sum(col("c") * col("c")).as("join_rows"),
        max("c").as("max_key_rows"))
      .select(col("n_keys"), col("n_rows"), col("join_rows"),
        col("max_key_rows"),
        floor(col("max_key_rows") * col("max_key_rows") * lit(1e6) /
          col("join_rows") + lit(0.5)).cast("long").as("skew_share_micro"))
  }

  val q186Sql: String =
    """WITH h AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1)
      |SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
      |  CAST(sum(c * c) AS BIGINT) AS join_rows,
      |  CAST(max(c) AS BIGINT) AS max_key_rows,
      |  CAST(floor(max(c) * max(c) * 1e6 / sum(c * c) + 0.5) AS BIGINT)
      |    AS skew_share_micro
      |FROM h""".stripMargin

  /** q187 sample size per stratum. */
  val STRATUM_N = 20

  /** q187: FIXED-N STRATIFIED SAMPLE — exactly N docs per language,
    * chosen DETERMINISTICALLY by md5(doc_id) rank (the same
    * seeded-hash idiom as q25's fractional split, but with an exact
    * per-stratum count, which a Bernoulli fraction cannot guarantee).
    * One window per stratum; reproducible on any cluster and any
    * partitioning, so training sets built from it are byte-stable.
    */
  def q187StratifiedFixedN(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables(spark, dir).documents
      .select(col("lang"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= STRATUM_N)
      .select("lang", "rk", "doc_id")
  }

  val q187Sql: String =
    s"""WITH r AS (
      |  SELECT lang, doc_id,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
      |  FROM documents)
      |SELECT lang, rk, doc_id FROM r WHERE rk <= $STRATUM_N
      |ORDER BY lang, rk""".stripMargin

  /** q195: MODE PER GROUP — the most frequent quantity per return
    * flag with a deterministic tie rule (highest count, then smallest
    * value), as ONE groupwise argmax `max(struct(count, -value))` over
    * the (flag, value) rollup — no window, no rank, no second scan of
    * the fact table. The SQL MODE() aggregate, order-stable.
    */
  def q195ModePerGroup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"),
        floor(col("l_quantity") * 100 + lit(0.5)).cast("long").as("qty_c"))
      .agg(count(lit(1)).as("c"))
      .groupBy("l_returnflag")
      .agg(max(struct(col("c"), (-col("qty_c")).as("neg_q"))).as("m"))
      .select(col("l_returnflag"), (-col("m.neg_q")).as("mode_qty_c"),
        col("m.c").as("n_mode"))

  val q195Sql: String =
    """WITH c AS (
      |  SELECT l_returnflag,
      |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
      |    count(*) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (
      |  SELECT l_returnflag, qty_c, c,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY c DESC, qty_c) AS rn
      |  FROM c)
      |SELECT l_returnflag, qty_c AS mode_qty_c, CAST(c AS BIGINT) AS n_mode
      |FROM r WHERE rn = 1 ORDER BY 1""".stripMargin

  /** q196: COLUMN PROFILE in ONE scan — the data-quality pass a
    * Deequ-style contract check runs before publishing a table: per
    * column, null count, blank count (string columns), and EXACT
    * distinct count, all from a single aggregate over the documents
    * table (Spark plans the multi-column DISTINCT aggregates with one
    * Expand — still one scan of the parquet), exploded to one row per
    * column for the report.
    */
  def q196ColumnProfile(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val aggs: Seq[org.apache.spark.sql.Column] =
      Seq(count(lit(1)).as("n")) ++ cols.flatMap { c =>
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
          sum(when(col(c).cast("string") === "", 1L).otherwise(0L))
            .as(s"blank_$c"),
          countDistinct(col(c)).as(s"dist_$c"))
      }
    val one = d.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map { c =>
      struct(lit(c).as("col_name"), col(s"null_$c").as("n_null"),
        col(s"blank_$c").as("n_blank"), col(s"dist_$c").as("n_distinct"))
    }
    one.select(col("n"), explode(array(entries: _*)).as("e"))
      .select(col("e.col_name").as("col_name"), col("n"),
        col("e.n_null").as("n_null"), col("e.n_blank").as("n_blank"),
        col("e.n_distinct").as("n_distinct"))
  }

  val q196Sql: String = {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    cols.map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_null,
         |  CAST(sum(CASE WHEN CAST($c AS VARCHAR) = '' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_blank,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY col_name"
  }

  /** q199: ENGAGEMENT-BREADTH HISTOGRAM — how many users touch
    * exactly k distinct event types: the product-analytics breadth
    * metric behind "power user" definitions. Two bounded aggregates
    * (per-user distinct count on the shared user_id key, then a
    * 5-bucket distribution); nothing wider than |users| ever shuffles.
    */
  def q199BreadthHist(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy("user_id")
      .agg(countDistinct("event_type").as("n_types"))
      .groupBy("n_types")
      .agg(count(lit(1)).as("n_users"))

  val q199Sql: String =
    """WITH u AS (
      |  SELECT user_id, count(DISTINCT event_type) AS n_types
      |  FROM events GROUP BY 1)
      |SELECT CAST(n_types AS BIGINT) AS n_types, count(*) AS n_users
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin

  /** q200: TABLE HEARTBEAT — the operational dashboard row count of
    * every table in one query (the freshness/health panel a pipeline
    * scheduler polls): ten count-only scans (column-pruned to
    * metadata where parquet allows) unioned into a (table, rows)
    * report.
    */
  def q200TableHeartbeat(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val tables: Seq[(String, DataFrame)] = Seq(
      "customer" -> t.customer, "documents" -> t.documents,
      "embeddings" -> t.embeddings, "events" -> t.events,
      "lineitem" -> t.lineitem, "nation" -> t.nation,
      "orders" -> t.orders, "part" -> t.part, "region" -> t.region,
      "supplier" -> t.supplier)
    tables.map { case (name, df) =>
      df.agg(count(lit(1)).as("n_rows")).select(lit(name).as("table_name"),
        col("n_rows"))
    }.reduce(_ unionByName _)
  }

  val q200Sql: String =
    ("region nation customer supplier part orders lineitem events " +
      "documents embeddings").split(" ").map { t =>
      s"SELECT '$t' AS table_name, count(*) AS n_rows FROM $t"
    }.mkString("\nUNION ALL\n") + "\nORDER BY table_name"

  /** q232 simulated change feed: orders in md5 buckets below this
    * percentage are "late-arriving updates" (the q50 deterministic
    * bucket idiom — reproducible, no RNG).
    */
  val INVALIDATE_PCT = 5L

  /** q232: INCREMENTAL-VIEW INVALIDATION PLAN — given a batch of
    * changed orders, which partitions of the month-grain revenue
    * rollup must recompute, and how much work each costs. This is the
    * planning step between CDC ingestion (q126) and incremental
    * maintenance (q124): a materialization engine uses exactly this
    * partition-impact report to schedule refreshes. The changed keys
    * prune DOWN the plan: affected months come from the (small)
    * changed set, and the recompute cost is counted by joining the
    * fact table against the affected-month list — a broadcast semi —
    * so the plan's cost scales with the CHANGE volume, not the table.
    */
  def q232InvalidationPlan(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val orders = t.orders.select(col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM").as("month"),
      (conv(substring(md5(col("o_orderkey").cast("string")), 1, 6), 16, 10)
        .cast("long") % 100 < INVALIDATE_PCT).as("changed"))
      .transform(graft.operators.Pins.pin)
    val affected = orders.filter(col("changed"))
      .groupBy("month").agg(count(lit(1)).as("n_changed_orders"))
    val monthTotals = orders.groupBy("month")
      .agg(count(lit(1)).as("n_month_orders"))
    val liCost = t.lineitem.select("l_orderkey")
      .join(orders.select("o_orderkey", "month"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(affected.select("month")), Seq("month"), "left_semi")
      .groupBy("month").agg(count(lit(1)).as("recompute_rows"))
    affected.join(monthTotals, "month").join(liCost, "month")
      .select(col("month"), col("n_changed_orders"), col("n_month_orders"),
        col("recompute_rows"),
        floor(col("n_changed_orders") * lit(1e6) / col("n_month_orders")
          + lit(0.5)).cast("long").as("churn_micro"))
  }

  val q232Sql: String =
    s"""WITH o AS (
      |  SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6) AS BIGINT)
      |      % 100 < $INVALIDATE_PCT AS changed
      |  FROM orders),
      |aff AS (
      |  SELECT month, count(*) AS n_changed_orders
      |  FROM o WHERE changed GROUP BY 1),
      |tot AS (SELECT month, count(*) AS n_month_orders FROM o GROUP BY 1),
      |cost AS (
      |  SELECT o.month, count(*) AS recompute_rows
      |  FROM lineitem l
      |  JOIN o ON o.o_orderkey = l.l_orderkey
      |  WHERE o.month IN (SELECT month FROM aff)
      |  GROUP BY 1)
      |SELECT a.month, a.n_changed_orders, t.n_month_orders, c.recompute_rows,
      |  CAST(floor(a.n_changed_orders * 1e6 / t.n_month_orders + 0.5)
      |    AS BIGINT) AS churn_micro
      |FROM aff a JOIN tot t USING (month) JOIN cost c USING (month)
      |ORDER BY month""".stripMargin

  /** q242 sizing literals: estimated bytes per shuffled row and the
    * per-partition byte target (test-scale; production uses the same
    * plan with ~128 MB — the q179 discipline of scale-free shapes with
    * scale-appropriate constants).
    */
  val ADV_ROW_BYTES = 64L
  val ADV_TARGET_BYTES = 1L << 20

  /** q242: SHUFFLE-PARTITION ADVISOR — the sizing decision AQE makes
    * at runtime, computed AHEAD of the job from the key histogram (the
    * q186/q157 statistics): how many partitions hold the shuffle at
    * the byte target, and what salt factor the hottest key needs so
    * no single task exceeds it (the q120 salted-join parameter, here
    * DERIVED from data instead of guessed). One aggregate over the
    * key histogram; the hottest key is an exact argmax via the packed
    * count·2³²−key ordering. Pure integer ceil-divisions.
    */
  def q242ShuffleAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables(spark, dir).events
      .groupBy("user_id").agg(count(lit(1)).as("c"))
    hist.agg(
      sum("c").as("n_rows"), count(lit(1)).as("n_keys"),
      max(col("c") * lit(4294967296L) - col("user_id")).as("hk"))
      .select(col("n_rows"), col("n_keys"),
        expr("(hk + 4294967295) div 4294967296").as("hot_rows"),
        (expr("(hk + 4294967295) div 4294967296") * lit(4294967296L) -
          col("hk")).as("hot_key"),
        expr(s"(n_rows * $ADV_ROW_BYTES + $ADV_TARGET_BYTES - 1)" +
          s" div $ADV_TARGET_BYTES").as("suggested_partitions"))
      .withColumn("rows_per_partition",
        expr("(n_rows + suggested_partitions - 1) div suggested_partitions"))
      .withColumn("salt_factor",
        expr("(hot_rows + rows_per_partition - 1) div rows_per_partition"))
  }

  val q242Sql: String =
    s"""WITH h AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |a AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n_rows,
      |    CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(max(c * 4294967296 - user_id) AS BIGINT) AS hk
      |  FROM h),
      |b AS (
      |  SELECT n_rows, n_keys,
      |    (hk + 4294967295) // 4294967296 AS hot_rows,
      |    ((hk + 4294967295) // 4294967296) * 4294967296 - hk AS hot_key,
      |    (n_rows * $ADV_ROW_BYTES + $ADV_TARGET_BYTES - 1)
      |      // $ADV_TARGET_BYTES AS suggested_partitions
      |  FROM a),
      |c AS (
      |  SELECT *, (n_rows + suggested_partitions - 1) // suggested_partitions
      |    AS rows_per_partition
      |  FROM b)
      |SELECT n_rows, n_keys, hot_rows, hot_key, suggested_partitions,
      |  rows_per_partition,
      |  (hot_rows + rows_per_partition - 1) // rows_per_partition
      |    AS salt_factor
      |FROM c""".stripMargin

  /** q245: CROSS-TABLE SKEW ATLAS — the q157/q186 key statistics for
    * every fact table's natural join key in ONE report: rows, distinct
    * keys, the hottest key's share, and the p99-to-mean concentration
    * ratio. This is the first page of a cluster-sizing review — which
    * exchanges need salting (q120/q242) before anything runs. Each
    * table contributes one key-histogram aggregate (map-side
    * combined); the report rows are 1-row rollups of those histograms
    * unioned together — no table is scanned twice.
    */
  def q245SkewAtlas(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    def stats(df: DataFrame, table: String, key: String): DataFrame =
      df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
        .agg(sum("c").as("n_rows"), count(lit(1)).as("n_keys"),
          max("c").as("hot_rows"))
        .select(lit(table).as("table_name"), lit(key).as("key_col"),
          col("n_rows"), col("n_keys"), col("hot_rows"),
          floor(col("hot_rows") * lit(1e6) / col("n_rows") + lit(0.5))
            .cast("long").as("hot_share_micro"),
          floor(col("hot_rows") * col("n_keys").cast("double") /
            col("n_rows") * lit(1000) + lit(0.5)).cast("long")
            .as("hot_vs_mean_milli"))
    stats(t.lineitem, "lineitem", "l_orderkey")
      .unionAll(stats(t.orders, "orders", "o_custkey"))
      .unionAll(stats(t.events, "events", "user_id"))
      .unionAll(stats(t.documents, "documents", "source"))
      .unionAll(stats(t.embeddings, "embeddings", "label"))
  }

  val q245Sql: String = {
    def stats(table: String, key: String): String =
      s"""SELECT '$table' AS table_name, '$key' AS key_col,
      |  CAST(sum(c) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_keys,
      |  CAST(max(c) AS BIGINT) AS hot_rows,
      |  CAST(floor(max(c) * 1e6 / sum(c) + 0.5) AS BIGINT)
      |    AS hot_share_micro,
      |  CAST(floor(max(c) * CAST(count(*) AS DOUBLE) / sum(c) * 1000 + 0.5)
      |    AS BIGINT) AS hot_vs_mean_milli
      |FROM (SELECT $key, CAST(count(*) AS BIGINT) AS c FROM $table
      |      GROUP BY 1)"""
    s"""${stats("lineitem", "l_orderkey")}
      |UNION ALL
      |${stats("orders", "o_custkey")}
      |UNION ALL
      |${stats("events", "user_id")}
      |UNION ALL
      |${stats("documents", "source")}
      |UNION ALL
      |${stats("embeddings", "label")}
      |ORDER BY table_name""".stripMargin
  }

  /** q252: STATISTICS-DRIVEN JOIN DISPATCH, driver-gated — the
    * previously spec-only operators/JoinDispatch.scala run end-to-end:
    * probe both sides (one aggregate each), choose the physical
    * strategy a 1000-executor cluster would want, execute it, and
    * emit the rollup WITH the chosen strategy as a column. The oracle
    * replicates the choice rule in SQL over the same counts
    * (dim.rows <= broadcastMaxRows -> BroadcastDim here), so the gate
    * covers the DECISION, not just the join's rows — a strategy
    * regression flips the column and goes red.
    */
  def q252DispatchJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val fact = t.orders.select(col("o_custkey").as("k"), col("o_totalprice"))
    val dim = t.customer.select(col("c_custkey").as("k"), col("c_mktsegment"))
    val (joined, strat) = graft.operators.JoinDispatch.join(fact, dim, "k")
    joined.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.Exact.sumExact(col("o_totalprice")).as("revenue"))
      .withColumn("strategy", lit(strat.toString))
  }

  val q252Sql: String =
    s"""SELECT c_mktsegment, count(*) AS n_orders,
      |  ${graft.functions.Exact.sumSql("o_totalprice")} AS revenue,
      |  CASE WHEN (SELECT count(*) FROM customer) <= 1000000
      |       THEN 'BroadcastDim' ELSE 'PlainShuffle' END AS strategy
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q264: CBO JOIN-ESTIMATE EVALUATION — the textbook uniform-
    * assumption join cardinality estimator (|A ⋈ B| ~= |A|x|B| /
    * max(d_A, d_B), the formula every System-R descendant plans with)
    * computed from one-aggregate probes for the schema's three natural
    * joins, next to the ACTUAL join size — the estimator-quality
    * report a planner regression suite watches. All integer
    * arithmetic at gate scale (the BIGINT product is exact to ~9e18;
    * production rescales in decimal); probes are map-side-combined
    * single aggregates, the actuals are the joins themselves.
    */
  def q264CboEstimate(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    def one(name: String, a: DataFrame, ka: String,
            b: DataFrame, kb: String): DataFrame = {
      val sa = a.agg(count(lit(1)).as("rows_a"),
        countDistinct(col(ka)).as("d_a"))
      val sb = b.agg(count(lit(1)).as("rows_b"),
        countDistinct(col(kb)).as("d_b"))
      val actual = a.join(b, col(ka) === col(kb))
        .agg(count(lit(1)).as("actual"))
      sa.crossJoin(sb).crossJoin(actual)
        .select(lit(name).as("join_name"), col("rows_a"), col("d_a"),
          col("rows_b"), col("d_b"),
          (col("rows_a") * col("rows_b") / greatest(col("d_a"), col("d_b")))
            .cast("long").as("est"),
          col("actual"))
    }
    one("customer_orders", t.customer, "c_custkey", t.orders, "o_custkey")
      .unionByName(one("orders_lineitem",
        t.orders, "o_orderkey", t.lineitem, "l_orderkey"))
      .unionByName(one("part_lineitem",
        t.part, "p_partkey", t.lineitem, "l_partkey"))
  }

  val q264Sql: String = {
    def one(name: String, ta: String, ka: String, tb: String, kb: String) =
      s"""SELECT '$name' AS join_name,
        |  (SELECT count(*) FROM $ta) AS rows_a,
        |  (SELECT CAST(count(DISTINCT $ka) AS BIGINT) FROM $ta) AS d_a,
        |  (SELECT count(*) FROM $tb) AS rows_b,
        |  (SELECT CAST(count(DISTINCT $kb) AS BIGINT) FROM $tb) AS d_b,
        |  CAST(floor((SELECT count(*) FROM $ta) * (SELECT count(*) FROM $tb)
        |    / greatest((SELECT count(DISTINCT $ka) FROM $ta),
        |               (SELECT count(DISTINCT $kb) FROM $tb))) AS BIGINT)
        |    AS est,
        |  (SELECT count(*) FROM $ta JOIN $tb ON $ka = $kb) AS actual"""
        .stripMargin
    Seq(
      one("customer_orders", "customer", "c_custkey", "orders", "o_custkey"),
      one("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
      one("part_lineitem", "part", "p_partkey", "lineitem", "l_partkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY join_name")
  }

  /** q300 histogram resolution (buckets over the shared key domain). */
  val HIST_B = 8L

  /** q300: HISTOGRAM-BASED JOIN-CARDINALITY ESTIMATION — the next rung
    * up from q264's uniform assumption: an equi-width histogram over
    * the shared custkey domain, per-bucket (rows, distinct) statistics
    * on BOTH join sides, the per-bucket containment estimate
    * |A_b||B_b| / max(d_Ab, d_Bb), and the per-bucket ACTUAL join size
    * — the report that shows exactly where uniform CBO mis-estimates
    * (skewed buckets) and histogram CBO recovers.
    *
    * Exactness: bucket ids are integer div on BIGINTs; estimates are
    * floor-divided BIGINT products; actuals are exact per-key count
    * products — integers end-to-end.
    *
    * Scale shape: the domain bounds are a 1-row broadcast scalar; both
    * histogram passes are map-side-combined aggregates bounded by
    * [[HIST_B]]; the actual is the one honest cost (a per-key count
    * aggregate + |keys|-bounded join — never the fact×fact join
    * itself, the row-product identity Σ n_A(k)·n_B(k) computes it
    * from counts).
    */
  def q300HistogramCbo(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val bounds = t.customer.agg(min(col("c_custkey")).as("klo"),
      max(col("c_custkey")).as("khi"))
    def bucket(k: Column): Column =
      expr(s"((k - klo) * $HIST_B) div (khi - klo + 1)")
    def hist(df: DataFrame, key: String, pfx: String): DataFrame =
      df.select(col(key).as("k")).crossJoin(broadcast(bounds))
        .select(bucket(col("k")).as("bucket"), col("k"))
        .groupBy("bucket")
        .agg(count(lit(1)).as(s"n_$pfx"),
          countDistinct(col("k")).as(s"d_$pfx"))
    val hc = hist(t.customer, "c_custkey", "cust")
    val ho = hist(t.orders, "o_custkey", "ord")
    val perKey = t.orders.groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("n_o"))
      .join(t.customer.groupBy(col("c_custkey").as("k"))
        .agg(count(lit(1)).as("n_c")), "k")
      .crossJoin(broadcast(bounds))
      .select(bucket(col("k")).as("bucket"),
        (col("n_o") * col("n_c")).as("prod"))
      .groupBy("bucket").agg(sum("prod").as("actual"))
    hc.join(ho, Seq("bucket"), "left")
      .join(perKey, Seq("bucket"), "left")
      .select(col("bucket"),
        col("n_cust"), col("d_cust"),
        coalesce(col("n_ord"), lit(0L)).as("n_ord"),
        coalesce(col("d_ord"), lit(0L)).as("d_ord"),
        coalesce(expr("(n_ord * n_cust) div greatest(d_ord, d_cust)"),
          lit(0L)).as("est"),
        coalesce(col("actual"), lit(0L)).as("actual"))
  }

  val q300Sql: String =
    s"""WITH bounds AS (
      |  SELECT min(c_custkey) AS klo, max(c_custkey) AS khi FROM customer),
      |hc AS (
      |  SELECT ((c_custkey - klo) * $HIST_B) // (khi - klo + 1) AS bucket,
      |    count(*) AS n_cust, CAST(count(DISTINCT c_custkey) AS BIGINT)
      |      AS d_cust
      |  FROM customer, bounds GROUP BY 1),
      |ho AS (
      |  SELECT ((o_custkey - klo) * $HIST_B) // (khi - klo + 1) AS bucket,
      |    count(*) AS n_ord, CAST(count(DISTINCT o_custkey) AS BIGINT)
      |      AS d_ord
      |  FROM orders, bounds GROUP BY 1),
      |actual AS (
      |  SELECT ((k - klo) * $HIST_B) // (khi - klo + 1) AS bucket,
      |    CAST(sum(n_o * n_c) AS BIGINT) AS actual
      |  FROM (
      |    SELECT o.k, o.n_o, c.n_c FROM
      |      (SELECT o_custkey AS k, count(*) AS n_o FROM orders GROUP BY 1) o
      |      JOIN
      |      (SELECT c_custkey AS k, count(*) AS n_c FROM customer GROUP BY 1) c
      |      USING (k)), bounds
      |  GROUP BY 1)
      |SELECT hc.bucket, hc.n_cust, hc.d_cust,
      |  coalesce(ho.n_ord, 0) AS n_ord,
      |  coalesce(ho.d_ord, 0) AS d_ord,
      |  coalesce((ho.n_ord * hc.n_cust) // greatest(ho.d_ord, hc.d_cust), 0)
      |    AS est,
      |  coalesce(actual.actual, 0) AS actual
      |FROM hc LEFT JOIN ho USING (bucket) LEFT JOIN actual USING (bucket)
      |ORDER BY hc.bucket""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q300_histogram_cbo" -> Gate.sorted(q300HistogramCbo _, "bucket"),
    "q264_cbo_estimate" -> Gate.sorted(q264CboEstimate _, "join_name"),
    "q252_dispatch_join" -> Gate.sorted(q252DispatchJoin _, "c_mktsegment"),
    "q245_skew_atlas" -> Gate.sorted(q245SkewAtlas _, "table_name"),
    "q242_shuffle_advisor" -> ((s, d) => q242ShuffleAdvisor(s, d)),
    "q232_invalidation_plan" -> Gate.sorted(q232InvalidationPlan _, "month"),
    "q199_breadth_hist" -> Gate.sorted(q199BreadthHist _, "n_types"),
    "q200_table_heartbeat" -> Gate.sorted(q200TableHeartbeat _, "table_name"),
    "q195_mode_per_group" -> Gate.sorted(q195ModePerGroup _, "l_returnflag"),
    "q196_column_profile" -> Gate.sorted(q196ColumnProfile _, "col_name"),
    "q186_join_cardinality" -> ((s, d) => q186JoinCardinality(s, d)),
    "q187_stratified_fixed_n" -> Gate.sorted(q187StratifiedFixedN _, "lang", "rk"))

  val oracles: Map[String, String] = Map(
    "q300_histogram_cbo" -> q300Sql,
    "q264_cbo_estimate" -> q264Sql,
    "q252_dispatch_join" -> q252Sql,
    "q245_skew_atlas" -> q245Sql,
    "q242_shuffle_advisor" -> q242Sql,
    "q232_invalidation_plan" -> q232Sql,
    "q199_breadth_hist" -> q199Sql,
    "q200_table_heartbeat" -> q200Sql,
    "q195_mode_per_group" -> q195Sql,
    "q196_column_profile" -> q196Sql,
    "q186_join_cardinality" -> q186Sql,
    "q187_stratified_fixed_n" -> q187Sql)
}
