package graft.queries

import graft.Tables
import graft.operators.Pins
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the co-purchase graph (SURVEY.md §2 q117),
  * complementing q103's PageRank and q53/q63's connected components.
  */
object GraphOps extends QueryModule {

  /** Minimum co-purchase count for an edge — the standard graph-
    * cleaning step that drops one-off co-occurrences; also what keeps
    * the edge set |E| far below the C(basket,2) raw pair volume.
    */
  val TRIANGLE_MIN_SUPPORT = 2

  /** q117: TRIANGLE COUNTING per node over the part co-purchase graph
    * (clustering-coefficient numerator — the classic cohesion metric).
    *
    * Scale shape is the degree-ORIENTED wedge join: every undirected
    * edge is directed from its lower (degree, id) endpoint to the
    * higher, wedges are generated only at each edge's LOW endpoint,
    * and a wedge closes by probing the oriented edge set. Out-degrees
    * under this orientation are O(sqrt(|E|)), so wedge volume is
    * O(|E|^1.5) — the arboricity bound — instead of sum(deg^2) that an
    * id-ordered join pays on skewed degree distributions (a hub of
    * degree d generates d^2 wedges id-ordered but only O(|E|) total
    * degree-ordered). Each triangle is counted exactly once; the
    * per-node counts are the exploded corners of the closed wedges.
    *
    * The (degree, id) order is packed into one long key (deg<<32 | id;
    * ids here are < 2^32 — wider id spaces would compare a struct
    * instead). The DuckDB oracle uses the id-ordered formulation —
    * both enumerate the same triangle set, so the per-node counts are
    * identical.
    */
  def q117TriangleCount(spark: SparkSession, dir: String): DataFrame =
    // undirected edge set, bounded by basket size per order (the q93
    // within-order basket explode), thinned by min support;
    // checkpointed — it feeds degrees, orientation, and the
    // closing-edge probe
    triangleCounts(Pins.pin(coPurchaseEdges(spark, dir)))

  /** Per-node triangle counts over a PINNED edge list — shared by q117
    * and q316 so q316 builds the co-purchase edges once, not twice
    * (round 10, guide §1.2: don't compute things twice).
    */
  private def triangleCounts(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("n"))
      .union(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val keyed = edges
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"),
        (col("du") * lit(4294967296L) + col("u")).as("ku"),
        (col("dv") * lit(4294967296L) + col("v")).as("kv"))
    val oriented = keyed.select(
        when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("src"),
        when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("dst"),
        greatest(col("ku"), col("kv")).as("kd"))
      .transform(Pins.pin)
    val wedges = oriented.select(col("src"), col("dst").as("n1"), col("kd").as("k1"))
      .join(oriented.select(col("src"), col("dst").as("n2"), col("kd").as("k2")), Seq("src"))
      .filter(col("k1") < col("k2"))
    // the closing edge n1—n2 is oriented n1 -> n2 because k1 < k2
    val closed = wedges.join(
      oriented.select(col("src").as("n1"), col("dst").as("n2")), Seq("n1", "n2"))
    closed.select(explode(array(col("src"), col("n1"), col("n2"))).as("p_partkey"))
      .groupBy("p_partkey")
      .agg(count(lit(1)).as("n_triangles"))
  }

  val q117Sql: String =
    s"""WITH e AS (
      |  SELECT a.l_partkey AS a, b.l_partkey AS b
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2
      |  HAVING count(*) >= $TRIANGLE_MIN_SUPPORT),
      |t AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1
      |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
      |pn AS (
      |  SELECT x AS node FROM t
      |  UNION ALL SELECT y FROM t
      |  UNION ALL SELECT z FROM t)
      |SELECT node AS p_partkey, CAST(count(*) AS BIGINT) AS n_triangles
      |FROM pn GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Shared co-purchase edge set (the q117 graph): undirected edges
    * between parts co-occurring in >= [[TRIANGLE_MIN_SUPPORT]] orders.
    *
    * Round-9 shape (guide §2.3/§2.4): the within-order pair fanout is
    * generated from per-order part BASKETS (one groupBy of lineitem on
    * l_orderkey, pairs exploded inside the basket array) instead of the
    * lineitem⋈lineitem self-join on l_orderkey. Same pair multiset —
    * the basket keeps duplicate partkeys and the sorted-array explode
    * emits each (u<v) line pair exactly as the join's a.partkey <
    * b.partkey predicate did — but lineitem crosses the wire ONCE
    * (was: both join sides exchanged + two SMJ sorts), and the pair
    * stream feeds the (u,v) rollup's map-side partial agg directly.
    * Basket size is bounded by lines-per-order, so the per-row explode
    * is O(basket²) with single-digit baskets — the same fanout budget
    * the join paid, minus a full shuffle + two sorts of lineitem.
    */
  private def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    // fanOut BY THE GROUP KEY: the basket aggregate reuses the
    // repartition's hash partitioning (no second exchange), and the
    // collect step runs at full parallelism instead of on the scan's
    // single-row-group split (guide §2.5; collect_list has no
    // reducing partial side, so nothing is lost map-side)
    val li = Tables.fanOut(Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_partkey")), col("l_orderkey"))
    li.groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_partkey"))).as("parts"))
      .select(graft.operators.Baskets.pairs(col("parts")).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= TRIANGLE_MIN_SUPPORT)
      .select("u", "v")
  }

  /** q206: DEGREE DISTRIBUTION + ASSORTATIVITY PROFILE — per log2
    * degree bucket, how many nodes live there and the average degree
    * of their neighbors (the knn(k) curve: rising = assortative hubs
    * link hubs, falling = disassortative hub-and-spoke). This is the
    * structural health check run before any graph algorithm at scale —
    * it decides whether q103/q117 need skew handling. Plan: the edge
    * builder is the q93/q117 within-order self-join (bounded by basket
    * size); degrees are one aggregate; the neighbor-degree average
    * needs each directed endpoint tagged with BOTH endpoint degrees —
    * two hash joins of the edge list against the degree table (each
    * shuffles only (node, degree) pairs); the bucket rollup is tiny.
    * Bucket = floor(log2(degree)): exact at every power of two in both
    * engines (IEEE log2 of 2^k is exact), so no boundary drift. The
    * average is reported in integer micro units from exact BIGINT
    * sums.
    */
  def q206DegreeProfile(spark: SparkSession, dir: String): DataFrame = {
    val edges = Pins.pin(coPurchaseEdges(spark, dir))
    val deg = edges.select(col("u").as("n"))
      .union(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .transform(Pins.pin)
    val directed = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val endpoints = directed
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val nodeBuckets = deg
      .select(floor(log2(col("d"))).cast("long").as("deg_bucket"))
      .groupBy("deg_bucket").agg(count(lit(1)).as("n_nodes"))
    val nbr = endpoints
      .select(floor(log2(col("du"))).cast("long").as("deg_bucket"),
        col("dv"))
      .groupBy("deg_bucket")
      .agg(count(lit(1)).as("n_endpoints"),
        floor(sum("dv") * lit(1e6) / count(lit(1)) + lit(0.5)).cast("long")
          .as("avg_nbr_deg_micro"))
    nodeBuckets.join(nbr, "deg_bucket")
  }

  val q206Sql: String =
    s"""WITH e AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $TRIANGLE_MIN_SUPPORT),
       |deg AS (
       |  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
       |    SELECT u AS n FROM e UNION ALL SELECT v FROM e)
       |  GROUP BY 1),
       |nb AS (
       |  SELECT CAST(floor(log2(d)) AS BIGINT) AS deg_bucket,
       |    count(*) AS n_nodes
       |  FROM deg GROUP BY 1),
       |dir AS (
       |  SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
       |ep AS (
       |  SELECT CAST(floor(log2(du.d)) AS BIGINT) AS deg_bucket,
       |    dv.d AS dv
       |  FROM dir
       |  JOIN deg du ON du.n = dir.u
       |  JOIN deg dv ON dv.n = dir.v),
       |nbr AS (
       |  SELECT deg_bucket, count(*) AS n_endpoints,
       |    CAST(floor(sum(dv) * 1e6 / count(*) + 0.5) AS BIGINT)
       |      AS avg_nbr_deg_micro
       |  FROM ep GROUP BY 1)
       |SELECT nb.deg_bucket, nb.n_nodes, nbr.n_endpoints, nbr.avg_nbr_deg_micro
       |FROM nb JOIN nbr USING (deg_bucket)
       |ORDER BY deg_bucket""".stripMargin

  /** q223 core order and the peel-round bound shared with the oracle.
    * Peeling is idempotent at the fixpoint, so any bound at or above
    * the true round count yields the identical result — the bound only
    * has to be generous (the sf0.01 graph converges in 4).
    */
  val KCORE_K = 2
  val KCORE_MAX_ROUNDS = 12

  /** q223: K-CORE DECOMPOSITION (k = 2) — the maximal subgraph where
    * every node keeps >= k neighbors, by iterative peeling: drop
    * sub-k nodes, recompute degrees, repeat to fixpoint. The standard
    * community/spam-detection core extractor, and the third iterative
    * graph operator next to q103's PageRank and q53's components.
    * Each round is one degree aggregate + two semi-joins, with the
    * edge set eagerly checkpointed so lineage stays flat (the q103
    * discipline); the loop exits on the first no-change round
    * (bounded by [[KCORE_MAX_ROUNDS]], which the oracle unrolls —
    * rounds past the fixpoint are no-ops, so both formulations agree
    * exactly). Emits each surviving node with its in-core degree.
    */
  def q223KCore(spark: SparkSession, dir: String): DataFrame = {
    var edges = Pins.pin(coPurchaseEdges(spark, dir))
    var n = edges.count()
    var rounds = 0
    var converged = false
    while (!converged && rounds < KCORE_MAX_ROUNDS) {
      val keep = edges.select(col("u").as("n"))
        .union(edges.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .filter(col("d") >= KCORE_K)
        .select("n")
      val pruned = Pins.pin(edges
        .join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
        .select("u", "v"))
      val m = pruned.count()
      converged = m == n
      Pins.release(edges)            // superseded round's pin (guide §5)
      edges = pruned; n = m; rounds += 1
    }
    edges.select(col("u").as("p_partkey"))
      .union(edges.select(col("v").as("p_partkey")))
      .groupBy("p_partkey").agg(count(lit(1)).as("core_deg"))
  }

  val q223Sql: String = {
    // MATERIALIZED: each round references its predecessor three times;
    // inlined CTEs would re-evaluate the whole chain exponentially
    val rounds = (1 to KCORE_MAX_ROUNDS).map { i =>
      s"""k$i AS MATERIALIZED (
      |  SELECT n FROM (
      |    SELECT n, count(*) AS d FROM (
      |      SELECT u AS n FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
      |    GROUP BY 1)
      |  WHERE d >= $KCORE_K),
      |e$i AS MATERIALIZED (
      |  SELECT u, v FROM e${i - 1}
      |  WHERE u IN (SELECT n FROM k$i) AND v IN (SELECT n FROM k$i))"""
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2
      |  HAVING count(*) >= $TRIANGLE_MIN_SUPPORT),
      |$rounds
      |SELECT n AS p_partkey, CAST(count(*) AS BIGINT) AS core_deg
      |FROM (SELECT u AS n FROM e$KCORE_MAX_ROUNDS
      |      UNION ALL SELECT v FROM e$KCORE_MAX_ROUNDS)
      |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Hop bound for q271's multi-source BFS. */
  val BFS_MAX_HOPS = 3

  /** Seed selector for q271 — every 97th part id that appears in the
    * co-purchase graph.
    */
  val BFS_SEED_MOD = 97

  /** q271: HOP-BOUNDED MULTI-SOURCE BFS — min hop distance (<= 3) from
    * a seed set over the co-purchase graph, the "neighborhood of X"
    * primitive behind blast-radius, recommendation-radius, and
    * contamination-spread questions.
    *
    * Scale shape is FRONTIER expansion, the Pregel iteration scheme:
    * each hop joins only the CURRENT frontier against the edge list
    * (one key-partitioned shuffle per hop, frontier-sized not
    * graph-sized), new nodes are discovered by an anti-join against
    * the visited set, and both sides are eagerly checkpointed so round
    * k's lineage does not replay rounds 1..k-1. Distances never need
    * a min-merge: a node is assigned exactly once, on the first hop
    * that reaches it — the BFS invariant. The hop bound caps the round
    * count; an unbounded variant would run to frontier exhaustion the
    * way q53's connected components does.
    *
    * The DuckDB oracle unrolls the three hops as materialized CTEs
    * with NOT IN visited-set exclusion — idempotent per hop, so both
    * engines enumerate identical (node, dist) sets.
    */
  def q271BfsHops(spark: SparkSession, dir: String): DataFrame = {
    // undirected: probe both directions with one symmetric edge table
    // (round 10: one-pass symmetrize — the union evaluated e0 twice)
    val edges = graft.operators.ConnectedComponents
      .symmetric(coPurchaseEdges(spark, dir), "u", "v")
      .select(col("a").as("u"), col("b").as("v"))
      .transform(Pins.pin)
    var visited = edges.select(col("u").as("n")).distinct()
      .filter(col("n") % BFS_SEED_MOD === 0)
      .withColumn("dist", lit(0L))
      .transform(Pins.pin)
    var frontier = visited.select("n")
    var hop = 1
    while (hop <= BFS_MAX_HOPS) {
      val next = edges.join(frontier.withColumnRenamed("n", "u"), "u")
        .select(col("v").as("n")).distinct()
        .join(visited.select("n"), Seq("n"), "left_anti")
        .withColumn("dist", lit(hop.toLong))
        .transform(Pins.pin)
      // visited stays a LAZY union of the pinned hop frames (round 10,
      // guide §5): re-checkpointing the union per hop copied every
      // prior hop's rows again — one extra materialization job per hop
      // for data already in the block store
      visited = visited.union(next)
      frontier = next.select("n")
      hop += 1
    }
    visited.withColumnRenamed("n", "p_partkey")
  }

  val q271Sql: String = {
    val hops = (1 to BFS_MAX_HOPS).map { i =>
      val prior = (0 until i).map(j => s"SELECT n FROM f$j").mkString(" UNION ALL ")
      s"""f$i AS MATERIALIZED (
      |  SELECT DISTINCT e.v AS n
      |  FROM edges e JOIN f${i - 1} f ON e.u = f.n
      |  WHERE e.v NOT IN ($prior))"""
    }.mkString(",\n")
    val sel = (0 to BFS_MAX_HOPS)
      .map(i => s"SELECT n AS p_partkey, CAST($i AS BIGINT) AS dist FROM f$i")
      .mkString("\nUNION ALL ")
    s"""WITH e0 AS MATERIALIZED (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2
      |  HAVING count(*) >= $TRIANGLE_MIN_SUPPORT),
      |edges AS MATERIALIZED (
      |  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      |f0 AS MATERIALIZED (
      |  SELECT DISTINCT u AS n FROM edges WHERE u % $BFS_SEED_MOD = 0),
      |$hops
      |$sel
      |ORDER BY p_partkey""".stripMargin
  }

  /** Minimum shared-neighbor count for a q275 candidate pair. */
  val LINK_MIN_COMMON = 2

  /** q275: LINK PREDICTION BY COMMON-NEIGHBOR JACCARD — for every
    * UNLINKED node pair of the co-purchase graph sharing >=
    * [[LINK_MIN_COMMON]] neighbors, the Jaccard overlap of their
    * neighborhoods as an exact integer (common, union) pair — the
    * classic "customers who bought X also bought Y" candidate
    * generator and the baseline every learned link predictor is
    * scored against.
    *
    * Scale shape is WEDGE enumeration, never all pairs: the symmetric
    * edge list self-joins on the shared-neighbor key (one shuffle on
    * w; fanout is sum(deg^2), the same budget q117's triangle count
    * already pays and q206 sanity-checks), the (u,v) rollup counts
    * common neighbors with map-side partial aggregation, existing
    * edges leave via an anti-join on the canonical pair, and degrees
    * attach through two (node, degree) hash joins. The HAVING bound
    * prunes the candidate tail before the expensive joins. Jaccard
    * stays (common, deg_u + deg_v - common) — exact BIGINTs, no float
    * in the gate.
    */
  def q275LinkPredict(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Pins.pin(coPurchaseEdges(spark, dir))
    val edges = e0.select(col("u"), col("v"))
      .union(e0.select(col("v").as("u"), col("u").as("v")))
    val deg = edges.groupBy(col("u").as("n"))
      .agg(count(lit(1)).as("deg"))
    val wedges = edges.as("a").join(edges.as("b"),
        col("a.u") === col("b.u") && col("a.v") < col("b.v"))
      .groupBy(col("a.v").as("x"), col("b.v").as("y"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= LINK_MIN_COMMON)
    wedges.join(e0, col("x") === col("u") && col("y") === col("v"),
        "left_anti")
      .join(deg.select(col("n").as("x"), col("deg").as("deg_x")), "x")
      .join(deg.select(col("n").as("y"), col("deg").as("deg_y")), "y")
      .select(col("x"), col("y"), col("common"),
        (col("deg_x") + col("deg_y") - col("common")).as("union_size"))
  }

  val q275Sql: String =
    s"""WITH e0 AS MATERIALIZED (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2
      |  HAVING count(*) >= $TRIANGLE_MIN_SUPPORT),
      |edges AS MATERIALIZED (
      |  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      |deg AS (SELECT u AS n, count(*) AS deg FROM edges GROUP BY 1),
      |wedges AS (
      |  SELECT a.v AS x, b.v AS y, count(*) AS common
      |  FROM edges a JOIN edges b ON a.u = b.u AND a.v < b.v
      |  GROUP BY 1, 2
      |  HAVING count(*) >= $LINK_MIN_COMMON)
      |SELECT x, y, common, dx.deg + dy.deg - common AS union_size
      |FROM wedges w
      |JOIN deg dx ON dx.n = w.x
      |JOIN deg dy ON dy.n = w.y
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM e0 WHERE e0.u = w.x AND e0.v = w.y)
      |ORDER BY x, y""".stripMargin

  /** Synchronous rounds for q281's label propagation. */
  val LPA_ROUNDS = 2

  /** q281: LABEL-PROPAGATION COMMUNITIES (synchronous LPA, Raghavan et
    * al.) over the co-purchase graph — each node adopts the MOST
    * FREQUENT label among its neighbors, ties broken by the smallest
    * label, for [[LPA_ROUNDS]] synchronous rounds from the identity
    * labeling. Complements q53's connected components (pure
    * reachability) with density-sensitive communities: a bridge edge
    * joins two components but LPA keeps the two dense sides separate
    * because frequency, not reachability, drives adoption.
    *
    * Scale shape: per round, ONE shuffle keyed on the node id — the
    * neighbor-label gather is an equi-join of the (static, eagerly
    * checkpointed) symmetric edge list against the |V|-sized label
    * table, counts partial-aggregate map-side, and the per-node argmax
    * is a bounded window over a node's distinct neighbor labels (<=
    * degree). Synchronous update = labels table swapped wholesale per
    * round, checkpointed so round k's lineage is O(1), the q53/q103
    * iterative discipline. Fixed round count keeps the DuckDB oracle
    * an exact unrolled-CTE replica.
    */
  def q281LabelProp(spark: SparkSession, dir: String): DataFrame = {
    // round 10: one-pass symmetrize — the union evaluated e0 twice
    val edges = graft.operators.ConnectedComponents
      .symmetric(coPurchaseEdges(spark, dir), "u", "v")
      .select(col("a").as("u"), col("b").as("v"))
      .transform(Pins.pin)
    var labels = edges.select(col("u").as("n")).distinct()
      .withColumn("lbl", col("n"))
    (1 to LPA_ROUNDS).foreach { _ =>
      val gathered = edges
        .join(labels.withColumnRenamed("n", "v"), "v")  // v's label -> u
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("u")
        .orderBy(col("c").desc, col("lbl").asc)
      val next = Pins.pin(gathered.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1)
        .select(col("u").as("n"), col("lbl")))
      Pins.release(labels)           // superseded round's pin (guide §5)
      labels = next
    }
    labels.select(col("n").as("p_partkey"), col("lbl").as("community"))
  }

  val q281Sql: String = {
    val rounds = (1 to LPA_ROUNDS).map { i =>
      s"""l$i AS MATERIALIZED (
      |  SELECT n, lbl FROM (
      |    SELECT e.u AS n, l.lbl, count(*) AS c,
      |      row_number() OVER (PARTITION BY e.u
      |        ORDER BY count(*) DESC, l.lbl ASC) AS rk
      |    FROM edges e JOIN l${i - 1} l ON e.v = l.n
      |    GROUP BY e.u, l.lbl)
      |  WHERE rk = 1)"""
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2
      |  HAVING count(*) >= $TRIANGLE_MIN_SUPPORT),
      |edges AS MATERIALIZED (
      |  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      |l0 AS MATERIALIZED (
      |  SELECT DISTINCT u AS n, u AS lbl FROM edges),
      |$rounds
      |SELECT n AS p_partkey, lbl AS community FROM l$LPA_ROUNDS
      |ORDER BY p_partkey""".stripMargin
  }

  /** q316: LOCAL CLUSTERING COEFFICIENT per node — the per-node
    * cohesion metric c(v) = 2·T(v) / (d(v)·(d(v)−1)) that q117's
    * triangle counts exist to feed (community tightness, spam/bot
    * neighborhoods look like low-c hubs). Composition of two library
    * operators: q117's degree-oriented triangle corners (O(|E|^1.5)
    * wedge bound) LEFT-joined onto the degree table, so nodes in zero
    * triangles keep c=0 instead of vanishing. The coefficient is
    * reported in integer micro units via pure BIGINT rounding
    * ((4·T·10⁶ + q) div (2·q), q = d(d−1)) — no float division whose
    * last ulp could differ between engines. Degree-1 nodes (c
    * undefined) report 0 by the d≥2 guard.
    */
  def q316ClusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    // round 10: ONE pinned edge list feeds both the triangle corners
    // and the degree table (was: q117 built + pinned its own edges and
    // this query built the whole co-purchase rollup a second time)
    val edges = Pins.pin(coPurchaseEdges(spark, dir))
    val tri = triangleCounts(edges)
    val deg = edges.select(col("u").as("n"))
      .union(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    deg.join(tri, col("n") === col("p_partkey"), "left")
      .select(col("n").as("p_partkey"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("d") >= 2,
          expr("(4 * coalesce(n_triangles, 0) * 1000000 + d * (d - 1))" +
            " div (2 * d * (d - 1))"))
          .otherwise(lit(0L)).as("coeff_micro"))
  }

  val q316Sql: String =
    s"""WITH e AS (
      |  SELECT a.l_partkey AS a, b.l_partkey AS b
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2
      |  HAVING count(*) >= $TRIANGLE_MIN_SUPPORT),
      |t AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1
      |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
      |pn AS (
      |  SELECT x AS node FROM t
      |  UNION ALL SELECT y FROM t
      |  UNION ALL SELECT z FROM t),
      |tri AS (SELECT node, count(*) AS nt FROM pn GROUP BY 1),
      |deg AS (
      |  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
      |    SELECT a AS n FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY 1)
      |SELECT deg.n AS p_partkey, deg.d AS degree,
      |  CAST(coalesce(tri.nt, 0) AS BIGINT) AS n_triangles,
      |  CAST(CASE WHEN deg.d >= 2 THEN
      |    (4 * coalesce(tri.nt, 0) * 1000000 + deg.d * (deg.d - 1))
      |      // (2 * deg.d * (deg.d - 1))
      |    ELSE 0 END AS BIGINT) AS coeff_micro
      |FROM deg LEFT JOIN tri ON tri.node = deg.n
      |ORDER BY 1""".stripMargin

  /** q365 per-node harmonic weight at distance d (micro of 1/d). */
  val HARMONIC_W: Map[Int, Long] =
    Map(1 -> 1000000L, 2 -> 500000L, 3 -> 333333L)

  /** q365: BOUNDED-HOP HARMONIC CENTRALITY — for each BFS seed (the
    * q271 seed set), H₃(u) = Σ_{d(u,v)≤3} 1/d(u,v): the
    * influence/reachability score that, unlike closeness, is defined
    * on disconnected graphs and, truncated at 3 hops, is the form a
    * 100 TB graph can actually afford (full harmonic is all-pairs
    * BFS). Uses a MULTI-SOURCE frontier keyed by (seed, node) — one
    * BFS sweep for all seeds, not |seeds| sweeps — the q271 iteration
    * with the seed column carried through the anti-join.
    *
    * Determinism: per-distance weights are FIXED micro constants
    * ([[HARMONIC_W]] — note 333333, a per-node constant, NOT
    * floor(n₃·1e6/3), so the score is a pure integer dot product of
    * hop counts). Scale shape: frontiers are |seeds|-bounded edge
    * joins with distinct + anti-join dedup per hop, all keyed
    * shuffles; the count rollup is |seeds|×3.
    */
  def q365HarmonicCentrality(spark: SparkSession, dir: String): DataFrame = {
    // round 10: one-pass symmetrize — the union evaluated e0 twice
    val edges = graft.operators.ConnectedComponents
      .symmetric(coPurchaseEdges(spark, dir), "u", "v")
      .select(col("a").as("u"), col("b").as("v"))
      .transform(Pins.pin)
    var visited = edges.select(col("u").as("n")).distinct()
      .filter(col("n") % BFS_SEED_MOD === 0)
      .select(col("n").as("seed"), col("n"), lit(0).as("dist"))
      .transform(Pins.pin)
    var frontier = visited.select("seed", "n")
    var hop = 1
    while (hop <= BFS_MAX_HOPS) {
      val next = edges
        .join(frontier.withColumnRenamed("n", "u"), "u")
        .select(col("seed"), col("v").as("n")).distinct()
        .join(visited.select("seed", "n"), Seq("seed", "n"), "left_anti")
        .withColumn("dist", lit(hop))
        .transform(Pins.pin)
      // lazy union of pinned hop frames — see q271 (round 10)
      visited = visited.union(next)
      frontier = next.select("seed", "n")
      hop += 1
    }
    val weight = HARMONIC_W.foldLeft(lit(0L)) { case (acc, (d, w)) =>
      when(col("dist") === d, lit(w)).otherwise(acc)
    }
    visited.filter(col("dist") > 0)
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reach"), sum(weight).as("harmonic_micro"))
  }

  val q365Sql: String = {
    val hops = (1 to BFS_MAX_HOPS).map { i =>
      val prior = (0 until i).map(j =>
        s"SELECT seed, n FROM f$j").mkString(" UNION ALL ")
      s"""f$i AS MATERIALIZED (
      |  SELECT DISTINCT f.seed, e.v AS n
      |  FROM edges e JOIN f${i - 1} f ON e.u = f.n
      |  WHERE NOT EXISTS (SELECT 1 FROM ($prior) p
      |                    WHERE p.seed = f.seed AND p.n = e.v))"""
    }.mkString(",\n")
    val sel = (1 to BFS_MAX_HOPS)
      .map(i => s"SELECT seed, n, ${HARMONIC_W(i)} AS w FROM f$i")
      .mkString("\nUNION ALL ")
    s"""WITH e0 AS MATERIALIZED (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2
      |  HAVING count(*) >= $TRIANGLE_MIN_SUPPORT),
      |edges AS MATERIALIZED (
      |  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      |f0 AS MATERIALIZED (
      |  SELECT DISTINCT u AS seed, u AS n FROM edges
      |  WHERE u % $BFS_SEED_MOD = 0),
      |$hops,
      |r AS ($sel)
      |SELECT seed, CAST(count(*) AS BIGINT) AS n_reach,
      |  CAST(sum(w) AS BIGINT) AS harmonic_micro
      |FROM r GROUP BY seed
      |ORDER BY seed""".stripMargin
  }

  /** q385 teleport-set predicate (node % 50 == SEED_MOD) and round
    * count — literals in both engines. */
  val PPR_ITERS = 5
  val PPR_SEED_MOD = 7L

  /** q385: PERSONALIZED PAGERANK — q103's power iteration with the
    * teleport mass restricted to a SEED SET (parts with
    * partkey % 50 == [[PPR_SEED_MOD]]): "importance as seen FROM these
    * products", the recommendation/related-items primitive, where
    * global PageRank answers "importance, period". Same exact-integer
    * scheme as q103 ((85·rank) div (100·deg) per edge, 0.15 of 1e9
    * re-injected — but only at seeds, via a union + re-aggregate so
    * seeds with no in-links keep their mass). Shuffles bounded by
    * |edges| per round; the edge table is hash-partitioned once and
    * checkpointed, so each round moves only the |nodes| rank side.
    */
  def q385PersonalizedPagerank(spark: SparkSession, dir: String)
      : DataFrame = {
    // round 10: pin the pair rollup, then symmetrize in ONE pass —
    // union(pairs, pairs.swapped) evaluated the basket build twice
    // per referencing job (deg checkpoint AND edgesD checkpoint)
    val pairs = Pins.pin(coPurchaseEdges(spark, dir))
    val edges = graft.operators.ConnectedComponents
      .symmetric(pairs, "u", "v")
      .select(col("a").as("src"), col("b").as("dst"))
    // checkpoint the degree table FIRST: seeds and r0 both derive
    // from it, and without the pin each would re-run the co-purchase
    // self-join (measured: 15.0 s -> the q103 price at sf0.1)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .transform(Pins.pin)
    val edgesD = edges.join(deg, "src")
      .repartition(col("src")).transform(Pins.pin)
    val seeds = deg.select(col("src").as("node"))
      .filter(col("node") % 50 === PPR_SEED_MOD)
    var ranks = deg.select(col("src").as("node"),
      when(col("src") % 50 === PPR_SEED_MOD, lit(1000000000L))
        .otherwise(0L).as("rank"))
    for (_ <- 1 to PPR_ITERS) {
      val inRank = edgesD.join(ranks, edgesD("src") === ranks("node"))
        .select(col("dst").as("node"),
          expr("(85 * rank) div (100 * deg)").as("rank"))
      ranks = inRank
        .unionByName(seeds.select(col("node"), lit(150000000L).as("rank")))
        .groupBy("node").agg(sum("rank").as("rank"))
    }
    ranks.select(col("node").as("part"), col("rank").as("ppr_micro"),
      when(col("node") % 50 === PPR_SEED_MOD, 1L).otherwise(0L)
        .as("is_seed"))
  }

  val q385Sql: String = {
    val iter = (1 to PPR_ITERS).map { i =>
      s"""r$i AS (
        |  SELECT node, CAST(sum(rank) AS BIGINT) AS rank FROM (
        |    SELECT e.dst AS node, (85 * r.rank) // (100 * e.deg) AS rank
        |    FROM ed e JOIN r${i - 1} r ON r.node = e.src
        |    UNION ALL
        |    SELECT node, 150000000 FROM seeds)
        |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= $TRIANGLE_MIN_SUPPORT),
      |edges AS (
      |  SELECT u AS src, v AS dst FROM pairs
      |  UNION ALL SELECT v, u FROM pairs),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
      |        FROM edges GROUP BY 1),
      |ed AS (SELECT e.src, e.dst, d.deg FROM edges e
      |       JOIN deg d ON d.src = e.src),
      |seeds AS (SELECT src AS node FROM deg
      |          WHERE src % 50 = $PPR_SEED_MOD),
      |r0 AS (SELECT src AS node,
      |         CAST(CASE WHEN src % 50 = $PPR_SEED_MOD
      |           THEN 1000000000 ELSE 0 END AS BIGINT) AS rank
      |       FROM deg),
      |$iter
      |SELECT node AS part, rank AS ppr_micro,
      |  CAST(CASE WHEN node % 50 = $PPR_SEED_MOD THEN 1 ELSE 0 END
      |    AS BIGINT) AS is_seed
      |FROM r$PPR_ITERS ORDER BY part""".stripMargin
  }

  /** q386: DEGREE ASSORTATIVITY COEFFICIENT — the scalar Pearson
    * correlation of endpoint degrees over directed edges, the single
    * number q206's knn(k) curve summarizes to (r > 0: hubs link hubs;
    * r < 0: hub-and-spoke). All five moments are exact BIGINTs from
    * two hash joins of the directed edge list against the degree
    * table (each moves only (node, degree) pairs); r is one double
    * expression.
    */
  def q386Assortativity(spark: SparkSession, dir: String): DataFrame = {
    // round 10: pin + one-pass symmetrize (was: 4 evaluations of the
    // basket rollup — dirEdges union'd it twice, deg and ep each
    // evaluated dirEdges); deg pins too, it feeds two ep joins
    val pairs = Pins.pin(coPurchaseEdges(spark, dir))
    val dirEdges = graft.operators.ConnectedComponents
      .symmetric(pairs, "u", "v")
      .select(col("a").as("u"), col("b").as("v"))
    val deg = dirEdges.groupBy("u").agg(count(lit(1)).as("d"))
      .transform(Pins.pin)
    val ep = dirEdges
      .join(deg.select(col("u"), col("d").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
    val m = ep.agg(count(lit(1)).as("n"),
      sum("du").as("sx"), sum("dv").as("sy"),
      sum(col("du") * col("du")).as("sxx"),
      sum(col("dv") * col("dv")).as("syy"),
      sum(col("du") * col("dv")).as("sxy"))
    def d(c: String) = col(c).cast("double")
    m.select(col("n").as("n_directed_edges"),
      floor(d("sx") / d("n") * lit(1e6) + lit(0.5)).cast("long")
        .as("mean_deg_micro"),
      floor((d("n") * d("sxy") - d("sx") * d("sy")) /
        sqrt((d("n") * d("sxx") - d("sx") * d("sx")) *
          (d("n") * d("syy") - d("sy") * d("sy"))) * lit(1e6) +
        lit(0.5)).cast("long").as("r_micro"))
  }

  val q386Sql: String =
    s"""WITH pairs AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= $TRIANGLE_MIN_SUPPORT),
      |de AS (
      |  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
      |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d
      |        FROM de GROUP BY 1),
      |ep AS (
      |  SELECT du.d AS du, dv.d AS dv
      |  FROM de JOIN deg du ON du.u = de.u
      |          JOIN deg dv ON dv.u = de.v),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(du) AS BIGINT) AS sx, CAST(sum(dv) AS BIGINT) AS sy,
      |    CAST(sum(du * du) AS BIGINT) AS sxx,
      |    CAST(sum(dv * dv) AS BIGINT) AS syy,
      |    CAST(sum(du * dv) AS BIGINT) AS sxy
      |  FROM ep)
      |SELECT n AS n_directed_edges,
      |  CAST(floor(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) * 1e6 + 0.5)
      |    AS BIGINT) AS mean_deg_micro,
      |  CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |      (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1e6 + 0.5)
      |    AS BIGINT) AS r_micro
      |FROM m""".stripMargin

  /** q415 unrolled hop count and bounded probe set (the q30 bounded-
    * anchor convention: the sketch iteration runs over the WHOLE
    * graph — that is the scale path — but the gated exact comparison
    * touches only the probes, keeping the oracle linear at any SF).
    */
  val ANF_HOPS = 3
  val ANF_PROBE_MAX = 64

  /** q415: ANF / HYPERBALL REACH — the approximate neighborhood
    * function (Palmer et al.'s ANF; Boldi–Vigna's HyperBall): per
    * node, an HLL sketch of its distance-≤h ball, iterated by
    * unioning neighbor sketches for h = 1..[[ANF_HOPS]]. THE
    * scale-out way to ask "how much of the graph is within h hops"
    * (effective diameter, centrality screening) when exact per-node
    * BFS (q271) is quadratic in reach: each round shuffles |E|
    * fixed-size sketches — independent of ball sizes — and the union
    * is associative, so rounds are plain map-side-combinable
    * aggregates over the edge list.
    *
    * Self-loops make balls monotone (each round unions the node's own
    * previous sketch). Gate shape is q260/q295's: the [[ANF_PROBE_MAX]]
    * smallest node ids emit (node, hop, exact reach, within-bound
    * flag); the float estimate never enters the hash, the exact side
    * is a 3-step unrolled join from the bounded probe set, and the
    * oracle asserts the error contract (TRUE) so an estimator
    * regression turns the gate red.
    */
  def q415AnfReach(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.DistinctSketch
    val edges = Pins.pin(coPurchaseEdges(spark, dir))
    val nodes = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node"))).distinct()
    val und = edges.select(col("u").as("node"), col("v").as("nb"))
      .union(edges.select(col("v").as("node"), col("u").as("nb")))
      .union(nodes.select(col("node"), col("node").as("nb")))
      .transform(Pins.pin)
    // ball sketches, one union round per hop over the whole graph.
    // Round 10: pinning each hop's ball table (hop h's plan nests hop
    // h-1's, so the union re-evaluates earlier hops) was tried and
    // MEASURED SLOWER — isolated A/B at driver config 2.92 -> 3.54 s:
    // materializing the binary sketch rows costs more than the saved
    // re-aggregations at this SF — and reverted (the Spark-side
    // hll_sketch_agg rounds are map-side-combined and cheap to replay).
    val lgK = lit(graft.operators.DistinctSketch.LG_K)
    var ball = und.groupBy("node")
      .agg(hll_sketch_agg(col("nb"), lgK).as("sk"))
    val balls = scala.collection.mutable.ArrayBuffer(
      ball.withColumn("hop", lit(1)))
    for (h <- 2 to ANF_HOPS) {
      ball = und.join(ball.withColumnRenamed("node", "nb"), "nb")
        .groupBy("node")
        .agg(hll_union_agg(col("sk"), lit(true)).as("sk"))
      balls += ball.withColumn("hop", lit(h))
    }
    val probes = nodes.orderBy("node").limit(ANF_PROBE_MAX)
      .transform(Pins.pin)
    val est = balls.reduce(_ unionByName _)
      .join(broadcast(probes), "node")
      .select(col("node"), col("hop"),
        hll_sketch_estimate(col("sk")).as("est"))
    // exact balls from the bounded probe set only (per-hop pins tried
    // and reverted with the sketch-side measurement above)
    var exact = und.join(broadcast(probes), "node")
      .select(col("node"), col("nb")).distinct()
    val exacts = scala.collection.mutable.ArrayBuffer(
      exact.withColumn("hop", lit(1)))
    for (h <- 2 to ANF_HOPS) {
      exact = exact
        .join(und.select(col("node").as("mid"), col("nb").as("nxt")),
          col("nb") === col("mid"))
        .select(col("node"), col("nxt").as("nb")).distinct()
      exacts += exact.withColumn("hop", lit(h))
    }
    val nEx = exacts.reduce(_ unionByName _)
      .groupBy("node", "hop").agg(count(lit(1)).as("n_reach"))
    val se3 = 3.0 * 1.04 /
      math.sqrt(math.pow(2.0, graft.operators.DistinctSketch.LG_K))
    est.join(nEx, Seq("node", "hop"))
      .select(col("node"), col("hop").cast("long").as("hop"),
        col("n_reach"),
        (abs(col("est") - col("n_reach")) <=
          greatest(lit(se3) * col("n_reach"), lit(4.0)))
          .as("within_bound"))
  }

  val q415Sql: String = {
    def hopCte(h: Int): String =
      s"""b$h AS (
        |  SELECT DISTINCT p.node, u.nb
        |  FROM b${h - 1} p JOIN und u ON u.node = p.nb)"""
        .stripMargin
    s"""WITH e0 AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |edges AS MATERIALIZED (
      |  SELECT u, v FROM e0 GROUP BY u, v
      |  HAVING count(*) >= $TRIANGLE_MIN_SUPPORT),
      |nodes AS (
      |  SELECT u AS node FROM edges UNION SELECT v FROM edges),
      |und AS MATERIALIZED (
      |  SELECT u AS node, v AS nb FROM edges
      |  UNION SELECT v, u FROM edges
      |  UNION SELECT node, node FROM nodes),
      |probes AS (
      |  SELECT node FROM nodes ORDER BY node LIMIT $ANF_PROBE_MAX),
      |b1 AS (
      |  SELECT DISTINCT u.node, u.nb
      |  FROM und u JOIN probes p ON p.node = u.node),
      |${(2 to ANF_HOPS).map(hopCte).mkString(",\n")},
      |${(1 to ANF_HOPS).map(h =>
        s"""c$h AS (
        |  SELECT node, CAST($h AS BIGINT) AS hop,
        |    CAST(count(*) AS BIGINT) AS n_reach
        |  FROM b$h GROUP BY node)""".stripMargin).mkString(",\n")}
      |SELECT node, hop, n_reach, TRUE AS within_bound
      |FROM (${(1 to ANF_HOPS).map(h => s"SELECT * FROM c$h")
        .mkString("\n  UNION ALL ")})
      |ORDER BY node, hop""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q415_anf_reach" -> Gate.sorted(q415AnfReach _, "node", "hop"),
    "q385_personalized_pagerank" ->
      Gate.sorted(q385PersonalizedPagerank _, "part"),
    "q386_assortativity" -> ((s, d) => q386Assortativity(s, d)),
    "q365_harmonic_centrality" ->
      Gate.sorted(q365HarmonicCentrality _, "seed"),
    "q316_clustering_coeff" -> Gate.sorted(q316ClusteringCoeff _, "p_partkey"),
    "q281_label_prop" -> Gate.sorted(q281LabelProp _, "p_partkey"),
    "q275_link_predict" -> Gate.sorted(q275LinkPredict _, "x", "y"),
    "q117_triangle_count" -> Gate.sorted(q117TriangleCount _, "p_partkey"),
    "q206_degree_profile" -> Gate.sorted(q206DegreeProfile _, "deg_bucket"),
    "q223_kcore" -> Gate.sorted(q223KCore _, "p_partkey"),
    "q271_bfs_hops" -> Gate.sorted(q271BfsHops _, "p_partkey"))

  val oracles: Map[String, String] = Map(
    "q415_anf_reach" -> q415Sql,
    "q385_personalized_pagerank" -> q385Sql,
    "q386_assortativity" -> q386Sql,
    "q365_harmonic_centrality" -> q365Sql,
    "q316_clustering_coeff" -> q316Sql,
    "q281_label_prop" -> q281Sql,
    "q275_link_predict" -> q275Sql,
    "q117_triangle_count" -> q117Sql,
    "q206_degree_profile" -> q206Sql,
    "q223_kcore" -> q223Sql,
    "q271_bfs_hops" -> q271Sql)
}
