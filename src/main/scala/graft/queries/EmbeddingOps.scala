package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity-search operators (SURVEY.md §2 q30–q31).
  *
  * q30 is the correctness baseline: brute-force cosine top-k for a
  * bounded query set (query-set x corpus, never corpus x corpus). q31
  * is the scale path: random-hyperplane LSH buckets the corpus so each
  * query only scores its own bucket — at 100 TB the bucket id becomes
  * the shuffle/partition key and the per-bucket join replaces the full
  * cross product.
  *
  * The dot products are higher-order array folds (zip_with + aggregate)
  * — codegen'd, no UDF. A custom Catalyst expression with doGenCode is
  * the planned upgrade (SURVEY §7 step 7).
  */
object EmbeddingOps extends QueryModule {

  val TOP_K = 5
  /** Fixed query-set size: the first NUM_QUERIES vec_ids. A CONSTANT,
    * not a fraction of the corpus — so the broadcast query side is
    * O(NUM_QUERIES * dim) bytes at every corpus scale (a percentage
    * query set would grow to terabytes at 100 TB and kill the
    * executors). An external workload would supply its own bounded
    * query table here.
    */
  val NUM_QUERIES = 20
  val NUM_PLANES = 4          // hyperplanes for the FIXED control (q412) only
  val NUM_TABLES = 8          // independent hash tables (candidate union)

  /** Sized-LSH target bucket population: the hyperplane count is chosen
    * per corpus so the EXPECTED bucket holds ~this many vectors
    * regardless of corpus size (the q63 sizing rule applied to the LSH
    * code length). With planes fixed (the round-8 shape, NUM_PLANES=4)
    * bucket population grows ∝N and the q40 self-join's candidate
    * pairs grow ∝N² — measured 12.0× on 10× data; with the sized rule
    * pairs are ~N × POP/2 — linear. q31/q243's per-query candidate
    * fraction likewise stays ~POP instead of ∝N.
    */
  val LSH_TARGET_POP = 32L

  /** Upper bound on the sized plane count — 2^30 × POP covers 3e10
    * vectors; also the oracle's generate_series bound, so both engines
    * agree on the sizing domain.
    */
  val MAX_LSH_PLANES = 30

  /** Smallest p ≥ 1 with 2^p × [[LSH_TARGET_POP]] ≥ n — integer-exact,
    * replayed verbatim by the oracles' `nplanes` CTE (min over a
    * generate_series of shifts — no float log2 whose boundary could
    * drift between engines).
    */
  def sizedPlanes(n: Long): Int = {
    var g = 1
    while (g < MAX_LSH_PLANES && (1L << g) * LSH_TARGET_POP < n) g += 1
    g
  }

  /** Cosine similarity between two array<float> columns: the native
    * codegen'd Catalyst expression (graft.plans.CosineSimilarity).
    * Double left-to-right accumulation, same fold order as DuckDB's
    * list functions — oracle-comparable bit-for-bit.
    */
  def cosine(a: Column, b: Column): Column =
    graft.plans.CosineSimilarity(a, b)

  /** q30: brute-force cosine top-k — every query vector scored against
    * the full corpus, rank by similarity. The corpus side broadcasts
    * the (tiny) query set, so the scan is one pass, no shuffle until
    * the per-query top-k aggregate.
    */
  def q30EmbeddingTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val queries = emb.filter(col("vec_id") < NUM_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOP_K)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  val q30Sql: String =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
      |  WHERE vec_id < $NUM_QUERIES),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    list_sum(list_transform(generate_series(1, len(e.embedding)),
      |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      |  FROM embeddings e, q WHERE e.vec_id != q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id AS neighbor_id
      |FROM ranked WHERE rank <= $TOP_K
      |ORDER BY query_id, rank""".stripMargin

  /** Embedding dimensionality of the corpus (driver test tables). */
  val EMB_DIM = 64

  /** Deterministic pseudo-random hyperplane for (table, plane):
    * md5-derived weights in [-1, 1), materialized ONCE on the driver
    * and embedded as a literal array — constant-folded by Catalyst, so
    * the per-row work is a single zip_with dot product, not EMB_DIM
    * md5 calls. No RNG state: every executor (and every rerun) gets
    * identical planes with zero coordination.
    */
  private def planeWeights(table: Int, plane: Int): Seq[Double] = {
    def w(d: Int): Double = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s"t${table}p$plane:$d".getBytes("UTF-8"))
      val v = ((dig(0) & 0xffL) << 16) | ((dig(1) & 0xffL) << 8) | (dig(2) & 0xffL)
      ((v % 2000) - 1000).toDouble / 1000.0
    }
    (0 until EMB_DIM).map(w)
  }

  /** All table buckets in one fused native pass (tables x planes
    * separate HOF folds are interpreted per element; the weight matrix
    * is driver-materialized and shipped once with the expression).
    * `planes` is the SIZED code length ([[sizedPlanes]]) for the
    * default entries, [[NUM_PLANES]] for the fixed control.
    */
  private def allBuckets(emb: Column, planes: Int): Column = {
    val weights = Array.tabulate(NUM_TABLES * planes) { i =>
      planeWeights(i / planes, i % planes).toArray
    }
    graft.plans.HyperplaneBuckets(emb, weights, NUM_TABLES, planes)
  }

  /** Oracle CTE pair replaying the SIZED plane configuration: `nplanes`
    * re-derives [[sizedPlanes]] from count(*) integer-exact, and
    * `planes` regenerates the md5-derived weights IN SQL — the same
    * first-3-digest-bytes construction as [[planeWeights]] (md5 hex is
    * engine-independent; the hex→int cast was verified to match the
    * byte arithmetic bit-for-bit), so the oracle follows the sized code
    * length at ANY scale factor without literal tables.
    */
  private def sizedPlanesSql: String =
    s"""nplanes AS (
      |  SELECT min(g) AS pl
      |  FROM generate_series(1, $MAX_LSH_PLANES) t(g),
      |       (SELECT count(*) AS n FROM embeddings) c
      |  WHERE (CAST(1 AS BIGINT) << g) * $LSH_TARGET_POP >= c.n),
      |planes AS (
      |  SELECT tt.t AS table_id, pp.p AS plane,
      |    list_transform(generate_series(0, ${EMB_DIM - 1}), d ->
      |      (CAST(concat('0x', substr(md5(concat('t', tt.t, 'p', pp.p, ':', d)), 1, 6)) AS BIGINT)
      |       % 2000 - 1000) / 1000.0) AS wts
      |  FROM generate_series(0, ${NUM_TABLES - 1}) tt(t),
      |       generate_series(0, ${MAX_LSH_PLANES - 1}) pp(p), nplanes
      |  WHERE pp.p < nplanes.pl)""".stripMargin

  /** q31: multi-table random-hyperplane LSH ANN — NUM_TABLES
    * independent bucket ids per vector (array -> posexplode), queries
    * join candidates per (table, bucket), the candidate union is scored
    * once, top-k per query. On near-uniform vectors one table has poor
    * recall; the table union trades candidate-set size for recall
    * (with the sized code the scanned fraction stays ~TABLES×POP/N —
    * recall decays slowly with N at FIXED table count; the production
    * recall knobs are more tables or q243's multi-probe, not a longer
    * scan).
    * Scale: the (table, bucket) key is the shuffle key — uniform by
    * construction; candidate dedup keys on (query, vec), never O(N^2).
    * The code length is SIZED to the corpus ([[sizedPlanes]]): expected
    * bucket population stays ~[[LSH_TARGET_POP]] at any N, so each
    * query's candidate set is ~TABLES × POP — constant per query —
    * instead of the ∝N fraction a fixed code length degrades to.
    * Oracle: q31Sql re-derives the sized plane count from count(*) and
    * regenerates the md5 hyperplanes in SQL (full hash gate); the spec
    * additionally pins recall against exact q30.
    */
  def q31LshAnn(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).embeddings
    val planes = sizedPlanes(base.count())
    val emb = base.withColumn("buckets", allBuckets(col("embedding"), planes))
    val banded = emb.select(col("vec_id"), col("embedding"),
      posexplode(col("buckets")).as(Seq("table_id", "bucket")))
    val queries = banded.filter(col("vec_id") < NUM_QUERIES)
      .select(col("vec_id").as("query_id"), col("table_id").as("q_table"),
        col("bucket").as("q_bucket"))
    val cand = banded.join(broadcast(queries),
        col("table_id") === col("q_table") && col("bucket") === col("q_bucket") &&
        col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id", "embedding")
      .dropDuplicates("query_id", "vec_id")
    val qEmb = Tables(spark, dir).embeddings
      .filter(col("vec_id") < NUM_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = cand.join(broadcast(qEmb), "query_id")
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOP_K)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** q31 DuckDB oracle: the hyperplanes are deterministic md5-derived,
    * so the whole LSH pipeline is SQL-expressible — regenerate the
    * sized weight matrix in SQL ([[sizedPlanesSql]]), recompute each
    * vector's per-table sign bits, bucket-join, and exact-score the
    * candidate union. The bucket id formula need not match the native
    * bit packing — only the PARTITION matters (two vectors collide iff
    * all plane signs match), and `sum(bit << plane)` induces the same
    * partition as the native `|= 1L << p`. Sign parity holds because
    * both engines fold the dot product left-to-right in double (same
    * reason q30's cosine matches).
    */
  val q31Sql: String = {
    s"""WITH $sizedPlanesSql,
      |bits AS (
      |  SELECT e.vec_id, p.table_id, p.plane,
      |    CASE WHEN list_sum(list_transform(generate_series(1, len(e.embedding)),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * p.wts[i])) >= 0
      |    THEN 1 ELSE 0 END AS bit
      |  FROM embeddings e CROSS JOIN planes p),
      |buckets AS (
      |  SELECT vec_id, table_id, sum(bit << plane) AS bucket
      |  FROM bits GROUP BY vec_id, table_id),
      |cand AS (
      |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
      |  FROM buckets q
      |  JOIN buckets c ON q.table_id = c.table_id AND q.bucket = c.bucket
      |                AND c.vec_id != q.vec_id
      |  WHERE q.vec_id < $NUM_QUERIES),
      |scored AS (
      |  SELECT cand.query_id, cand.vec_id,
      |    list_sum(list_transform(generate_series(1, len(ce.embedding)),
      |      i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(qe.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(ce.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      |  FROM cand
      |  JOIN embeddings qe ON qe.vec_id = cand.query_id
      |  JOIN embeddings ce ON ce.vec_id = cand.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id AS neighbor_id
      |FROM ranked WHERE rank <= $TOP_K
      |ORDER BY query_id, rank""".stripMargin
  }

  /** Similarity threshold for q40 embedding near-dup pairs. */
  val NEARDUP_MIN_SIM = 0.42
  /** q41 IVF parameters: coarse cells (deterministic seed centroids =
    * the first IVF_CELLS corpus vectors) and probed cells per query.
    * A production index would k-means the centroids; the INDEX SHAPE
    * (assign -> probe -> exact-verify inside cells) is what scales.
    */
  val IVF_CELLS = 8
  val IVF_PROBES = 2

  /** Shared near-dup tail for q40 (sized planes) and q412 (fixed
    * control): band on the (table, bucket) LSH key, self-join for
    * candidate pairs, exact-cosine verify at [[NEARDUP_MIN_SIM]].
    */
  private def neardupPairs(spark: SparkSession, dir: String,
      planes: Int): DataFrame = {
    val emb = Tables(spark, dir).embeddings
      .withColumn("buckets", allBuckets(col("embedding"), planes))
    val banded = emb.select(col("vec_id"),
      posexplode(col("buckets")).as(Seq("table_id", "bucket")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.table_id") === col("b.table_id") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val ea = Tables(spark, dir).embeddings
      .select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val eb = Tables(spark, dir).embeddings
      .select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    cand.join(ea, "vec_a").join(eb, "vec_b")
      .withColumn("sim", cosine(col("emb_a"), col("emb_b")))
      .filter(col("sim") >= NEARDUP_MIN_SIM)
      .select("vec_a", "vec_b", "sim")
  }

  /** q40: embedding-cosine NEAR-DUP pairs — the fifth dedup family
    * (exact/minhash/simhash/ngram are q26-q29): candidate pairs from
    * the shared hyperplane LSH buckets, exact cosine verification at
    * NEARDUP_MIN_SIM. The (table, bucket) self-join is an equi-join on
    * a uniform key — never all-pairs — and verification touches only
    * bucket-colliding pairs. The code length is SIZED to the corpus
    * ([[sizedPlanes]]): constant expected bucket population makes the
    * self-join's pairs ~N × POP/2 — LINEAR in N — where the round-8
    * fixed 4-plane shape (kept as the named control, q412) measured
    * 12.0× on 10× data because pairs grow ∝N². Same cure as q63's
    * sized quantizer vs the q313 fixed-cell control.
    */
  def q40EmbeddingNeardup(spark: SparkSession, dir: String): DataFrame = {
    val planes = sizedPlanes(Tables(spark, dir).embeddings.count())
    neardupPairs(spark, dir, planes)
  }

  /** Near-dup oracle tail shared by q40Sql/q412Sql: per-vector norms
    * are materialized ONCE (`en`) and each candidate pair costs ONE
    * interpreted dot fold — sim = dot / (nrm_a × nrm_b) is the same
    * IEEE sequence as the native CosineSimilarity (sqrt each side,
    * then multiply).
    */
  private def neardupTailSql: String =
    s"""en AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |bits AS (
      |  SELECT e.vec_id, p.table_id, p.plane,
      |    CASE WHEN list_sum(list_transform(generate_series(1, len(e.embedding)),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * p.wts[i])) >= 0
      |    THEN 1 ELSE 0 END AS bit
      |  FROM embeddings e CROSS JOIN planes p),
      |buckets AS (
      |  SELECT vec_id, table_id, sum(bit << plane) AS bucket
      |  FROM bits GROUP BY vec_id, table_id),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM buckets a
      |  JOIN buckets b ON a.table_id = b.table_id AND a.bucket = b.bucket
      |                AND a.vec_id < b.vec_id),
      |sims AS (
      |  SELECT cand.vec_a, cand.vec_b,
      |    list_sum(list_transform(generate_series(1, len(ea.embedding)),
      |      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
      |    / (ea.nrm * eb.nrm) AS sim
      |  FROM cand
      |  JOIN en ea ON ea.vec_id = cand.vec_a
      |  JOIN en eb ON eb.vec_id = cand.vec_b)
      |SELECT vec_a, vec_b, sim FROM sims
      |WHERE sim >= $NEARDUP_MIN_SIM
      |ORDER BY vec_a, vec_b""".stripMargin

  /** q40 oracle: sized bucket partition replayed from count(*) (see
    * [[sizedPlanesSql]]), exact cosine verify — candidate-set parity
    * by construction.
    */
  val q40Sql: String =
    s"""WITH $sizedPlanesSql,
      |$neardupTailSql""".stripMargin

  /** Per-bucket population bound for the fixed-plane control (q412):
    * the control exists to be MEASURED against the sizing rule (it is
    * deliberately the quadratic shape), so it must stay runnable on
    * the scale ladder, but a genuinely growing corpus must fail fast
    * instead of going quadratic silently. 20k expected per bucket
    * bounds the verify at ~2^planes × 2e8 cosine pairs — hours, not
    * forever — and the sf1 ladder (~1.25k per bucket) passes with an
    * order of magnitude of headroom.
    */
  val NEARDUP_FIXED_MAX_POP = 20000L

  /** q412: FIXED-PLANE CONTROL — q40's near-dup contract under the
    * round-8 FIXED 4-plane code ([[NUM_PLANES]]). With the code length
    * constant, bucket population grows ∝N and the within-bucket verify
    * grows ∝N² — measured 12.0× on 10× data vs the sized rule now
    * under the `embedding_neardup` name (q40). Kept, explicitly named,
    * as the measured contrast for the LSH sizing rule (mirroring
    * q313's fixed-cell control for q63), with a capacity guard
    * ([[NEARDUP_FIXED_MAX_POP]]) that refuses corpora where the
    * quadratic bucket work would run away.
    */
  def q412FixedplaneControl(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables(spark, dir).embeddings.count()
    require(n <= (1L << NUM_PLANES) * NEARDUP_FIXED_MAX_POP,
      s"fixed-plane control: $n vectors over ${1 << NUM_PLANES} buckets " +
        s"exceeds the $NEARDUP_FIXED_MAX_POP per-bucket capacity bound — " +
        "use the sized code length (q40EmbeddingNeardup) on growing corpora")
    neardupPairs(spark, dir, NUM_PLANES)
  }

  /** q412 oracle: the FIXED 4-plane weight matrix as literals (the
    * oracle-replayable fixed instance), same norm-precomputed verify
    * tail as q40Sql.
    */
  val q412Sql: String = {
    val planeRows = (for {
      t <- 0 until NUM_TABLES
      p <- 0 until NUM_PLANES
    } yield s"($t, $p, ${planeWeights(t, p).map(_.toString).mkString("[", ", ", "]")})")
      .mkString(",\n|    ")
    s"""WITH planes(table_id, plane, wts) AS (
      |  VALUES $planeRows),
      |$neardupTailSql""".stripMargin
  }

  /** q41: IVF approximate NN — the coarse-quantizer scale path beside
    * LSH (q31): every vector is assigned to its max-cosine cell
    * (deterministic argmax via a partial-aggregable max(struct), no
    * window shuffle over the corpus), queries probe their IVF_PROBES
    * nearest cells, and only those cells' members are exact-scored.
    * At 100 TB the cell id is the partition key: assignment is one
    * broadcast-join scan, the probe join touches |probes|/|cells| of
    * the corpus, and centroids (a k-means output in production) stay
    * O(IVF_CELLS * dim) broadcast.
    */
  def q41IvfAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val cents = emb.filter(col("vec_id") < IVF_CELLS)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))

    // cell assignment: argmax cosine, ties to the smaller cent_id
    val scoredCells = emb.join(broadcast(cents))
      .withColumn("sim_c", cosine(col("c_emb"), col("embedding")))
    val assigned = scoredCells
      .groupBy("vec_id")
      .agg(
        max(struct(col("sim_c"), (-col("cent_id")).as("neg_cent"))).as("best"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), (-col("best.neg_cent")).cast("long").as("cell"),
        col("embedding"))

    // query probes: the IVF_PROBES nearest cells per query
    val probes = scoredCells.filter(col("vec_id") < NUM_QUERIES)
      .withColumn("pr", row_number().over(
        Window.partitionBy("vec_id")
          .orderBy(col("sim_c").desc, col("cent_id").asc)))
      .filter(col("pr") <= IVF_PROBES)
      .select(col("vec_id").as("query_id"), col("cent_id").as("cell"))

    val cand = assigned.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("query_id"))
    val qEmb = emb.filter(col("vec_id") < NUM_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = cand.join(broadcast(qEmb), "query_id")
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
      // a vector can sit in two probed cells' union only once
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOP_K)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  val q41Sql: String =
    s"""WITH cents AS (
      |  SELECT vec_id AS cent_id, embedding AS c_emb FROM embeddings
      |  WHERE vec_id < $IVF_CELLS),
      |scored_cells AS (
      |  SELECT e.vec_id, c.cent_id,
      |    list_sum(list_transform(generate_series(1, len(e.embedding)),
      |      i -> CAST(c.c_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(c.c_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim_c
      |  FROM embeddings e CROSS JOIN cents c),
      |assigned AS (
      |  SELECT vec_id, cent_id AS cell FROM (
      |    SELECT vec_id, cent_id,
      |      row_number() OVER (PARTITION BY vec_id
      |                         ORDER BY sim_c DESC, cent_id ASC) AS rn
      |    FROM scored_cells) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, cent_id AS cell FROM (
      |    SELECT vec_id, cent_id,
      |      row_number() OVER (PARTITION BY vec_id
      |                         ORDER BY sim_c DESC, cent_id ASC) AS pr
      |    FROM scored_cells WHERE vec_id < $NUM_QUERIES) WHERE pr <= $IVF_PROBES),
      |cand AS (
      |  SELECT DISTINCT p.query_id, a.vec_id
      |  FROM probes p JOIN assigned a ON a.cell = p.cell
      |  WHERE a.vec_id != p.query_id),
      |scored AS (
      |  SELECT cand.query_id, cand.vec_id,
      |    list_sum(list_transform(generate_series(1, len(ce.embedding)),
      |      i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(qe.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(ce.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      |  FROM cand
      |  JOIN embeddings qe ON qe.vec_id = cand.query_id
      |  JOIN embeddings ce ON ce.vec_id = cand.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id AS neighbor_id
      |FROM ranked WHERE rank <= $TOP_K
      |ORDER BY query_id, rank""".stripMargin

  /** q144: K-NN LABEL CLASSIFIER — predict each query vector's label
    * by majority vote of its TOP_K cosine neighbors in the labeled
    * reference set (the classification eval that closes the ANN
    * family: q30/q31/q41/q62/q82 retrieve, q76 measures recall, q144
    * measures end-task accuracy). Reference = the corpus minus the
    * query rows (held-out eval, no self-match leakage). The broadcast
    * query-side scan scores in one pass (the q30 shape); votes are
    * INTEGER counts with deterministic (count desc, label asc) ties
    * via one min(struct) per query — no second scan, no window over
    * votes. Output includes the true label and a 0/1 hit flag so
    * accuracy is a trivial fold downstream.
    */
  def q144KnnClassifier(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val queries = emb.filter(col("vec_id") < NUM_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("true_label"))
    val corpus = emb.filter(col("vec_id") >= NUM_QUERIES)
    val scored = corpus
      .join(broadcast(queries.select("query_id", "q_emb")), lit(true))
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    val votes = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOP_K)
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val pred = votes.groupBy("query_id")
      .agg(min(struct((-col("n_votes")).as("neg"), col("label").cast("long")
        .as("lbl"))).as("b"))
      .select(col("query_id"), col("b.lbl").as("pred_label"),
        (-col("b.neg")).as("n_votes"))
    pred.join(broadcast(queries.select("query_id", "true_label")), "query_id")
      .select(col("query_id"), col("true_label").cast("long").as("true_label"),
        col("pred_label"), col("n_votes"),
        when(col("pred_label") === col("true_label"), 1L).otherwise(0L)
          .as("correct"))
  }

  val q144Sql: String =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb, label AS true_label
      |  FROM embeddings WHERE vec_id < $NUM_QUERIES),
      |scored AS (
      |  SELECT q.query_id, e.vec_id, e.label,
      |    list_sum(list_transform(generate_series(1, len(e.embedding)),
      |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      |  FROM embeddings e, q WHERE e.vec_id >= $NUM_QUERIES),
      |ranked AS (
      |  SELECT query_id, vec_id, label,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
      |  FROM scored),
      |votes AS (
      |  SELECT query_id, label, CAST(count(*) AS BIGINT) AS n_votes
      |  FROM ranked WHERE rank <= $TOP_K GROUP BY 1, 2),
      |pred AS (
      |  SELECT query_id, CAST(label AS BIGINT) AS pred_label, n_votes,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY n_votes DESC, label ASC) AS vr
      |  FROM votes)
      |SELECT p.query_id, CAST(q.true_label AS BIGINT) AS true_label,
      |  p.pred_label, p.n_votes,
      |  CASE WHEN p.pred_label = q.true_label THEN 1 ELSE 0 END AS correct
      |FROM pred p JOIN q USING (query_id)
      |WHERE p.vr = 1
      |ORDER BY query_id""".stripMargin

  /** q243: MULTI-PROBE LSH — q31's bucket search with the query side
    * ALSO probing every Hamming-distance-1 bucket (one hyperplane sign
    * flipped): the classic recall-vs-memory trade (Lv et al.) — more
    * candidates per table instead of more tables, for the SAME index.
    * Only the query side fans out (planes+1 probes per query x
    * table — a bounded broadcast, the corpus is untouched), candidates
    * dedup before scoring, and the exact-rerank tail is q31's.
    * Perturbation is pure bit arithmetic on the bucket id, identical
    * in both engines. The code length is the SIZED one ([[sizedPlanes]]
    * — shared with q31/q40), so the probe fan-out grows only
    * logarithmically with the corpus.
    */
  def q243MultiProbe(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).embeddings
    val planes = sizedPlanes(base.count())
    val emb = base.withColumn("buckets", allBuckets(col("embedding"), planes))
    val banded = emb.select(col("vec_id"), col("embedding"),
      posexplode(col("buckets")).as(Seq("table_id", "bucket")))
    val probes = banded.filter(col("vec_id") < NUM_QUERIES)
      .select(col("vec_id").as("query_id"), col("table_id").as("q_table"),
        explode(array((lit(-1) +: (0 until planes).map(lit(_))): _*))
          .as("flip"), col("bucket"))
      .select(col("query_id"), col("q_table"),
        when(col("flip") < 0, col("bucket"))
          .otherwise(expr("bucket ^ shiftleft(1L, flip)")).as("q_bucket"))
      .dropDuplicates("query_id", "q_table", "q_bucket")
    val cand = banded.join(broadcast(probes),
        col("table_id") === col("q_table") &&
          col("bucket") === col("q_bucket") &&
          col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id", "embedding")
      .dropDuplicates("query_id", "vec_id")
    val qEmb = Tables(spark, dir).embeddings
      .filter(col("vec_id") < NUM_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    cand.join(broadcast(qEmb), "query_id")
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOP_K)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  val q243Sql: String = {
    s"""WITH $sizedPlanesSql,
      |bits AS (
      |  SELECT e.vec_id, p.table_id, p.plane,
      |    CASE WHEN list_sum(list_transform(generate_series(1, len(e.embedding)),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * p.wts[i])) >= 0
      |    THEN 1 ELSE 0 END AS bit
      |  FROM embeddings e CROSS JOIN planes p),
      |buckets AS (
      |  SELECT vec_id, table_id, sum(bit << plane) AS bucket
      |  FROM bits GROUP BY vec_id, table_id),
      |flips AS (
      |  SELECT f FROM generate_series(-1, ${MAX_LSH_PLANES - 1}) t(f),
      |       nplanes WHERE f < nplanes.pl),
      |probes AS (
      |  SELECT DISTINCT vec_id AS query_id, table_id,
      |    CASE WHEN f < 0 THEN bucket ELSE xor(bucket, 1 << f) END AS q_bucket
      |  FROM buckets CROSS JOIN flips
      |  WHERE vec_id < $NUM_QUERIES),
      |cand AS (
      |  SELECT DISTINCT p.query_id, c.vec_id
      |  FROM probes p
      |  JOIN buckets c ON c.table_id = p.table_id AND c.bucket = p.q_bucket
      |                AND c.vec_id != p.query_id),
      |scored AS (
      |  SELECT cand.query_id, cand.vec_id,
      |    list_sum(list_transform(generate_series(1, len(ce.embedding)),
      |      i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(qe.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(ce.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      |  FROM cand
      |  JOIN embeddings qe ON qe.vec_id = cand.query_id
      |  JOIN embeddings ce ON ce.vec_id = cand.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id AS neighbor_id
      |FROM ranked WHERE rank <= $TOP_K
      |ORDER BY query_id, rank""".stripMargin
  }

  /** Truncation width for q284's matryoshka evaluation. */
  val TRUNC_DIM = 16

  /** q284: MATRYOSHKA-TRUNCATION RECALL — how much nearest-neighbor
    * quality survives keeping only the FIRST [[TRUNC_DIM]] of
    * [[EMB_DIM]] dimensions (the Matryoshka-representation deployment
    * question: a 4x-narrower index is 4x cheaper to scan and store —
    * what recall does it buy?). For each query: exact top-k under
    * full-dimension cosine (the q30 truth) vs exact top-k under
    * truncated cosine, reported as integer hits@k per query.
    *
    * Scale shape: the query set broadcasts (q30's pattern), BOTH
    * rankings ride ONE scan — the two window functions share the
    * query_id partitioning, so Spark plans a single exchange and two
    * in-partition sorts, not two shuffles. The gate compares integer
    * hit counts only; the float similarities never leave the plan.
    */
  def q284MatryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val qs = emb.filter(col("vec_id") < NUM_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val wFull = Window.partitionBy("query_id")
      .orderBy(col("sim_full").desc, col("vec_id").asc)
    val wTr = Window.partitionBy("query_id")
      .orderBy(col("sim_tr").desc, col("vec_id").asc)
    val ranked = emb.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .withColumn("sim_full", cosine(col("q_emb"), col("embedding")))
      .withColumn("sim_tr", cosine(slice(col("q_emb"), 1, TRUNC_DIM),
        slice(col("embedding"), 1, TRUNC_DIM)))
      .withColumn("rk_full", row_number().over(wFull))
      .withColumn("rk_tr", row_number().over(wTr))
    val truth = ranked.filter(col("rk_full") <= TOP_K)
      .select(col("query_id"), col("vec_id"))
    val approx = ranked.filter(col("rk_tr") <= TOP_K)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
        lit(TOP_K.toLong).as("k"))
  }

  val q284Sql: String = {
    def dot(n: Int) =
      s"""list_sum(list_transform(generate_series(1, $n),
        |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, $n),
        |         i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(generate_series(1, $n),
        |         i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))""".stripMargin
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
      |  WHERE vec_id < $NUM_QUERIES),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${dot(EMB_DIM)} AS sim_full,
      |    ${dot(TRUNC_DIM)} AS sim_tr
      |  FROM embeddings e, q WHERE e.vec_id != q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim_full DESC, vec_id ASC) AS rk_full,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim_tr DESC, vec_id ASC) AS rk_tr
      |  FROM scored)
      |SELECT t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hits,
      |  CAST($TOP_K AS BIGINT) AS k
      |FROM (SELECT query_id, vec_id FROM ranked WHERE rk_full <= $TOP_K) t
      |LEFT JOIN (SELECT query_id, vec_id FROM ranked WHERE rk_tr <= $TOP_K) a
      |  ON t.query_id = a.query_id AND t.vec_id = a.vec_id
      |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Hard negatives kept per anchor in q291. */
  val HARD_NEG_K = 3

  /** q291: HARD-NEGATIVE MINING — for each anchor vector, the
    * [[HARD_NEG_K]] most-similar vectors with a DIFFERENT label: the
    * contrastive-training staple (a random negative is trivially far;
    * the negatives that teach are the near ones the model confuses).
    * Output is (anchor, rank, negative, labels) — rank-gated integers,
    * like q30, so float similarity never enters the hash.
    *
    * Scale shape: anchors broadcast against the corpus scan (the q30
    * pattern — exact over the broadcast query set as the baseline; at
    * corpus-x-corpus scale the anchor side becomes q31's LSH buckets
    * and this plan is unchanged downstream of the candidate join);
    * label mismatch filters INSIDE the scan before the similarity is
    * computed, and the per-anchor top-k is one window over the
    * candidate set.
    */
  def q291HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val anchors = emb.filter(col("vec_id") < NUM_QUERIES)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
        col("embedding").as("a_emb"))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    emb.join(broadcast(anchors), col("label") =!= col("a_label"))
      .withColumn("sim", cosine(col("a_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= HARD_NEG_K)
      .select(col("anchor_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neg_id"), col("a_label"),
        col("label").as("neg_label"))
  }

  val q291Sql: String =
    s"""WITH a AS (
      |  SELECT vec_id AS anchor_id, label AS a_label, embedding AS q_emb
      |  FROM embeddings WHERE vec_id < $NUM_QUERIES),
      |scored AS (
      |  SELECT a.anchor_id, a.a_label, e.vec_id, e.label,
      |    list_sum(list_transform(generate_series(1, len(e.embedding)),
      |      i -> CAST(a.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(a.q_emb,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(e.embedding,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      |  FROM embeddings e, a WHERE e.label != a.a_label),
      |ranked AS (
      |  SELECT anchor_id, a_label, vec_id, label,
      |    row_number() OVER (PARTITION BY anchor_id
      |      ORDER BY sim DESC, vec_id ASC) AS rank
      |  FROM scored)
      |SELECT anchor_id, CAST(rank AS BIGINT) AS rank, vec_id AS neg_id,
      |  a_label, label AS neg_label
      |FROM ranked WHERE rank <= $HARD_NEG_K
      |ORDER BY anchor_id, rank""".stripMargin

  /** q308 MMR parameters: candidate pool per query, selections, and
    * the relevance/diversity trade-off (literal in both engines). */
  val MMR_CAND = 8
  val MMR_K = 4
  // both weights are VERBATIM literals in both engines — deriving one
  // from the other (1 − 0.7) is decimal-exact 0.3 in DuckDB but IEEE
  // 0.30000000000000004 in Scala, which would flip near-tie picks
  val MMR_LAMBDA = "0.7"
  val MMR_DIVW = "0.3"

  /** q308: MMR DIVERSIFIED RERANKING (maximal marginal relevance) —
    * the post-retrieval stage q30/q31 feed in production: from each
    * query's top-[[MMR_CAND]] cosine candidates, greedily select
    * [[MMR_K]] results maximizing λ·rel − (1−λ)·max-sim-to-selected,
    * so near-duplicate hits don't crowd the result page. The greedy
    * recurrence is inherently sequential in k, so the plan UNROLLS the
    * [[MMR_K]] steps (the q271 unrolled-iteration idiom) — each step
    * is a bounded join against the selected set, never data-dependent
    * control flow.
    *
    * Cross-engine determinism: rel and pairwise sims are the same
    * left-to-right cosine fold both engines run (q30's contract);
    * the MMR score is two IEEE ops on those bit-identical doubles;
    * ranking ties break on vec_id. Reported scores are micro-quantized
    * BIGINTs.
    *
    * Scale shape: ONE corpus scan scores the broadcast query set
    * (q30's shape, swaps to any ANN candidate source unchanged); after
    * the per-query top-[[MMR_CAND]] cut (window on the query key)
    * everything is |queries|·MMR_CAND-bounded: the pairwise-sim join
    * and each unrolled step cost O(|queries|·CAND²) rows. The cut is
    * eagerly checkpointed so the corpus scan runs once, not once per
    * unrolled step.
    */
  def q308MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val lam = MMR_LAMBDA.toDouble
    val divw = MMR_DIVW.toDouble
    val emb = Tables(spark, dir).embeddings
    val anchors = emb.filter(col("vec_id") < NUM_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("vec_id").asc)
    val cand = emb.join(broadcast(anchors), col("vec_id") =!= col("query_id"))
      .withColumn("rel", cosine(col("q_emb"), col("embedding")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MMR_CAND)
      .select(col("query_id"), col("vec_id"), col("rel"),
        col("embedding"), col("rn"))
      .transform(graft.operators.Pins.pin)
    var selected = cand.filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id"), lit(1).as("mmr_rank"),
        col("rel"), lit(0.0d).as("maxsim"), col("embedding"))
    var remaining = cand.filter(col("rn") > 1)
    var out = selected.drop("embedding")
    for (step <- 2 to MMR_K) {
      val sel = selected.select(col("query_id").as("s_query"),
        col("embedding").as("s_emb"))
      val scoredStep = remaining.as("r")
        .join(sel, col("query_id") === col("s_query"))
        .withColumn("s", cosine(col("embedding"), col("s_emb")))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(first(col("rel")).as("rel"),
          first(col("embedding")).as("embedding"),
          max(col("s")).as("maxsim"))
        .withColumn("score",
          lit(lam) * col("rel") - lit(divw) * col("maxsim"))
      val wS = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("vec_id").asc)
      val next = scoredStep.withColumn("rn2", row_number().over(wS))
        .filter(col("rn2") === 1)
        .select(col("query_id"), col("vec_id"), lit(step).as("mmr_rank"),
          col("rel"), col("maxsim"), col("embedding"))
      selected = selected.unionByName(next)
      remaining = remaining.join(
        next.select(col("query_id").as("n_query"), col("vec_id").as("n_vec")),
        col("query_id") === col("n_query") && col("vec_id") === col("n_vec"),
        "left_anti")
      out = out.unionByName(next.drop("embedding"))
    }
    out.select(col("query_id"), col("mmr_rank").cast("long").as("mmr_rank"),
      col("vec_id").as("neighbor_id"),
      floor(col("rel") * 1e6 + lit(0.5)).cast("long").as("rel_micro"),
      floor((lit(lam) * col("rel") - lit(divw) * col("maxsim")) * 1e6
        + lit(0.5)).cast("long").as("score_micro"))
  }

  /** DuckDB spelling of the q30 cosine fold between two embedding
    * columns (identical op order to graft.plans.CosineSimilarity). */
  private def simSql(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, len($a)),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform($a,
       |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform($b,
       |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  val q308Sql: String = {
    val lam = MMR_LAMBDA
    val oneMinus = MMR_DIVW
    def step(t: Int): String =
      s"""sc$t AS (
        |  SELECT r.query_id, r.vec_id, r.rel,
        |    max(p.s) AS maxsim
        |  FROM rem${t - 1} r
        |  JOIN ps p ON p.query_id = r.query_id AND p.va = r.vec_id
        |  JOIN sel${t - 1} s ON s.query_id = p.query_id AND s.vec_id = p.vb
        |  GROUP BY 1, 2, 3),
        |pick$t AS (
        |  SELECT query_id, vec_id, rel, maxsim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY $lam * rel - $oneMinus * maxsim DESC, vec_id ASC)
        |      AS rn2
        |  FROM sc$t),
        |sel$t AS (
        |  SELECT query_id, vec_id, $t AS mmr_rank, rel, maxsim
        |  FROM pick$t WHERE rn2 = 1
        |  UNION ALL SELECT query_id, vec_id, mmr_rank, rel, maxsim
        |  FROM sel${t - 1}),
        |rem$t AS (
        |  SELECT r.* FROM rem${t - 1} r
        |  WHERE NOT EXISTS (SELECT 1 FROM sel$t s
        |    WHERE s.query_id = r.query_id AND s.vec_id = r.vec_id))"""
        .stripMargin
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
      |  WHERE vec_id < $NUM_QUERIES),
      |scored AS (
      |  SELECT q.query_id, e.vec_id, e.embedding,
      |    ${simSql("q.q_emb", "e.embedding")} AS rel
      |  FROM embeddings e, q WHERE e.vec_id != q.query_id),
      |cand AS (
      |  SELECT * FROM (
      |    SELECT query_id, vec_id, embedding, rel,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY rel DESC, vec_id ASC) AS rn
      |    FROM scored) WHERE rn <= $MMR_CAND),
      |ps AS (
      |  SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
      |    ${simSql("a.embedding", "b.embedding")} AS s
      |  FROM cand a JOIN cand b
      |    ON a.query_id = b.query_id AND a.vec_id != b.vec_id),
      |sel1 AS (
      |  SELECT query_id, vec_id, 1 AS mmr_rank, rel, 0.0 AS maxsim
      |  FROM cand WHERE rn = 1),
      |rem1 AS (SELECT * FROM cand WHERE rn > 1),
      |${(2 to MMR_K).map(step).mkString(",\n")}
      |SELECT query_id, CAST(mmr_rank AS BIGINT) AS mmr_rank,
      |  vec_id AS neighbor_id,
      |  CAST(floor(rel * 1e6 + 0.5) AS BIGINT) AS rel_micro,
      |  CAST(floor(($lam * rel - $oneMinus * maxsim) * 1e6 + 0.5)
      |    AS BIGINT) AS score_micro
      |FROM sel$MMR_K
      |ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** q352 anchor bound: source-side vectors with vec_id below this
    * form the bounded anchor set (the q30 NUM_QUERIES convention —
    * a CONSTANT, so the broadcast side never grows with the corpus). */
  val MARGIN_ANCHOR_MAX = 40
  /** q352 candidates per anchor (scored for margin). */
  val MARGIN_CAND_K = 8
  /** q352 neighborhood size for the margin denominator means. */
  val MARGIN_TOP_K = 4
  /** q352 acceptance threshold: margin > 1.05 (micro units). */
  val MARGIN_THRESH_MICRO = 1050000L

  /** q352: MARGIN-BASED PAIR MINING — the ratio-margin criterion of
    * large-scale bitext/alignment mining (Artetxe & Schwenk 2019;
    * the CCMatrix recipe): a candidate pair (x, y) across two corpora
    * (here label ≤ 4 vs label ≥ 5) is accepted not on raw cosine but
    * on cos(x,y) ÷ the mean of each side's top-k neighborhoods —
    * raw-cosine thresholds over-mine dense hubs and starve sparse
    * regions; the margin normalizes both away. Mines, per anchor, its
    * best-margin target and the accept flag. This is the
    * training-pair curation step for translation/contrastive corpora,
    * distinct from q291 (hard NEGATIVES by label) and q63/q313
    * (same-corpus dedup).
    *
    * Scale shape: anchors are a bounded broadcast against the target
    * scan (one pass); the reverse neighborhoods are computed only for
    * the ≤ anchors×K candidate targets — a second bounded broadcast
    * against the source scan. Nothing is corpus×corpus; at 100 TB both
    * passes keep the q30/q31 contract (swap in the LSH bucket join for
    * the first pass when the anchor set grows). Determinism: cosines
    * come from the native CosineSimilarity expression (bit-identical
    * to the oracle's list fold), are nano-quantized AT THE SCAN so
    * every later sum is integer, and the margin is one IEEE division
    * of exact integers, micro-quantized.
    */
  def q352MarginMining(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val src = emb.filter(col("label") <= 4)
    val tgt = emb.filter(col("label") >= 5)
    val anchors = src.filter(col("vec_id") < MARGIN_ANCHOR_MAX)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val simNano = floor(cosine(col("a_emb"), col("embedding")) * lit(1e9) +
      lit(0.5)).cast("long")
    val fwd = tgt.crossJoin(broadcast(anchors))
      .select(col("a_id"), col("vec_id").as("t_id"), simNano.as("s"))
    val wA = Window.partitionBy("a_id").orderBy(col("s").desc,
      col("t_id").asc)
    val ranked = fwd.withColumn("r", row_number().over(wA))
      .filter(col("r") <= MARGIN_CAND_K)
    val sumA = ranked.filter(col("r") <= MARGIN_TOP_K)
      .groupBy("a_id").agg(sum("s").as("sum_a"))
    // reverse neighborhoods for the bounded candidate-target set only
    val candT = ranked.select(col("t_id")).distinct()
      .join(tgt, col("t_id") === col("vec_id"))
      .select(col("t_id"), col("embedding").as("t_emb"))
    val bwd = src.crossJoin(broadcast(candT))
      .select(col("t_id"),
        floor(cosine(col("t_emb"), col("embedding")) * lit(1e9) + lit(0.5))
          .cast("long").as("s"), col("vec_id"))
    val wT = Window.partitionBy("t_id").orderBy(col("s").desc,
      col("vec_id").asc)
    val sumB = bwd.withColumn("r", row_number().over(wT))
      .filter(col("r") <= MARGIN_TOP_K)
      .groupBy("t_id").agg(sum("s").as("sum_b"))
    val wM = Window.partitionBy("a_id")
      .orderBy(col("margin_micro").desc, col("t_id").asc)
    ranked.join(sumA, "a_id").join(sumB, "t_id")
      .withColumn("margin_micro",
        floor(lit(2.0d * MARGIN_TOP_K) * col("s").cast("double") /
          (col("sum_a") + col("sum_b")).cast("double") * lit(1e6) +
          lit(0.5)).cast("long"))
      .withColumn("mr", row_number().over(wM))
      .filter(col("mr") === 1)
      .select(col("a_id").as("query_id"), col("t_id").as("tgt_id"),
        col("margin_micro"),
        (col("margin_micro") >= MARGIN_THRESH_MICRO).as("accepted"))
  }

  val q352Sql: String =
    s"""WITH src AS (SELECT * FROM embeddings WHERE label <= 4),
      |tgt AS (SELECT * FROM embeddings WHERE label >= 5),
      |anchors AS (
      |  SELECT vec_id AS a_id, embedding AS a_emb FROM src
      |  WHERE vec_id < $MARGIN_ANCHOR_MAX),
      |fwd AS (
      |  SELECT a.a_id, t.vec_id AS t_id,
      |    CAST(floor(
      |      list_sum(list_transform(generate_series(1, len(t.embedding)),
      |        i -> CAST(a.a_emb[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(a.a_emb,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * sqrt(list_sum(list_transform(t.embedding,
      |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
      |      * 1e9 + 0.5) AS BIGINT) AS s
      |  FROM tgt t, anchors a),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY a_id
      |    ORDER BY s DESC, t_id ASC) AS r
      |  FROM fwd),
      |cand AS (SELECT * FROM ranked WHERE r <= $MARGIN_CAND_K),
      |suma AS (SELECT a_id, CAST(sum(s) AS BIGINT) AS sum_a FROM cand
      |         WHERE r <= $MARGIN_TOP_K GROUP BY 1),
      |candt AS (SELECT DISTINCT t_id FROM cand),
      |bwd AS (
      |  SELECT c.t_id, s.vec_id,
      |    CAST(floor(
      |      list_sum(list_transform(generate_series(1, len(s.embedding)),
      |        i -> CAST(t.embedding[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(t.embedding,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * sqrt(list_sum(list_transform(s.embedding,
      |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
      |      * 1e9 + 0.5) AS BIGINT) AS s
      |  FROM candt c JOIN tgt t ON t.vec_id = c.t_id, src s),
      |branked AS (
      |  SELECT *, row_number() OVER (PARTITION BY t_id
      |    ORDER BY s DESC, vec_id ASC) AS r
      |  FROM bwd),
      |sumb AS (SELECT t_id, CAST(sum(s) AS BIGINT) AS sum_b FROM branked
      |         WHERE r <= $MARGIN_TOP_K GROUP BY 1),
      |margins AS (
      |  SELECT c.a_id, c.t_id,
      |    CAST(floor(${2.0 * MARGIN_TOP_K} * CAST(c.s AS DOUBLE) /
      |      CAST(sa.sum_a + sb.sum_b AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
      |      AS margin_micro
      |  FROM cand c JOIN suma sa ON sa.a_id = c.a_id
      |  JOIN sumb sb ON sb.t_id = c.t_id),
      |best AS (
      |  SELECT *, row_number() OVER (PARTITION BY a_id
      |    ORDER BY margin_micro DESC, t_id ASC) AS mr
      |  FROM margins)
      |SELECT a_id AS query_id, t_id AS tgt_id, margin_micro,
      |  margin_micro >= $MARGIN_THRESH_MICRO AS accepted
      |FROM best WHERE mr = 1
      |ORDER BY query_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q352_margin_mining" -> Gate.sorted(q352MarginMining _, "query_id"),
    "q308_mmr_rerank" -> Gate.sorted(q308MmrRerank _, "query_id", "mmr_rank"),
    "q291_hard_negatives" ->
      Gate.sorted(q291HardNegatives _, "anchor_id", "rank"),
    "q284_matryoshka_recall" -> Gate.sorted(q284MatryoshkaRecall _, "query_id"),
    "q144_knn_classifier" -> Gate.sorted(q144KnnClassifier _, "query_id"),
    "q30_embedding_topk" -> (q30EmbeddingTopk _),
    "q31_lsh_ann" -> (q31LshAnn _),
    "q243_multi_probe" -> Gate.sorted(q243MultiProbe _, "query_id", "rank"),
    "q40_embedding_neardup" -> Gate.sorted(q40EmbeddingNeardup _, "vec_a", "vec_b"),
    "q412_fixedplane_control" ->
      Gate.sorted(q412FixedplaneControl _, "vec_a", "vec_b"),
    "q41_ivf_ann" -> Gate.sorted(q41IvfAnn _, "query_id", "rank"))

  val oracles: Map[String, String] = Map(
    "q352_margin_mining" -> q352Sql,
    "q308_mmr_rerank" -> q308Sql,
    "q291_hard_negatives" -> q291Sql,
    "q284_matryoshka_recall" -> q284Sql,
    "q144_knn_classifier" -> q144Sql,
    "q30_embedding_topk" -> q30Sql,
    "q31_lsh_ann" -> q31Sql,
    "q243_multi_probe" -> q243Sql,
    "q40_embedding_neardup" -> q40Sql,
    "q412_fixedplane_control" -> q412Sql,
    "q41_ivf_ann" -> q41Sql)
}
