package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.Pins
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection operators (SURVEY.md §2 q27–q29).
  *
  * The scale architecture (SURVEY §4): never O(N²). Candidates come
  * from hash buckets — MinHash LSH bands (q27) or rare-shingle blocking
  * (q29) — and only candidates are verified. Explode happens exactly
  * where a join needs rows; the signature/fingerprint computation is
  * map-side array math in the scan stage.
  *
  * Shingle hashing is a fused native expression (graft.plans.*) using
  * a polynomial rolling hash mod 2^31-1 — reproducible in DuckDB with
  * plain arithmetic. Engine-native `hash()`/`xxhash64` would also work
  * at scale but are not reproducible in the oracle; md5 only survives
  * where strings must collide exactly (band hashes).
  */
object DedupOps extends QueryModule {

  val SHINGLE_N = 5
  val NUM_HASHES = 16
  val NUM_BANDS = 4
  val ROWS_PER_BAND = NUM_HASHES / NUM_BANDS
  val RARE_DF_MAX = 20
  val JACCARD_MIN = 0.8

  /** MinHash + LSH candidate pairs — the reusable core of q27 and the
    * edge list of q53: 16 md5-seeded min-hashes, 4 bands of 4; docs
    * sharing any band hash become candidate pairs. One explode
    * (4 rows/doc), one groupable join key (band_idx, band_hash): at
    * 100 TB the band join shuffles uniformly distributed 16-byte keys,
    * never document text.
    */
  /** LSH band table: (doc_id, band_idx, band_hash) — the probe/index
    * rows shared by q27/q53 (self-join) and q68 (new-batch probe of a
    * persisted corpus index).
    */
  def bandTable(docs: DataFrame): DataFrame = {
    // round 10: fanning the docs scan before the MinHash pass was
    // MEASURED SLOWER at sf0.1 (candidate_pairs 0.5 -> 1.2 s — the
    // text exchange costs more than parallel hashing saves on a small
    // corpus) and reverted; at production doc counts the scan splits
    // wide on its own
    val sigs = docs
      .select(col("doc_id"),
        graft.plans.MinHashSignature(col("text"), SHINGLE_N, NUM_HASHES).as("sig"))
    sigs.select(col("doc_id"),
      posexplode(array((0 until NUM_BANDS).map { b =>
        md5(concat_ws(",",
          (0 until ROWS_PER_BAND).map(r =>
            col("sig").getItem(b * ROWS_PER_BAND + r).cast("string")): _*))
      }: _*)).as(Seq("band_idx", "band_hash")))
  }

  def candidatePairs(docs: DataFrame): DataFrame = {
    // round 9 (guide §1.2/§2.3): checkpoint the band table BEFORE the
    // self-join — without the pin both join sides evaluate the full
    // MinHash signature pass over the corpus text (the plan showed
    // minhash_signature on the stream AND broadcast sides), doubling
    // the query's dominant CPU cost. The pinned table is 4 small rows
    // per doc (id, band, 16-byte hash); text is read once.
    val bands = Pins.pin(bandTable(docs))
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** q27: the candidate-pair list itself (gate adds the dump sort). */
  def q27MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    candidatePairs(Tables(spark, dir).documents)

  /** q53: duplicate-CLUSTER resolution — connected components over the
    * q27 candidate pairs, then one canonical survivor per component
    * (min doc_id). Pairs alone under-delete: A~B and B~C must collapse
    * all three docs into ONE cluster even though (A,C) never shared a
    * band. Output is the full per-doc keep/drop decision table.
    * See [[graft.operators.ConnectedComponents]] for the scale shape.
    */
  def q53DupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val comp = graft.operators.ConnectedComponents
      .components(candidatePairs(docs), "doc_a", "doc_b")
      .withColumnRenamed("node", "doc_id")
    val labeled = docs.select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
    val sizes = labeled.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("keep"))
  }

  /** q293: LEAKAGE-SAFE GROUPED SPLIT — train/val/test assignment
    * hashed on the NEAR-DUP CLUSTER id, not the document id: a
    * per-document split (q25's shape) puts two near-copies of the same
    * text on opposite sides of the train/test wall, which is exactly
    * the contamination q48/q67 exist to detect — this operator
    * prevents it by construction. Composition of the q53 cluster
    * resolution (MinHash bands -> connected components) with q25's
    * deterministic md5 bucketing, keyed on cluster_id so every member
    * of a cluster lands in the SAME split.
    *
    * Output: per split, document and cluster counts, plus the
    * straddle audit (clusters spanning >1 split — zero by
    * construction, and the gate PROVES it rather than trusting it:
    * one tiny aggregate over the |clusters| table, broadcast back).
    */
  def q293GroupedSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val comp = graft.operators.ConnectedComponents
      .components(candidatePairs(docs), "doc_a", "doc_b")
      .withColumnRenamed("node", "doc_id")
    val labeled = docs.select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
    val bucket = conv(substring(md5(concat(lit("gsplit:"),
      col("cluster_id").cast("string"))), 1, 6), 16, 10).cast("long") % 100
    val withSplit = labeled.withColumn("split",
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
    val straddle = withSplit.groupBy("cluster_id")
      .agg(countDistinct("split").as("_ns"))
      .agg(sum(when(col("_ns") > 1, 1L).otherwise(0L)).as("n_straddling"))
    withSplit.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("cluster_id").as("n_clusters"))
      .crossJoin(broadcast(straddle))
  }

  // lazy: defined textually before pairCtes, which it embeds
  lazy val q293Sql: String =
    s"""WITH RECURSIVE $pairCtes,
      |edges AS MATERIALIZED (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION
      |  SELECT doc_b AS a, doc_a AS b FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (
      |  SELECT a AS doc_id, min(b) AS min_reach FROM reach GROUP BY a),
      |lab AS (
      |  SELECT d.doc_id,
      |    CASE WHEN c.min_reach IS NULL THEN d.doc_id
      |         ELSE least(d.doc_id, c.min_reach) END AS cluster_id
      |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
      |sp AS (
      |  SELECT doc_id, cluster_id,
      |    CASE WHEN CAST('0x' || substr(md5('gsplit:' ||
      |           CAST(cluster_id AS VARCHAR)), 1, 6) AS BIGINT) % 100 < 80
      |         THEN 'train'
      |         WHEN CAST('0x' || substr(md5('gsplit:' ||
      |           CAST(cluster_id AS VARCHAR)), 1, 6) AS BIGINT) % 100 < 90
      |         THEN 'val' ELSE 'test' END AS split
      |  FROM lab),
      |st AS (
      |  SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_straddling
      |  FROM (SELECT cluster_id, count(DISTINCT split) AS ns
      |        FROM sp GROUP BY 1))
      |SELECT split, count(*) AS n_docs,
      |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
      |  st.n_straddling
      |FROM sp, st GROUP BY split, st.n_straddling
      |ORDER BY split""".stripMargin

  /** Shared DuckDB CTE chain producing the LSH candidate pairs —
    * q27 selects them directly, q53 feeds them into a recursive
    * transitive closure.
    */
  /** DuckDB CTE chain up to the band table (doc_id, band_idx,
    * band_hash) — shared by the pair queries and q68's probe.
    */
  private val bandCtes: String = {
    val sigDefs = (0 until NUM_HASHES).map { k =>
      val (a, b) = minhashCoeff(k)
      s"coalesce(list_min(list_transform(hs, h -> (h * $a + $b) % $MINHASH_P)), $MINHASH_P) AS s$k"
    }.mkString(",\n    ")
    val bandRows = (0 until NUM_BANDS).map { b =>
      val cc = (0 until ROWS_PER_BAND)
        .map(r => s"CAST(s${b * ROWS_PER_BAND + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band_idx, md5($cc) AS band_hash FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""sh AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_transform(generate_series(1, length(text) - ${SHINGLE_N - 1}),
      |      i -> list_reduce(
      |             list_transform(generate_series(i, i + ${SHINGLE_N - 1}),
      |                            j -> CAST(ascii(substr(text, j, 1)) AS BIGINT)),
      |             (a, c) -> a * 31 + c) % $MINHASH_P) AS hs
      |  FROM documents),
      |sig AS MATERIALIZED (
      |  SELECT doc_id,
      |    $sigDefs
      |  FROM sh),
      |bands AS (
      |  $bandRows)""".stripMargin
  }

  private val pairCtes: String = {
    s"""$bandCtes,
      |pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
      |   AND a.doc_id < b.doc_id)""".stripMargin
  }

  val q27Sql: String =
    s"""WITH $pairCtes
      |SELECT doc_a, doc_b FROM pairs
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q53 oracle: transitive closure over the symmetric pair graph via a
    * recursive CTE (UNION dedups, so the recursion terminates), then
    * component = min reachable node, then sizes. Quadratic in component
    * size — fine for an oracle, which is why the engine side uses label
    * propagation instead.
    */
  val q53Sql: String =
    s"""WITH RECURSIVE $pairCtes,
      |edges AS MATERIALIZED (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION
      |  SELECT doc_b AS a, doc_a AS b FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (
      |  SELECT a AS doc_id, min(b) AS min_reach FROM reach GROUP BY a),
      |lab AS (
      |  SELECT d.doc_id,
      |    CASE WHEN c.min_reach IS NULL THEN d.doc_id
      |         ELSE least(d.doc_id, c.min_reach) END AS cluster_id
      |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
      |sz AS (
      |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      |  FROM lab GROUP BY cluster_id)
      |SELECT l.doc_id, l.cluster_id, s.cluster_size,
      |  l.doc_id = l.cluster_id AS keep
      |FROM lab l JOIN sz s USING (cluster_id)
      |ORDER BY l.doc_id""".stripMargin

  /** q28: SimHash — 32-bit majority-vote fingerprint over shingle
    * rolling hashes (fused native expression; bit 31 of the mod-2^31-1
    * hash is structurally 0), plus a 16-bit prefix bucket (the near-dup
    * blocking key a hamming-distance pass would join on).
    */
  def q28Simhash(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        graft.plans.SimHashFingerprint(col("text"), SHINGLE_N, 32).as("simhash32"))
      .withColumn("bucket16", shiftright(col("simhash32"), 16))
      .orderBy("doc_id")

  /** DuckDB fragment: multiset shingle rolling-hash list (shared by
    * q27/q28 oracles and CorpusOps' q323; mirrors the native
    * expressions' hash family).
    */
  private[queries] val duckShingleHashes =
    s"""list_transform(generate_series(1, length(text) - ${SHINGLE_N - 1}),
      |      i -> list_reduce(
      |             list_transform(generate_series(i, i + ${SHINGLE_N - 1}),
      |                            j -> CAST(ascii(substr(text, j, 1)) AS BIGINT)),
      |             (a, c) -> a * 31 + c) % ${graft.functions.TextFunctions.MINHASH_P})""".stripMargin

  val q28Sql: String = {
    val bitTerms = (0 until 31).map { j =>
      s"CASE WHEN 2 * list_sum(list_transform(hashes, h -> (h >> $j) & 1)) > len(hashes) THEN ${1L << j} ELSE 0 END"
    }.mkString("\n   + ")
    s"""SELECT doc_id, simhash32, simhash32 >> 16 AS bucket16
      |FROM (
      |  SELECT doc_id,
      |   $bitTerms AS simhash32
      |  FROM (
      |    SELECT doc_id, $duckShingleHashes AS hashes
      |    FROM documents))
      |ORDER BY doc_id""".stripMargin
  }

  /** q29: verified n-gram Jaccard duplicates — candidates blocked on
    * RARE shingles (document frequency <= 20) so the candidate join is
    * bounded; exact Jaccard verified on the full distinct-shingle sets.
    * Integer-count division is bit-exact across engines, no rounding.
    */
  def q29NgramJaccard(spark: SparkSession, dir: String): DataFrame = Pins.keep(spark) {
    // One fused pass builds the per-doc SORTED shingle hash set; the
    // array table feeds the df rollup (via one explode) and both sides
    // of the verify join. Long keys shuffle ~6x smaller than shingle
    // strings, and shipping ONE array row per doc to the verify beats
    // re-joining exploded postings per candidate (the round-7 sf1
    // ladder measured that shape at 9.3x on 10x data — the constant
    // was the |set|-row fanout per candidate pair).
    val arrs = Tables(spark, dir).documents
      .select(col("doc_id"),
        sort_array(graft.plans.ShingleHashSet(col("text"), SHINGLE_N))
          .as("shs"))
      .transform(Pins.cache)
    val e = arrs.select(col("doc_id"), explode(col("shs")).as("sh"))
    // shingle sets are per-doc distinct, so count(*) == document frequency
    val rareShingles = e.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= RARE_DF_MAX).select("sh")
    val rare = e.join(rareShingles, "sh").select("doc_id", "sh")
    val cand = rare.as("ra").join(rare.as("rb"),
        col("ra.sh") === col("rb.sh") && col("ra.doc_id") < col("rb.doc_id"))
      .select(col("ra.doc_id").as("doc_a"), col("rb.doc_id").as("doc_b"))
      .distinct()
    // Verify with the native codegen'd two-pointer intersection (the
    // q168 representation): jaccard >= tau implies n_inter >=
    // tau*(n_a+n_b)/(1+tau), so the early-abort threshold is that
    // bound floored (floor can only under-shoot the exact rational —
    // never drops a true pair); survivors re-check the EXACT double
    // filter the oracle applies.
    val tauFrac = JACCARD_MIN / (1.0 + JACCARD_MIN)
    val verified = cand
      .join(arrs.as("a"), col("doc_a") === col("a.doc_id"))
      .join(arrs.as("b"), col("doc_b") === col("b.doc_id"))
      .withColumn("n_a", size(col("a.shs")).cast("long"))
      .withColumn("n_b", size(col("b.shs")).cast("long"))
      .withColumn("n_inter", graft.plans.SortedIntersectGe(
        col("a.shs"), col("b.shs"),
        greatest(lit(1L),
          floor((col("n_a") + col("n_b")).cast("double") * lit(tauFrac))
            .cast("long"))))
      .filter(col("n_inter") >= 0L)
    // The verified-pair output is tiny (blocking bounds candidates), so
    // `keep` pins it and releases the big array table before returning.
    verified
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= JACCARD_MIN)
      .select("doc_a", "doc_b", "n_inter", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  val q29Sql: String =
    s"""WITH e AS (
      |  SELECT doc_id, unnest(list_distinct($duckShingleHashes)) AS sh
      |  FROM documents),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM e GROUP BY doc_id),
      |rare AS (
      |  SELECT doc_id, sh FROM e
      |  WHERE sh IN (SELECT sh FROM e GROUP BY sh
      |               HAVING count(DISTINCT doc_id) <= $RARE_DF_MAX)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      |  FROM cand c
      |  JOIN e ea ON ea.doc_id = c.doc_a
      |  JOIN e eb ON eb.doc_id = c.doc_b AND eb.sh = ea.sh
      |  GROUP BY c.doc_a, c.doc_b)
      |SELECT i.doc_a, i.doc_b, i.n_inter,
      |  CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
      |FROM inter i
      |JOIN sizes sa ON sa.doc_id = i.doc_a
      |JOIN sizes sb ON sb.doc_id = i.doc_b
      |WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= $JACCARD_MIN
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q67 deterministic split fractions (train/val/test percent bounds
    * on the md5 bucket).
    */
  val SPLIT_TRAIN_PCT = 80
  val SPLIT_VAL_PCT = 90

  /** Deterministic 80/10/10 document split: md5(doc_id) bucket in
    * [0,100) — the q25/q50 split primitive pointed at documents.
    * Content-independent, reproducible on any partitioning.
    */
  def docSplit(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long"), lit(100L)).as("bucket"))
      .select(col("doc_id"),
        when(col("bucket") < SPLIT_TRAIN_PCT, "train")
          .when(col("bucket") < SPLIT_VAL_PCT, "val")
          .otherwise("test").as("split"))

  /** q67: split-leakage audit — near-duplicate pairs (q27's LSH
    * candidates) that STRADDLE a train/val/test boundary. A held-out
    * set contaminated by near-copies of training docs silently
    * inflates eval; this is the check a pipeline runs after q25-style
    * splitting. The pair list is dup-rate-sized, so the two split
    * lookups are joins of a small table against the (doc_id, split)
    * projection — hash joins on doc_id, never corpus x corpus.
    */
  def q67SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val sp = docSplit(docs)
    candidatePairs(docs)
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select("doc_a", "doc_b", "split_a", "split_b")
  }

  val q67Sql: String =
    s"""WITH $pairCtes,
      |splits AS (
      |  SELECT doc_id,
      |    CASE WHEN b < $SPLIT_TRAIN_PCT THEN 'train'
      |         WHEN b < $SPLIT_VAL_PCT THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM (
      |    SELECT doc_id,
      |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
      |        % 100 AS b
      |    FROM documents))
      |SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
      |FROM pairs p
      |JOIN splits sa ON sa.doc_id = p.doc_a
      |JOIN splits sb ON sb.doc_id = p.doc_b
      |WHERE sa.split != sb.split
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q68 ingest split: the newest INGEST_FRACTION of doc_ids stand in
    * for the incoming batch; the rest are the already-ingested corpus.
    */
  val INGEST_FRACTION = 0.8

  /** q68: INCREMENTAL ingest dedup — the production mode of q27: the
    * corpus's band table is a persisted index (written once, e.g.
    * through CorpusSink), and each incoming batch computes only ITS
    * OWN bands and probes the index with a hash join on (band_idx,
    * band_hash). Nothing re-scans the corpus text; cost per batch is
    * O(batch + collisions). Output: each new doc that collides with
    * the corpus, its canonical duplicate (min colliding corpus doc)
    * and the collision fan-out.
    */
  def q68IngestDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    // deterministic split: floor(max_id * fraction) — one metadata-
    // sized action; a real pipeline splits by ingest batch id instead
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val cut = math.floor(maxId * INGEST_FRACTION).toLong
    // single signature pass (round 9): both probe sides split from the
    // same pinned band table instead of re-running MinHash per side
    val bands = Pins.pin(bandTable(docs))
    val corpusIdx = bands.filter(col("doc_id") < cut)
      .select(col("doc_id").as("old_doc_id"), col("band_idx"), col("band_hash"))
    val newBands = bands.filter(col("doc_id") >= cut)
      .select(col("doc_id").as("new_doc_id"), col("band_idx"), col("band_hash"))
    newBands.join(corpusIdx, Seq("band_idx", "band_hash"))
      .groupBy("new_doc_id")
      .agg(min("old_doc_id").as("dup_of"),
        countDistinct("old_doc_id").as("n_cand"))
  }

  val q68Sql: String =
    s"""WITH $bandCtes,
      |mx AS (
      |  SELECT CAST(floor(max(doc_id) * $INGEST_FRACTION) AS BIGINT) AS cut
      |  FROM documents),
      |cand AS (
      |  SELECT n.doc_id AS new_doc_id, o.doc_id AS old_doc_id
      |  FROM bands n
      |  JOIN bands o ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
      |  CROSS JOIN mx
      |  WHERE n.doc_id >= mx.cut AND o.doc_id < mx.cut)
      |SELECT new_doc_id, min(old_doc_id) AS dup_of,
      |  CAST(count(DISTINCT old_doc_id) AS BIGINT) AS n_cand
      |FROM cand GROUP BY new_doc_id
      |ORDER BY new_doc_id""".stripMargin

  /** q72: MinHash similarity ESTIMATION — score every LSH candidate
    * pair from the signatures alone (fraction of equal min-hashes is
    * an unbiased Jaccard estimator). This is how verification works at
    * 100 TB when re-reading document text per pair (q29's exact path)
    * is too expensive: the signature table is NUM_HASHES longs per
    * doc, the pair join touches no text, and the estimate's error
    * (~1/sqrt(16) here) is tunable by signature width. Integer
    * equality counts + a divide-by-2^k make the output bit-portable.
    */
  def q72MinhashEstimate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    // pinned (round 9): the signature table feeds BOTH pair sides —
    // without the pin each join side re-ran the MinHash pass
    val sigs = docs.select(col("doc_id"),
      graft.plans.MinHashSignature(col("text"), SHINGLE_N, NUM_HASHES).as("sig"))
      .transform(Pins.pin)
    candidatePairs(docs)
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("n_equal",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (a, x) => a + x))
      .withColumn("est_jaccard", col("n_equal") / lit(NUM_HASHES.toDouble))
      .select("doc_a", "doc_b", "n_equal", "est_jaccard")
  }

  val q72Sql: String = {
    val eqTerms = (0 until NUM_HASHES)
      .map(k => s"CASE WHEN a.s$k = b.s$k THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $pairCtes
      |SELECT p.doc_a, p.doc_b,
      |  CAST($eqTerms AS BIGINT) AS n_equal,
      |  CAST($eqTerms AS BIGINT) / $NUM_HASHES.0 AS est_jaccard
      |FROM pairs p
      |JOIN sig a ON a.doc_id = p.doc_a
      |JOIN sig b ON b.doc_id = p.doc_b
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q83 SimHash-pair parameters: the 32-bit fingerprint split into
    * SIM_BANDS bands of SIM_BAND_BITS bits; Hamming radius HAM_MAX.
    * Pigeonhole: two fingerprints within Hamming distance HAM_MAX <
    * SIM_BANDS differ in at most HAM_MAX bands, so at least one band
    * matches exactly — banding finds every such pair. Two 16-bit bands
    * (one of them is exactly q28's published bucket16) keep the
    * candidate join an order of magnitude tighter than 8-bit bands
    * would on this clustered synthetic corpus.
    */
  val SIM_BANDS = 2
  val SIM_BAND_BITS = 16
  val HAM_MAX = 1

  /** q83: SimHash near-dup PAIRS — the verification pass q28's
    * fingerprints exist for: band the 32-bit fingerprint into two
    * 16-bit halves, self-join on (band, value) for candidates
    * (exhaustive within Hamming <= HAM_MAX by pigeonhole), verify with
    * popcount of the XOR. The band value is a uniform small key so the
    * self-join is bucketed, never all-pairs; verification is two ALU
    * ops per candidate — no text is re-read (contrast q29's
    * exact-Jaccard verify, which re-reads shingle sets).
    */
  def q83SimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables(spark, dir).documents
      .select(col("doc_id"),
        graft.plans.SimHashFingerprint(col("text"), SHINGLE_N, 32).as("fp"))
    val bandCols = (0 until SIM_BANDS).map(j =>
      shiftright(col("fp"), j * SIM_BAND_BITS)
        .bitwiseAND(lit((1L << SIM_BAND_BITS) - 1)))
    val banded = fp.select(col("doc_id"), col("fp"),
      posexplode(array(bandCols: _*)).as(Seq("band", "band_val")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= HAM_MAX)
      .select("doc_a", "doc_b", "hamming")
  }

  val q83Sql: String = {
    val bitTerms = (0 until 31).map { j =>
      s"CASE WHEN 2 * list_sum(list_transform(hashes, h -> (h >> $j) & 1)) > len(hashes) THEN ${1L << j} ELSE 0 END"
    }.mkString("\n   + ")
    s"""WITH fp AS (
      |  SELECT doc_id,
      |   $bitTerms AS fp
      |  FROM (
      |    SELECT doc_id, $duckShingleHashes AS hashes
      |    FROM documents)),
      |banded AS (
      |  SELECT doc_id, fp, b.band,
      |    (fp >> (b.band * $SIM_BAND_BITS)) & ${(1L << SIM_BAND_BITS) - 1} AS band_val
      |  FROM fp CROSS JOIN
      |    (SELECT unnest(generate_series(0, ${SIM_BANDS - 1})) AS band) b),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.fp AS fp_a, b.fp AS fp_b
      |  FROM banded a
      |  JOIN banded b ON a.band = b.band AND a.band_val = b.band_val
      |               AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= $HAM_MAX
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q106 winnowing parameters: k-gram length and hash-window size.
    * Guarantee: any shared substring of length >= WINNOW_K+WINNOW_W-1
    * contributes at least one shared fingerprint.
    */
  val WINNOW_K = 8
  val WINNOW_W = 8

  /** q106: ROBUST WINNOWING fingerprints (the MOSS document-
    * fingerprinting scheme): per k-gram window, select the rightmost
    * minimal hash; the selected (position, hash) set is the document's
    * fingerprint, with density ~2/(w+1) and the shared-substring
    * guarantee above — the substring-granular complement to q27's
    * whole-document MinHash.
    *
    * Shape: winnowing is DOCUMENT-LOCAL, so the scale-right plan never
    * leaves the scan stage — the fused native
    * [[graft.plans.WinnowFingerprint]] expression (monotonic-deque
    * sliding min, O(m) per doc, codegen'd) computes each document's
    * whole fingerprint set in one pass: ZERO shuffles, nothing but the
    * dump-time gate sort. (History: the r3 plan was a W-fold explode +
    * two (doc_id,pos) shuffle joins at 52 s/sf0.1; the intermediate r4
    * form was one sliding-frame window pass at 7 s — still shuffling
    * the ~|corpus|-sized gram table on doc_id. This form is ~1 s.)
    * Hashes are md5 hex STRINGS, so the min is a lexicographic compare
    * identical in both engines; the gate output digests each doc's
    * fingerprint list in position order, rightmost-min tie rule as
    * before.
    */
  def q106WinnowFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .filter(length(col("text")) >= WINNOW_K + WINNOW_W - 1)
      .select(col("doc_id"), col("text"))
    // CPU-bound per-doc compute parallelizes only as far as the scan's
    // input splits. A production corpus has thousands of row groups and
    // this branch is a no-op; the local test file is ONE row group, so
    // without it every md5 runs on one core. The repartition moves raw
    // (doc_id, text) bytes once — strictly less data than any gram
    // fanout — and only when the scan is narrower than the cluster.
    val par = spark.sparkContext.defaultParallelism
    val spread =
      if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    spread
      .select(col("doc_id"),
        graft.plans.WinnowFingerprint(col("text"), WINNOW_K, WINNOW_W).as("wf"))
      .select(col("doc_id"), col("wf.n_grams"), col("wf.n_fp"),
        col("wf.fp_digest"))
  }

  val q106Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE length(text) >= ${WINNOW_K + WINNOW_W - 1}),
      |g AS (
      |  SELECT doc_id, t.i AS pos, md5(substring(text, t.i, $WINNOW_K)) AS h
      |  FROM d, unnest(generate_series(1, length(text) - $WINNOW_K + 1)) AS t(i)),
      |mm AS (SELECT doc_id, max(pos) AS m FROM g GROUP BY 1),
      |st AS (
      |  SELECT g.doc_id, g.pos AS s FROM g JOIN mm USING (doc_id)
      |  WHERE g.pos <= mm.m - $WINNOW_W + 1),
      |win AS (
      |  SELECT st.doc_id, st.s, st.s + o.d AS pos
      |  FROM st, unnest(generate_series(0, ${WINNOW_W - 1})) AS o(d)),
      |j AS (
      |  SELECT w.doc_id, w.s, w.pos, g.h
      |  FROM win w JOIN g ON g.doc_id = w.doc_id AND g.pos = w.pos),
      |wm AS (SELECT doc_id, s, min(h) AS wmin FROM j GROUP BY 1, 2),
      |sel AS (
      |  SELECT j.doc_id, j.s, max(j.pos) AS sel_pos, max(j.h) AS h
      |  FROM j JOIN wm ON wm.doc_id = j.doc_id AND wm.s = j.s
      |    AND j.h = wm.wmin
      |  GROUP BY 1, 2),
      |fp AS (SELECT DISTINCT doc_id, sel_pos, h FROM sel)
      |SELECT f.doc_id, CAST(mm.m AS BIGINT) AS n_grams,
      |  count(*) AS n_fp,
      |  md5(string_agg(f.sel_pos || ':' || f.h, ',' ORDER BY f.sel_pos))
      |    AS fp_digest
      |FROM fp f JOIN mm ON mm.doc_id = f.doc_id
      |GROUP BY f.doc_id, mm.m
      |ORDER BY f.doc_id""".stripMargin

  /** q119: CLUSTER SURVIVOR POLICY — the production refinement of q53:
    * instead of keeping the min-id document of each duplicate cluster,
    * keep the BEST one (longest text, ties to the lower doc_id) — the
    * "keep the most complete copy" rule real dedup pipelines apply.
    * Same cluster assignment as q53 (LSH pairs -> distributed connected
    * components); the policy is one max(struct(quality, -doc_id))
    * aggregate per cluster joined back — both on the cluster_id key the
    * labeling already shuffled on.
    */
  def q119ClusterKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val comp = graft.operators.ConnectedComponents
      .components(candidatePairs(docs), "doc_a", "doc_b")
      .withColumnRenamed("node", "doc_id")
    val labeled = docs.select(col("doc_id"), col("n_chars"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
    val best = labeled.groupBy("cluster_id")
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("b"))
    labeled.join(best, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("n_chars"),
        (col("n_chars") === col("b").getField("n_chars") &&
          col("doc_id") === -col("b").getField("nd")).as("keep"))
  }

  /** q119 oracle: q53's recursive transitive closure for the cluster
    * labels, then rank by (n_chars desc, doc_id) within each cluster.
    */
  val q119Sql: String =
    s"""WITH RECURSIVE $pairCtes,
      |edges AS MATERIALIZED (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION
      |  SELECT doc_b AS a, doc_a AS b FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (
      |  SELECT a AS doc_id, min(b) AS min_reach FROM reach GROUP BY a),
      |lab AS (
      |  SELECT d.doc_id, d.n_chars,
      |    CASE WHEN c.min_reach IS NULL THEN d.doc_id
      |         ELSE least(d.doc_id, c.min_reach) END AS cluster_id
      |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
      |r AS (
      |  SELECT doc_id, cluster_id, n_chars,
      |    row_number() OVER (PARTITION BY cluster_id
      |                       ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM lab)
      |SELECT doc_id, cluster_id, n_chars, rn = 1 AS keep
      |FROM r ORDER BY doc_id""".stripMargin

  /** q168 similarity threshold as an exact rational (tau = 1/2). */
  val PFX_TAU_NUM = 1
  val PFX_TAU_DEN = 2

  /** q168: PREFIX-FILTERED EXACT SIMILARITY JOIN (the PPJoin/AllPairs
    * candidate-generation idea) — every doc pair with shingle Jaccard
    * >= 1/2, found WITHOUT the all-pairs join and WITHOUT q29's lossy
    * rare-shingle blocking. Each doc's shingle set is globally ordered
    * rarest-first (df asc, hash asc — realized as a DENSE DICTIONARY
    * id, so the order is the id order); if J(a,b) >= tau the two docs'
    * PREFIXES (first n - ceil(tau*n) + 1 ids) must share an id, so
    * only prefix postings self-join. The oracle is the literal
    * all-pairs definition with no filter — proving the prune LOSSLESS,
    * which rare-df blocking is not.
    *
    * VERIFICATION is where the first cut of this operator died at
    * bench scale (257 s): this corpus is adversarial for prefix
    * filtering — 5000 docs share a 2041-shingle vocabulary, so ~11M
    * candidate pairs survive and an explode-join-groupBy intersection
    * (769M pair-entries) is hopeless. Three measured fixes:
    *
    *   1. PPJoin POSITIONAL FILTER at emission: a match at prefix
    *      positions (i, j) bounds the overlap by 1 + min(na-i, nb-j),
    *      which must reach t = ceil(tau/(1+tau)*(na+nb)); late matches
    *      are pruned as they are generated (89M -> 27.5M raw
    *      emissions). Lossless: a true pair's FIRST shared prefix id
    *      always passes the bound.
    *   2. Candidates dedup to (doc_a, doc_b) BEFORE verification —
    *      16-byte rows through one shuffle (27.5M -> 6.3M pairs).
    *   3. CODEGEN'D TWO-POINTER verification with early abort
    *      ([[graft.plans.SortedIntersectGe]]): the per-doc SORTED id
    *      lists broadcast, and each candidate pays one fused-loop
    *      merge that exits the moment the remaining elements cannot
    *      reach t. Corpus-independent per pair (O(n_sh)), zero
    *      allocation, and junk candidates (6.27M candidates hold 256
    *      true pairs here) abort at the overlap deficit.
    *
    * The verify representation took three rounds to get right, each
    * step measured: explode-join-groupBy (257 s at sf0.1) -> dense
    * V/64-word bitmaps (~5 s at sf0.1 but 20x on 10x data — the
    * GLOBAL vocabulary sizes every doc's bitmap, so build and verify
    * were both quadratic in corpus size) -> sparse word-index->word
    * MAPS (fixed the vocab-quadratic build, but the map_zip_with +
    * aggregate HOF verify is interpreted and allocates per pair:
    * ~90 us core per candidate, and sf1 stayed at 172 s vs dense's
    * 150 s — the per-pair constant, not the asymptotics, dominated) ->
    * this expression (see SURVEY §8j for the three isolated sf1
    * measurements). A stage-by-stage decomposition attributed 94% of
    * sf1 wall time to the verify join.
    */
  def q168PrefixJoin(spark: SparkSession, dir: String): DataFrame =
    Pins.keep(spark)(q168Plan(spark, dir))

  /** The q168 plan before its result pin (PlanAuditSpec checks its
    * shape). It pins and caches its inputs: call it inside a scope.
    */
  def q168Plan(spark: SparkSession, dir: String): DataFrame = {
    // round 10 (guide §1.2): pin the shingle postings — the dictionary
    // build and the per-doc id-list build each evaluated the explode,
    // running the rolling-hash shingling over the corpus text twice
    // (fanning the scan first was measured slower and reverted — the
    // text exchange outweighs parallel shingling on a small corpus)
    val e = Pins.pin(Tables(spark, dir).documents
      .select(col("doc_id"),
        explode(graft.plans.ShingleHashSet(col("text"), SHINGLE_N)).as("sh")))
    // dense rarest-first dictionary: id order == (df, sh) order.
    // The vocabulary GROWS with the corpus (20k at sf1, 10^8+ at
    // 100 TB), so the global numbering goes through GlobalRank's
    // distributed range-partitioned rank, not a one-task
    // Window.orderBy — the q42 lesson applied here. (The broadcast
    // below is a hint that holds to executor memory; a 10^8-entry
    // dictionary would hash-join instead, same plan otherwise.)
    val dict = graft.operators.GlobalRank
      .withRowNumber(e.groupBy("sh").agg(count(lit(1)).as("df")),
        "rn", col("df"), col("sh"))
      .select(col("sh"), (col("rn") - 1).as("id")).transform(Pins.cache)
    // per-doc SORTED id list — the prefix source AND (since round 7)
    // the verify representation: SortedIntersectGe merges two sorted
    // lists directly, so no derived bitmap/map structure is built at
    // all (the round's sf1 probe showed the verify REPRESENTATION, not
    // the candidate asymptotics, dominating: interpreted map-HOF
    // intersection cost ~90 us core per candidate; the codegen'd
    // two-pointer merge with early abort is ~100x cheaper per pair)
    val docs = e.join(broadcast(dict), "sh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list("id")).as("ids"))
      .select(col("doc_id"), size(col("ids")).cast("long").as("n_sh"),
        col("ids"))
      .transform(Pins.cache)
    // ASYMMETRIC prefixes (PPJoin's index-prefix refinement, round 7):
    // orient each pair by LENGTH — the SHORTER record plays the
    // INDEXED role and only needs the index prefix
    // n - ceil(2tau/(1+tau)*n) + 1 (valid because t(x,y) =
    // ceil(tau/(1+tau)(nx+ny)) >= ceil(2tau/(1+tau)*nx) exactly when
    // nx <= ny), while the longer record keeps the probe prefix
    // n - ceil(tau*n) + 1 (t >= ceil(tau*ny) via the length filter).
    // Equal lengths tie-break on doc_id; both bounds hold with
    // equality. At tau=1/2 the indexed side shrinks 0.5n -> 0.333n —
    // about a third fewer candidate emissions, still provably
    // lossless (the all-pairs oracle gates it).
    def prefixed(len: Column) = docs.select(col("doc_id"), col("n_sh"),
      posexplode(slice(col("ids"), lit(1), len.cast("int"))))
      .select(col("doc_id"), col("n_sh"), (col("pos") + 1).as("p"),
        col("col").as("id"))
    val ceilTauN = (col("n_sh") * PFX_TAU_NUM + PFX_TAU_DEN - 1)
      .divide(PFX_TAU_DEN).cast("long")
    val ceil2TauN = (col("n_sh") * (2 * PFX_TAU_NUM) +
      (PFX_TAU_NUM + PFX_TAU_DEN) - 1)
      .divide(PFX_TAU_NUM + PFX_TAU_DEN).cast("long")
    val preIdx = prefixed(col("n_sh") - ceil2TauN + 1)   // shorter side
    val prePrb = prefixed(col("n_sh") - ceilTauN + 1)    // longer side
    // overlap threshold t = ceil(tau/(1+tau)*(na+nb)); "ubound >= t"
    // in integers is (TAU_NUM+TAU_DEN)*ubound >= TAU_NUM*(na+nb)
    val ubound = lit(1) + least(col("pa.n_sh") - col("pa.p"),
      col("pb.n_sh") - col("pb.p"))
    val cand = preIdx.as("pa")
      .join(broadcast(prePrb.as("pb")),
        col("pa.id") === col("pb.id") &&
          // pa is the shorter record (ties break on doc_id)
          (col("pa.n_sh") < col("pb.n_sh") ||
            (col("pa.n_sh") === col("pb.n_sh") &&
              col("pa.doc_id") < col("pb.doc_id"))) &&
          // length filter: tau*n_long <= n_short
          col("pb.n_sh") * PFX_TAU_NUM <= col("pa.n_sh") * PFX_TAU_DEN &&
          // PPJoin positional filter (lossless: the first shared
          // prefix id of a true pair always passes)
          ubound * (PFX_TAU_NUM + PFX_TAU_DEN) >=
            (col("pa.n_sh") + col("pb.n_sh")) * PFX_TAU_NUM)
      .select(least(col("pa.doc_id"), col("pb.doc_id")).as("doc_a"),
        greatest(col("pa.doc_id"), col("pb.doc_id")).as("doc_b"))
      .distinct()
    def side(tag: String) = docs.toDF(s"doc_${tag}1", s"n_${tag}1", s"${tag}ids")
    // exact thresholded verify: J >= tau  <=>  n_inter >= t with
    // t = ceil(tau/(1+tau)*(na+nb)) (same algebra as the emission
    // bound); SortedIntersectGe returns the exact count when it
    // reaches t and -1 otherwise, aborting early on junk pairs.
    // Broadcast holds to executor memory here (|docs| * n_sh longs);
    // at true 100 TB the same plan hash-joins by letting AQE pick —
    // candidates and id lists co-partition on the doc key.
    val thr = ((col("n_a1") + col("n_b1")) * PFX_TAU_NUM +
      (PFX_TAU_NUM + PFX_TAU_DEN) - 1)
      .divide(PFX_TAU_NUM + PFX_TAU_DEN).cast("long")
    cand
      .join(broadcast(side("a")), col("doc_a") === col("doc_a1"))
      .join(broadcast(side("b")), col("doc_b") === col("doc_b1"))
      .withColumn("n_inter",
        graft.plans.SortedIntersectGe(col("aids"), col("bids"), thr))
      .filter(col("n_inter") >= 0L)
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        floor(col("n_inter") * lit(1e6) /
          (col("n_a1") + col("n_b1") - col("n_inter")) + lit(0.5))
          .cast("long").as("jac_micro"))
  }

  val q168Sql: String =
    s"""WITH e AS (
      |  SELECT doc_id, unnest(list_distinct($duckShingleHashes)) AS sh
      |  FROM documents),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM e GROUP BY doc_id),
      |pair AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT p.doc_a, p.doc_b, CAST(p.n_inter AS BIGINT) AS n_inter,
      |  CAST(floor(p.n_inter * 1e6 / (sa.n_sh + sb.n_sh - p.n_inter) + 0.5)
      |    AS BIGINT) AS jac_micro
      |FROM pair p
      |JOIN sizes sa ON sa.doc_id = p.doc_a
      |JOIN sizes sb ON sb.doc_id = p.doc_b
      |WHERE p.n_inter * $PFX_TAU_DEN >=
      |  (sa.n_sh + sb.n_sh - p.n_inter) * $PFX_TAU_NUM
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q207: DEDUPLICATION ROI / PROVENANCE REPORT — per source: how many
    * docs exact-dedup removes (md5-content clusters keep the minimum
    * doc_id), how many characters that saves, and — the governance
    * signal — how many of the removed docs have their KEEPER in a
    * DIFFERENT source (cross-source duplication means dropping a
    * source does not drop its content, and per-source quota accounting
    * is double-counting). One hash shuffle (ids + hashes only, text
    * never moves — the q26 discipline), the keeper's source captured
    * by min_by in the same aggregate, one join back, one tiny rollup.
    */
  def q207DedupRoi(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(col("text")).as("h"))
    val keepers = docs.groupBy("h")
      .agg(min("doc_id").as("keep_id"), min_by(col("source"), col("doc_id"))
        .as("keep_src"))
    docs.join(keepers, "h")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
          .as("n_removed"),
        sum(when(col("doc_id") =!= col("keep_id"), col("n_chars"))
          .otherwise(0L)).as("chars_saved"),
        sum(when(col("doc_id") =!= col("keep_id") &&
          col("keep_src") =!= col("source"), 1L).otherwise(0L))
          .as("cross_source_dups"))
      .withColumn("removed_pct_micro",
        floor(col("n_removed") * lit(1e6) / col("n_docs") + lit(0.5))
          .cast("long"))
  }

  val q207Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars, md5(text) AS h FROM documents),
      |k AS (
      |  SELECT h, min(doc_id) AS keep_id, arg_min(source, doc_id) AS keep_src
      |  FROM d GROUP BY 1)
      |SELECT d.source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN d.doc_id <> k.keep_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_removed,
      |  CAST(sum(CASE WHEN d.doc_id <> k.keep_id THEN d.n_chars ELSE 0 END)
      |    AS BIGINT) AS chars_saved,
      |  CAST(sum(CASE WHEN d.doc_id <> k.keep_id AND k.keep_src <> d.source
      |    THEN 1 ELSE 0 END) AS BIGINT) AS cross_source_dups,
      |  CAST(floor(sum(CASE WHEN d.doc_id <> k.keep_id THEN 1 ELSE 0 END)
      |    * 1e6 / count(*) + 0.5) AS BIGINT) AS removed_pct_micro
      |FROM d JOIN k USING (h)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q208 configurations: every (bands, rows_per_band) factorization of
    * the [[NUM_HASHES]]-hash signature into power-of-two bands. Power-
    * of-two exponents matter: j^r and (1-j^r)^b evaluate as squaring
    * chains — identical IEEE multiply trees in both engines — and
    * j = n_equal/16 is itself exactly representable, so every detection
    * probability is bit-deterministic with no libm pow() involved.
    */
  val LSH_CONFIGS: Seq[(Int, Int)] =
    Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))

  /** q208: LSH BAND-CONFIGURATION TUNING — for each way of splitting
    * the 16-hash MinHash signature into b bands of r rows, the
    * expected number of candidate pairs the banding would detect,
    * evaluated over the CURRENT corpus's estimated pair similarities
    * (the q72 signature-agreement estimates): p_detect = 1-(1-j^r)^b.
    * This is how a dedup pipeline picks its banding before a 100 TB
    * run — from a sample's similarity profile, not a guess. The heavy
    * input is the q72 candidate frame (already band-bounded); the
    * tuning math is a 5-config explode over that frame and a 5-row
    * rollup. Per-pair probabilities are micro-floored BEFORE summing —
    * legal because the doubles are bit-identical cross-engine (see
    * [[LSH_CONFIGS]]) — so the report is pure BIGINT.
    */
  def q208LshTuning(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    def sq(c: Column, times: Int): Column =
      (1 to times).foldLeft(c)((acc, _) => acc * acc)
    def powP2(c: Column, e: Int): Column = {
      require(e > 0 && (e & (e - 1)) == 0, s"power of two: $e")
      sq(c, java.lang.Integer.numberOfTrailingZeros(e))
    }
    val j = col("n_equal").cast("double") / lit(NUM_HASHES.toDouble)
    val cfgCols = LSH_CONFIGS.map { case (b, r) =>
      val p = lit(1.0) - powP2(lit(1.0) - powP2(j, r), b)
      struct(lit(b).as("bands"), lit(r).as("rows_per_band"),
        floor(p * lit(1e6) + lit(0.5)).cast("long").as("p_micro"))
    }
    q72MinhashEstimate(spark, dir)
      .select(explode(array(cfgCols: _*)).as("c"))
      .select(col("c.bands").as("bands"),
        col("c.rows_per_band").as("rows_per_band"), col("c.p_micro"))
      .groupBy("bands", "rows_per_band")
      .agg(count(lit(1)).as("n_pairs"),
        sum("p_micro").as("expected_detect_micro"),
        sum(when(col("p_micro") >= 500000L, 1L).otherwise(0L))
          .as("n_majority"))
  }

  val q208Sql: String = {
    val eqTerms = (0 until NUM_HASHES)
      .map(k => s"CASE WHEN a.s$k = b.s$k THEN 1 ELSE 0 END").mkString(" + ")
    def sq(s: String, times: Int): String =
      (1 to times).foldLeft(s)((acc, _) => s"($acc * $acc)")
    def powP2(s: String, e: Int): String =
      sq(s, java.lang.Integer.numberOfTrailingZeros(e))
    val branches = LSH_CONFIGS.map { case (b, r) =>
      val p = s"(1.0 - ${powP2(s"(1.0 - ${powP2("j", r)})", b)})"
      s"""SELECT $b AS bands, $r AS rows_per_band, count(*) AS n_pairs,
      |  CAST(sum(CAST(floor($p * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
      |    AS expected_detect_micro,
      |  CAST(sum(CASE WHEN floor($p * 1e6 + 0.5) >= 500000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_majority
      |FROM est"""
    }.mkString("\nUNION ALL\n")
    s"""WITH $pairCtes,
      |est AS (
      |  SELECT ($eqTerms) / $NUM_HASHES.0 AS j
      |  FROM pairs p
      |  JOIN sig a ON a.doc_id = p.doc_a
      |  JOIN sig b ON b.doc_id = p.doc_b)
      |$branches
      |ORDER BY bands""".stripMargin
  }

  /** q220 evaluation thresholds, micro units (both >= the q168 prefix
    * join's tau = 1/2, so the exact-pair universe covers the truth
    * sets).
    */
  val EVAL_TAUS: Seq[Long] = Seq(500000L, 700000L)

  /** q220: DEDUP CANDIDATE QUALITY EVALUATION — precision and recall
    * of the MinHash-LSH candidate generator (q27's band join) against
    * the EXACT Jaccard truth, at multiple similarity thresholds. This
    * is the measurement that justifies (or rejects) a banding config
    * in production — the empirical counterpart of q208's analytic
    * tuning curve. Truth pairs come from the q168 prefix-filtered
    * exact join (lossless at tau = 1/2, so the truth universe is
    * complete for both thresholds); "truth at tau" uses the same
    * micro-quantized Jaccard both engines compute bit-identically.
    * The report is three 1-row aggregates (candidate count, per-tau
    * true counts, per-tau hit counts) cross-joined and exploded to one
    * row per threshold — nothing heavier than the two pair frames that
    * already exist.
    */
  def q220DedupEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val exact = q168PrefixJoin(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jac_micro"))
      .transform(Pins.pin)
    val cand = Pins.pin(candidatePairs(docs))
    val candJac = cand.join(exact, Seq("doc_a", "doc_b"))
    val truthCols = EVAL_TAUS.map(t =>
      sum(when(col("jac_micro") >= t, 1L).otherwise(0L)).as(s"true_$t"))
    val truthAgg = exact.agg(truthCols.head, truthCols.tail: _*)
    val tpCols = EVAL_TAUS.map(t =>
      sum(when(col("jac_micro") >= t, 1L).otherwise(0L)).as(s"tp_$t"))
    val tpAgg = candJac.agg(tpCols.head, tpCols.tail: _*)
    val nCand = cand.agg(count(lit(1)).as("n_cand"))
    val stacked = EVAL_TAUS.map(t => s"${t}L, true_$t, tp_$t").mkString(", ")
    nCand.crossJoin(truthAgg).crossJoin(tpAgg)
      .selectExpr("n_cand",
        s"stack(${EVAL_TAUS.size}, $stacked) as (tau_micro, n_true, tp)")
      .select(col("tau_micro"), col("n_true"), col("n_cand"), col("tp"),
        when(col("n_cand") > 0,
          floor(col("tp") * lit(1e6) / col("n_cand") + lit(0.5)).cast("long"))
          .otherwise(0L).as("precision_micro"),
        when(col("n_true") > 0,
          floor(col("tp") * lit(1e6) / col("n_true") + lit(0.5)).cast("long"))
          .otherwise(0L).as("recall_micro"))
  }

  val q220Sql: String = {
    val branches = EVAL_TAUS.map { t =>
      s"""SELECT $t AS tau_micro,
      |  (SELECT count(*) FROM ex WHERE jac >= $t) AS n_true,
      |  (SELECT count(*) FROM pairs) AS n_cand,
      |  (SELECT count(*) FROM cj WHERE jac >= $t) AS tp"""
    }.mkString("\nUNION ALL\n")
    s"""WITH $pairCtes,
      |ee AS (
      |  SELECT doc_id, unnest(list_distinct($duckShingleHashes)) AS sh
      |  FROM documents),
      |ss AS (SELECT doc_id, count(*) AS n_sh FROM ee GROUP BY doc_id),
      |pp AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM ee a JOIN ee b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |ex AS (
      |  SELECT p.doc_a, p.doc_b,
      |    CAST(floor(p.n_inter * 1e6 / (sa.n_sh + sb.n_sh - p.n_inter) + 0.5)
      |      AS BIGINT) AS jac
      |  FROM pp p
      |  JOIN ss sa ON sa.doc_id = p.doc_a
      |  JOIN ss sb ON sb.doc_id = p.doc_b
      |  WHERE p.n_inter * $PFX_TAU_DEN >=
      |    (sa.n_sh + sb.n_sh - p.n_inter) * $PFX_TAU_NUM),
      |cj AS (
      |  SELECT c.doc_a, c.doc_b, ex.jac
      |  FROM pairs c JOIN ex USING (doc_a, doc_b)),
      |br AS (
      |$branches)
      |SELECT tau_micro, n_true, n_cand, tp,
      |  CASE WHEN n_cand > 0
      |    THEN CAST(floor(tp * 1e6 / n_cand + 0.5) AS BIGINT) ELSE 0 END
      |    AS precision_micro,
      |  CASE WHEN n_true > 0
      |    THEN CAST(floor(tp * 1e6 / n_true + 0.5) AS BIGINT) ELSE 0 END
      |    AS recall_micro
      |FROM br ORDER BY tau_micro""".stripMargin
  }

  /** q225: DUPLICATE-CLUSTER DENSITY PROFILE — per multi-doc cluster
    * (the q53 components), its node count, its candidate-pair edge
    * count, and the edge density 2E/(n·(n−1)). Density ~1 means the
    * cluster is a clique of mutual near-dups (safe to keep one doc);
    * low density flags CHAINED clusters — A~B~C where A and C are NOT
    * similar — which aggressive transitive dedup would wrongly
    * collapse. This is the audit that decides between cluster-level
    * (q119) and pairwise-verified (q29) removal policies. Costs one
    * broadcast-size join of the pair list against the component
    * labels plus two tiny rollups.
    */
  def q225ClusterDensity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val pairs = Pins.pin(candidatePairs(docs))
    val comp = graft.operators.ConnectedComponents
      .components(pairs, "doc_a", "doc_b")
    val nodes = comp.groupBy("comp").agg(count(lit(1)).as("n_nodes"))
    val edges = pairs
      .join(comp.select(col("node").as("doc_a"), col("comp")), "doc_a")
      .groupBy("comp").agg(count(lit(1)).as("n_edges"))
    nodes.join(edges, "comp")
      .select(col("comp").as("cluster_id"), col("n_nodes"), col("n_edges"),
        floor(col("n_edges") * lit(2) * lit(1e6) /
          (col("n_nodes") * (col("n_nodes") - 1)) + lit(0.5)).cast("long")
          .as("density_micro"))
  }

  val q225Sql: String =
    s"""WITH RECURSIVE $pairCtes,
      |edges AS MATERIALIZED (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION
      |  SELECT doc_b AS a, doc_a AS b FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (
      |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      |  FROM reach GROUP BY a),
      |nodes AS (
      |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_nodes
      |  FROM comp GROUP BY 1),
      |ec AS (
      |  SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_edges
      |  FROM pairs p JOIN comp c ON c.doc_id = p.doc_a
      |  GROUP BY 1)
      |SELECT n.cluster_id, n.n_nodes, e.n_edges,
      |  CAST(floor(e.n_edges * 2 * 1e6 /
      |    (n.n_nodes * (n.n_nodes - 1)) + 0.5) AS BIGINT) AS density_micro
      |FROM nodes n JOIN ec e USING (cluster_id)
      |ORDER BY cluster_id""".stripMargin

  /** q230: SURVIVORSHIP / GOLDEN-RECORD FUSION — for every duplicate
    * cluster (the q53 components), the merged record master-data
    * pipelines emit: each field takes its value from the best donor by
    * a per-field rule (longest text wins content, minimum doc_id wins
    * identity, earliest source alphabetically wins provenance), which
    * is exactly how q119's "keep best" generalizes when fields should
    * fuse ACROSS cluster members instead of keeping one row intact.
    * All rules are struct-argmax aggregates with total-order
    * tie-breaks, so the golden record is deterministic in any engine.
    * One join of the doc features against the component labels, one
    * cluster-grain aggregate.
    */
  def q230Survivorship(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val comp = graft.operators.ConnectedComponents
      .components(candidatePairs(docs), "doc_a", "doc_b")
      .withColumnRenamed("node", "doc_id")
    // argmax with a deterministic tie-break, packed into ONE ordered
    // BIGINT (chars·2^32 − doc_id): max() picks the longest text and,
    // among equals, the lowest doc_id — identical semantics in any
    // engine, no struct-comparison dialect differences
    val donorKey = col("n_chars") * lit(4294967296L) - col("doc_id")
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(comp, Seq("doc_id"))
      .groupBy("comp")
      .agg(
        count(lit(1)).as("n_members"),
        min("doc_id").as("golden_id"),
        max(donorKey).as("dk"),
        min("source").as("provenance"),
        countDistinct("source").as("n_sources"))
      .select(col("comp").as("cluster_id"), col("n_members"),
        col("golden_id"),
        expr("(dk + 4294967295) div 4294967296").as("content_chars"),
        (expr("(dk + 4294967295) div 4294967296") * lit(4294967296L) -
          col("dk")).as("content_donor"),
        col("provenance"), col("n_sources"))
  }

  val q230Sql: String =
    s"""WITH RECURSIVE $pairCtes,
      |edges AS MATERIALIZED (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION
      |  SELECT doc_b AS a, doc_a AS b FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (
      |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      |  FROM reach GROUP BY a),
      |m AS (
      |  SELECT c.cluster_id, d.doc_id, d.source, d.n_chars,
      |    d.n_chars * 4294967296 - d.doc_id AS dk
      |  FROM comp c JOIN documents d USING (doc_id)),
      |g AS (
      |  SELECT cluster_id, count(*) AS n_members,
      |    min(doc_id) AS golden_id, CAST(max(dk) AS BIGINT) AS dk,
      |    min(source) AS provenance,
      |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      |  FROM m GROUP BY 1)
      |SELECT cluster_id, n_members, golden_id,
      |  (dk + 4294967295) // 4294967296 AS content_chars,
      |  ((dk + 4294967295) // 4294967296) * 4294967296 - dk AS content_donor,
      |  provenance, n_sources
      |FROM g ORDER BY cluster_id""".stripMargin

  /** q238 chunk geometry — q43's sliding windows, re-declared here so
    * the operator and oracle share one set of literals.
    */
  val CHUNK_ND_SIZE = 200
  val CHUNK_ND_STRIDE = 150

  /** q238: CHUNK-LEVEL NEAR-DUP DETECTION — the partial-overlap case
    * document-level MinHash (q27) structurally misses: a document that
    * EMBEDS a copied paragraph inside otherwise-novel text shares too
    * little with its source for whole-doc signatures to collide. So
    * the banding runs at CHUNK granularity (q43's 200/150 sliding
    * windows): per chunk a MinHash signature, per band a bucket join,
    * and the report rolls colliding chunk pairs up to the DOC pair
    * with the count of linked chunks — exactly the evidence a
    * takedown/attribution pipeline needs ("which passages overlap"),
    * not just a verdict. The fanout is bounded: chunks/doc ~
    * len/stride, and the band join carries (ids, hashes) only.
    */
  def q238ChunkNeardup(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: per-chunk MinHash ran on the 1-task docs scan —
    // Tables.fanOut, guide §2.5
    val chunks = Tables.fanOut(Tables(spark, dir).documents
        .select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        explode(expr(s"sequence(0, cast(greatest(ceil(length(text) / " +
          s"$CHUNK_ND_STRIDE.0), 1) as int) - 1)")).as("chunk_idx"),
        col("text"))
      .select(col("doc_id"), col("chunk_idx"),
        substring(col("text"), col("chunk_idx") * CHUNK_ND_STRIDE + 1,
          lit(CHUNK_ND_SIZE)).as("chunk"))
      // trailing chunks shorter than one shingle have NO shingles — the
      // signature would be the all-sentinel vector, colliding every
      // such chunk pair across unrelated docs in ALL bands (spurious
      // links + a quadratic band-join blowup among them)
      .filter(length(col("chunk")) >= SHINGLE_N)
    val sigs = chunks.select(col("doc_id"), col("chunk_idx"),
      graft.plans.MinHashSignature(col("chunk"), SHINGLE_N, NUM_HASHES)
        .as("sig"))
    val bands = sigs.select(col("doc_id"), col("chunk_idx"),
      posexplode(array((0 until NUM_BANDS).map { b =>
        md5(concat_ws(",",
          (0 until ROWS_PER_BAND).map(r =>
            col("sig").getItem(b * ROWS_PER_BAND + r).cast("string")): _*))
      }: _*)).as(Seq("band_idx", "band_hash")))
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("a.chunk_idx").as("ca"),
        col("b.doc_id").as("doc_b"), col("b.chunk_idx").as("cb"))
      .distinct()
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_chunk_links"),
        countDistinct("ca").as("n_chunks_a"),
        countDistinct("cb").as("n_chunks_b"))
  }

  val q238Sql: String = {
    val sigDefs = (0 until NUM_HASHES).map { k =>
      val (a, b) = minhashCoeff(k)
      s"coalesce(list_min(list_transform(hs, h -> (h * $a + $b) % $MINHASH_P)), $MINHASH_P) AS s$k"
    }.mkString(",\n    ")
    val bandRows = (0 until NUM_BANDS).map { b =>
      val cc = (0 until ROWS_PER_BAND)
        .map(r => s"CAST(s${b * ROWS_PER_BAND + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, chunk_idx, $b AS band_idx, md5($cc) AS band_hash FROM csig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ch AS (
      |  SELECT doc_id, i AS chunk_idx,
      |    substr(text, i * $CHUNK_ND_STRIDE + 1, $CHUNK_ND_SIZE) AS chunk
      |  FROM (
      |    SELECT doc_id, text,
      |      unnest(generate_series(0,
      |        CAST(greatest(ceil(length(text) / $CHUNK_ND_STRIDE.0), 1) AS INT) - 1)) AS i
      |    FROM documents)
      |  -- sub-shingle trailing chunks carry no signal (all-sentinel
      |  -- signature) — drop them, mirroring the Spark-side filter
      |  WHERE length(substr(text, i * $CHUNK_ND_STRIDE + 1, $CHUNK_ND_SIZE))
      |    >= $SHINGLE_N),
      |csh AS MATERIALIZED (
      |  SELECT doc_id, chunk_idx,
      |    list_transform(generate_series(1, length(chunk) - ${SHINGLE_N - 1}),
      |      i -> list_reduce(
      |             list_transform(generate_series(i, i + ${SHINGLE_N - 1}),
      |                            j -> CAST(ascii(substr(chunk, j, 1)) AS BIGINT)),
      |             (a, c) -> a * 31 + c) % $MINHASH_P) AS hs
      |  FROM ch),
      |csig AS MATERIALIZED (
      |  SELECT doc_id, chunk_idx,
      |    $sigDefs
      |  FROM csh),
      |cbands AS (
      |  $bandRows),
      |links AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, a.chunk_idx AS ca,
      |    b.doc_id AS doc_b, b.chunk_idx AS cb
      |  FROM cbands a JOIN cbands b
      |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
      |   AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, count(*) AS n_chunk_links,
      |  CAST(count(DISTINCT ca) AS BIGINT) AS n_chunks_a,
      |  CAST(count(DISTINCT cb) AS BIGINT) AS n_chunks_b
      |FROM links GROUP BY 1, 2
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q238_chunk_neardup" ->
      Gate.sorted(q238ChunkNeardup _, "doc_a", "doc_b"),
    "q230_survivorship" -> Gate.sorted(q230Survivorship _, "cluster_id"),
    "q225_cluster_density" -> Gate.sorted(q225ClusterDensity _, "cluster_id"),
    "q220_dedup_eval" -> Gate.sorted(q220DedupEval _, "tau_micro"),
    "q207_dedup_roi" -> Gate.sorted(q207DedupRoi _, "source"),
    "q208_lsh_tuning" ->
      Gate.sorted(q208LshTuning _, "bands"),
    "q168_prefix_join" -> Gate.sorted(q168PrefixJoin _, "doc_a", "doc_b"),
    "q119_cluster_keep_best" -> Gate.sorted(q119ClusterKeepBest _, "doc_id"),
    "q106_winnow_fingerprint" -> Gate.sorted(q106WinnowFingerprint _, "doc_id"),
    "q27_minhash_lsh" -> Gate.sorted(q27MinhashLsh _, "doc_a", "doc_b"),
    "q28_simhash" -> (q28Simhash _),
    "q293_grouped_split" -> Gate.sorted(q293GroupedSplit _, "split"),
    "q83_simhash_pairs" -> Gate.sorted(q83SimhashPairs _, "doc_a", "doc_b"),
    "q29_ngram_jaccard" -> (q29NgramJaccard _),
    "q53_dup_clusters" -> Gate.sorted(q53DupClusters _, "doc_id"),
    "q67_split_leakage" -> Gate.sorted(q67SplitLeakage _, "doc_a", "doc_b"),
    "q68_ingest_dedup" -> Gate.sorted(q68IngestDedup _, "new_doc_id"),
    "q72_minhash_estimate" -> Gate.sorted(q72MinhashEstimate _, "doc_a", "doc_b"))

  val oracles: Map[String, String] = Map(
    "q238_chunk_neardup" -> q238Sql,
    "q230_survivorship" -> q230Sql,
    "q225_cluster_density" -> q225Sql,
    "q220_dedup_eval" -> q220Sql,
    "q207_dedup_roi" -> q207Sql,
    "q208_lsh_tuning" -> q208Sql,
    "q168_prefix_join" -> q168Sql,
    "q119_cluster_keep_best" -> q119Sql,
    "q106_winnow_fingerprint" -> q106Sql,
    "q27_minhash_lsh" -> q27Sql,
    "q28_simhash" -> q28Sql,
    "q83_simhash_pairs" -> q83Sql,
    "q29_ngram_jaccard" -> q29Sql,
    "q53_dup_clusters" -> q53Sql,
    "q293_grouped_split" -> q293Sql,
    "q67_split_leakage" -> q67Sql,
    "q68_ingest_dedup" -> q68Sql,
    "q72_minhash_estimate" -> q72Sql)
}
