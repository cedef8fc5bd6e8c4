package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sparse-text retrieval and similarity operators (SURVEY.md §2
  * q114–q115) — the lexical complement of the dense-embedding ANN
  * family (q30/q31/q41/q62/q82).
  *
  * Scale architecture: both operators are index-shaped, never
  * corpus-pairwise. BM25 (q114) is one text scan producing a tiny
  * per-doc feature frame; corpus statistics (df, avgdl) come from ONE
  * 1-row aggregate broadcast back — no shuffle touches document text,
  * and the top-k is a TakeOrderedAndProject (per-partition heaps + a
  * driver merge of K x partitions rows), not a global sort. TF-IDF
  * cosine pairs (q115) block candidates on RARE shingles (df <=
  * TFIDF_DF_MAX posting-list bound — the same discipline as q29's
  * rare-shingle join), then score ONLY candidates with an exact
  * inverted-index dot product; the all-pairs cross product never
  * exists.
  *
  * Cross-engine determinism: idf values are quantized to integer
  * micro-nats (floor(ln(x)*1e6 + 0.5) — the q97/q101 idiom), weights
  * and dot products stay in 64-bit integer space, and only the final
  * scalar (score / cosine) touches doubles, via identical IEEE ops on
  * bit-identical inputs in both engines.
  */
object Retrieval extends QueryModule {

  /** q114 query terms — literals in the plan AND the oracle SQL. */
  val BM25_TERMS: Seq[String] = Seq("spark", "join", "window", "stream", "vector")
  val BM25_TOP = 50
  // Classic Robertson defaults, embedded as the same literals in both
  // engines so every float op sees bit-identical inputs.
  private val K1 = "1.2"
  private val B = "0.75"

  /** q114: BM25 TOP-K RETRIEVAL — score every document against a fixed
    * term set with Okapi BM25 (idf * tf*(k1+1) / (tf + k1*(1-b +
    * b*dl/avgdl))) and return the global top-K. The per-doc tf counts
    * are array `filter` expressions over the token array — scan-stage,
    * zero-shuffle, no explode; corpus stats (N, total length, per-term
    * df) are ONE 1-row aggregate broadcast back onto the per-doc frame.
    * Per-term contributions are quantized to integer micro-units so the
    * top-K boundary is bit-portable.
    */
  def q114Bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val tfCols: Seq[Column] = BM25_TERMS.zipWithIndex.map { case (t, i) =>
      size(filter(col("tk"), x => x === lit(t))).as(s"tf$i")
    }
    // one text scan -> 7 ints per doc; pinned because both the stats
    // aggregate and the scoring pass read it
    val perDoc = Tables(spark, dir).documents
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(Seq(col("doc_id"), size(col("tk")).as("dl")) ++ tfCols: _*)
      .transform(graft.operators.Pins.pin)
    val statCols: Seq[Column] =
      Seq(count(lit(1)).as("n_docs"), sum(col("dl")).cast("long").as("total_len")) ++
        BM25_TERMS.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val contrib: Seq[Column] = BM25_TERMS.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      val norm = col(s"tf$i") +
        expr(K1) * (lit(0.25) +
          expr(B) * col("dl") * col("n_docs") / col("total_len").cast("double"))
      floor(idf * (col(s"tf$i") * lit(2.2)) / norm * lit(1e6) + lit(0.5)).cast("long")
    }
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        contrib.reduce(_ + _).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(BM25_TOP)
  }

  val q114Sql: String = {
    val tfDefs = BM25_TERMS.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tk, x -> x = '$t')) AS tf$i"
    }.mkString(",\n    ")
    val dfDefs = BM25_TERMS.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(",\n    ")
    val terms = BM25_TERMS.indices.map { i =>
      s"""CAST(floor(ln(1 + (n_docs - df$i + 0.5)/(df$i + 0.5))
         | * (tf$i*2.2)/(tf$i + $K1*(0.25 + $B*dl*n_docs/CAST(total_len AS DOUBLE)))
         | * 1e6 + 0.5) AS BIGINT)""".stripMargin.replaceAll("\n", "")
    }.mkString("\n  + ")
    s"""WITH d AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |                x -> x != '') AS tk
      |  FROM documents),
      |perdoc AS (
      |  SELECT doc_id, len(tk) AS dl,
      |    $tfDefs
      |  FROM d),
      |st AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS BIGINT) AS total_len,
      |    $dfDefs
      |  FROM perdoc)
      |SELECT doc_id, dl,
      |  $terms AS score_micro
      |FROM perdoc CROSS JOIN st
      |ORDER BY score_micro DESC, doc_id LIMIT $BM25_TOP""".stripMargin
  }

  /** q115 posting-list bound: candidate pairs must share a shingle with
    * df <= this. Bounds per-shingle join fanout at C(df,2).
    */
  val TFIDF_DF_MAX = 3
  val TFIDF_SHINGLE_N = 5

  /** q115: TF-IDF COSINE NEAR-DUP PAIRS — lexical (sparse-vector)
    * document similarity over character 5-gram TF-IDF weights, the
    * sparse counterpart of q40's embedding near-dup: candidates are
    * pairs sharing at least one RARE shingle (df <= TFIDF_DF_MAX), and
    * each candidate's EXACT cosine is computed by joining the two
    * docs' full weight vectors on the shingle key (inverted-index dot
    * product). Weights are integers (tf * micro-nat idf), so dot and
    * norms are exact 64-bit sums; only the final cosine division is
    * floating point, quantized to micro-units.
    */
  def q115TfidfPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val n = TFIDF_SHINGLE_N
    // fanOut: the shingle explode + tf partial aggregate ran as a
    // 1-task scan stage (2.8 s of the query at sf0.1) — guide §2.5
    val grams = Tables.fanOut(docs, col("doc_id"))
      .select(col("doc_id"), explode(expr(
      s"transform(sequence(1, greatest(length(text) - ${n - 1}, 1)), i -> substring(text, i, $n))"))
      .as("g"))
    val tf = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // integer weight w = tf * floor(ln(N/df)*1e6 + 0.5); pinned — it
    // feeds the norm pass, the candidate join (x2) and the dot (x2).
    // df comes from a count-over-g window on tf (round 9, guide §2.4):
    // the old shape aggregated a separate df table and joined it back,
    // re-exchanging tf by g TWICE (once under the df aggregate, once
    // for the join); the window needs the g exchange ONCE and no join.
    val w = tf
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("g"), col("df"),
        (col("tf") * floor(log(col("n_docs").cast("double") / col("df")) * lit(1e6) + lit(0.5))
          .cast("long")).as("w"))
      .transform(graft.operators.Pins.pin)
    val nrm = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
    val rare = w.filter(col("df") <= TFIDF_DF_MAX).select(col("doc_id"), col("g"))
    val cand = rare.as("a").join(rare.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val dot = cand
      .join(w.select(col("doc_id").as("doc_a"), col("g"), col("w").as("wa")), "doc_a")
      .join(w.select(col("doc_id").as("doc_b"), col("g"), col("w").as("wb")), Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"), sum(col("wa") * col("wb")).as("dot"))
    dot
      .join(nrm.select(col("doc_id").as("doc_a"), col("n2").as("na2")), "doc_a")
      .join(nrm.select(col("doc_id").as("doc_b"), col("n2").as("nb2")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        floor(col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double")))
          * lit(1e6) + lit(0.5)).cast("long").as("cosine_micro"))
  }

  val q115Sql: String =
    s"""WITH sh AS (
      |  SELECT doc_id,
      |    unnest(list_transform(
      |      generate_series(1, greatest(length(text) - ${TFIDF_SHINGLE_N - 1}, 1)),
      |      i -> substr(text, i, $TFIDF_SHINGLE_N))) AS g
      |  FROM documents),
      |tf AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS tf FROM sh GROUP BY 1, 2),
      |df AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |w AS (
      |  SELECT tf.doc_id, tf.g, df.df,
      |    tf.tf * CAST(floor(ln(CAST(n_docs AS DOUBLE) / df.df) * 1e6 + 0.5) AS BIGINT) AS w
      |  FROM tf JOIN df USING (g) CROSS JOIN nd),
      |nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY 1),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM w a JOIN w b ON a.g = b.g AND a.doc_id < b.doc_id
      |  WHERE a.df <= $TFIDF_DF_MAX),
      |dt AS (
      |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_shared,
      |    sum(wa.w * wb.w) AS dot
      |  FROM cand c
      |  JOIN w wa ON wa.doc_id = c.doc_a
      |  JOIN w wb ON wb.doc_id = c.doc_b AND wb.g = wa.g
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_shared,
      |  CAST(floor(CAST(dot AS DOUBLE)
      |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
      |    * 1e6 + 0.5) AS BIGINT) AS cosine_micro
      |FROM dt
      |JOIN nrm na ON na.doc_id = dt.doc_a
      |JOIN nrm nb ON nb.doc_id = dt.doc_b
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q203 geometry: queries, per-ranker candidate depth, fused output
    * size, and the standard RRF dampening constant (Cormack et al.).
    */
  val RRF_QUERIES = 3
  val RRF_DEPTH = 100
  val RRF_TOP = 10
  val RRF_K = 60

  /** q203: RECIPROCAL RANK FUSION — fuse two rankers over the
    * embedding corpus (cosine similarity, and the L2-equivalent score
    * `dot - ||x||²/2`, which orders candidates exactly as ascending
    * Euclidean distance does) with the standard RRF rule
    * `score = Σ_r 1/(K + rank_r)`, the zero-training way multi-signal
    * retrieval stacks combine lexical/dense/recency rankings. Plan:
    * the bounded query set broadcasts onto ONE corpus scan that
    * computes both scores per (query, candidate); each ranker's
    * top-[[RRF_DEPTH]] comes from a per-query row_number window (the
    * per-query candidate state is heap-bounded); the fusion is a
    * (query, candidate) aggregate over ≤ 2·DEPTH rows per query. Once
    * ranks are assigned, everything is integer: each rank contributes
    * floor(1e6/(K+rank)), so fused scores and the final ordering are
    * bit-identical across engines. Ranker scores are doubles from the
    * same left-to-right fold both engines use (the q30-established
    * parity), tie-broken by vec_id.
    */
  def q203RrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val queries = emb.filter(col("vec_id") < RRF_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val dot = aggregate(
      zip_with(col("q_emb"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, e) => acc + e)
    val nrm2 = aggregate(
      transform(col("embedding"), x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, e) => acc + e)
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.plans.CosineSimilarity(col("q_emb"), col("embedding")).as("cos"),
        (dot - nrm2 / 2).as("l2eq"))
    def ranked(score: Column): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(score.desc, col("vec_id").asc)
      scored.withColumn("r", row_number().over(w)).filter(col("r") <= RRF_DEPTH)
        .select(col("query_id"), col("vec_id"),
          floor(lit(1e6) / (lit(RRF_K) + col("r"))).cast("long").as("contrib"))
    }
    val fused = ranked(col("cos")).unionAll(ranked(col("l2eq")))
      .groupBy("query_id", "vec_id")
      .agg(sum("contrib").as("rrf_micro"), count(lit(1)).as("n_rankers"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("vec_id").asc)
    fused.withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= RRF_TOP)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("rrf_micro"), col("n_rankers"))
  }

  val q203Sql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id < $RRF_QUERIES),
       |scored AS (
       |  SELECT q.query_id, e.vec_id,
       |    list_sum(list_transform(generate_series(1, len(e.embedding)),
       |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(q.q_emb,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |         * sqrt(list_sum(list_transform(e.embedding,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos,
       |    list_sum(list_transform(generate_series(1, len(e.embedding)),
       |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
       |      - list_sum(list_transform(e.embedding,
       |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) / 2 AS l2eq
       |  FROM embeddings e, q WHERE e.vec_id != q.query_id),
       |ra AS (
       |  SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS r
       |  FROM scored),
       |rb AS (
       |  SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY l2eq DESC, vec_id) AS r
       |  FROM scored),
       |contrib AS (
       |  SELECT query_id, vec_id, CAST(floor(1e6 / ($RRF_K + r)) AS BIGINT) AS c
       |  FROM ra WHERE r <= $RRF_DEPTH
       |  UNION ALL
       |  SELECT query_id, vec_id, CAST(floor(1e6 / ($RRF_K + r)) AS BIGINT) AS c
       |  FROM rb WHERE r <= $RRF_DEPTH),
       |fused AS (
       |  SELECT query_id, vec_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
       |    count(*) AS n_rankers,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY sum(c) DESC, vec_id) AS rank
       |  FROM contrib GROUP BY 1, 2)
       |SELECT query_id, rank, vec_id AS neighbor_id, rrf_micro, n_rankers
       |FROM fused WHERE rank <= $RRF_TOP
       |ORDER BY query_id, rank""".stripMargin

  /** q307 conjunctive query: both terms required; adjacency scored. */
  val CONJ_T1 = "spark"
  val CONJ_T2 = "join"
  val CONJ_TOP = 20

  /** q307: CONJUNCTIVE + PHRASE SEARCH — the boolean-AND retrieval
    * primitive q114's bag-of-words scoring cannot express: documents
    * containing BOTH query terms, ranked by combined term frequency,
    * with the POSITIONAL index consulted for exact-phrase adjacency
    * ("T1 T2" as consecutive tokens — the q178 positions put to work).
    *
    * Scale shape: per-term position lists are built INSIDE the row
    * (index-aware `transform`/`filter` lambdas over the token array —
    * no posexplode, no token shuffle), the AND is a row-local
    * emptiness test, and the only post-scan operator is the top-k
    * TakeOrderedAndProject. At 100 TB this is one scan + K-bounded
    * merge; with a persisted q178 index the scan becomes two posting
    * fetches, same downstream shape.
    *
    * Integer-only scoring (tf sums, adjacency counts) — nothing for
    * the engines to disagree on.
    */
  def q307ConjunctiveSearch(spark: SparkSession, dir: String): DataFrame = {
    val ws = filter(split(lower(col("text")), "[^a-z0-9]+"), w => w =!= "")
    def positions(term: String): Column =
      expr(s"filter(transform(ws, (w, i) -> IF(w = '$term', " +
        "CAST(i + 1 AS BIGINT), CAST(-1 AS BIGINT))), p -> p != -1)")
    Tables(spark, dir).documents
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), positions(CONJ_T1).as("p1"),
        positions(CONJ_T2).as("p2"))
      .filter(size(col("p1")) > 0 && size(col("p2")) > 0)
      .select(col("doc_id"),
        size(col("p1")).cast("long").as("tf1"),
        size(col("p2")).cast("long").as("tf2"),
        (size(col("p1")) + size(col("p2"))).cast("long").as("score"),
        size(expr("filter(p1, p -> array_contains(p2, p + 1))"))
          .cast("long").as("n_phrase"))
      .withColumn("has_phrase", col("n_phrase") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(CONJ_TOP)
  }

  val q307Sql: String =
    s"""WITH w AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                x -> x <> '') AS ws
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    list_filter(range(1, len(ws) + 1), i -> ws[i] = '$CONJ_T1') AS p1,
      |    list_filter(range(1, len(ws) + 1), i -> ws[i] = '$CONJ_T2') AS p2
      |  FROM w)
      |SELECT doc_id,
      |  CAST(len(p1) AS BIGINT) AS tf1,
      |  CAST(len(p2) AS BIGINT) AS tf2,
      |  CAST(len(p1) + len(p2) AS BIGINT) AS score,
      |  CAST(len(list_filter(p1, p -> list_contains(p2, p + 1)))
      |    AS BIGINT) AS n_phrase,
      |  len(list_filter(p1, p -> list_contains(p2, p + 1))) > 0
      |    AS has_phrase
      |FROM m
      |WHERE len(p1) > 0 AND len(p2) > 0
      |ORDER BY score DESC, doc_id LIMIT $CONJ_TOP""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q307_conjunctive_search" -> ((s, d) => q307ConjunctiveSearch(s, d)),
    "q114_bm25_topk" -> ((s, d) => q114Bm25TopK(s, d)),
    "q115_tfidf_pairs" -> Gate.sorted(q115TfidfPairs _, "doc_a", "doc_b"),
    "q203_rrf_fusion" -> Gate.sorted(q203RrfFusion _, "query_id", "rank"))

  val oracles: Map[String, String] = Map(
    "q307_conjunctive_search" -> q307Sql,
    "q114_bm25_topk" -> q114Sql,
    "q115_tfidf_pairs" -> q115Sql,
    "q203_rrf_fusion" -> q203Sql)
}
