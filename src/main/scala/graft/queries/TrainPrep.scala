package graft.queries

import graft.Tables
import graft.functions.TextFunctions.tokens
import graft.operators.{BpeTrainer, DistributedQuantile, Pins, RegexScrub, SeqPack}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus preparation operators (q46–q48): sequence packing,
  * PII/canary scrubbing, and benchmark decontamination — the batching
  * and hygiene passes that sit between a deduplicated corpus and the
  * tokenizer.
  *
  * Scale notes: q46's only shuffle is the per-shard window (shard count
  * = write parallelism, no task ever sees more than one shard); q47 is
  * pure scan-stage codegen with zero shuffle; q48 broadcasts only the
  * benchmark shingle set, which is bounded by the benchmark suite size
  * (fixed, tiny vs corpus) — the corpus side streams through a
  * broadcast-hash semi-join, never shuffling text.
  */
object TrainPrep extends QueryModule {

  /** Shard count for q46. In production this is the write parallelism
    * (thousands); small here so sf0.001 still has multi-doc shards.
    */
  val PACK_SHARDS = 8

  /** Context-window token budget for q46 (~10 synthetic docs). */
  val PACK_CTX = 512

  /** q47 scrub rules: the standard PII shapes (which this synthetic
    * corpus cannot contain — they prove the plumbing and cost model)
    * plus a sensitive-term canary list drawn from the corpus
    * vocabulary so redaction demonstrably fires.
    */
  val SCRUB_RULES: Seq[RegexScrub.Rule] = Seq(
    RegexScrub.EMAIL,
    RegexScrub.URL,
    RegexScrub.LONG_DIGITS,
    RegexScrub.Rule("n_canary", "\\b(secret|canary|hash|merge)\\b", "<CANARY>"))

  /** q48 character-shingle width. ~5 words of this corpus — the
    * char-level analogue of the 13-token n-gram overlap rule; chosen
    * where benchmark overlap separates true near-dups (10 docs) from
    * vocabulary noise (all 450 at width 12).
    */
  val DECON_N = 30

  /** q48 benchmark slice: doc_id < 50 stands in for the external
    * benchmark suite. Fixed-size by construction — it does NOT grow
    * with the corpus, so the broadcast stays O(benchmark).
    */
  val DECON_BENCH_DOCS = 50

  /** q46: concat-and-cut sequence packing — documents laid end to end
    * per shard in doc_id order, cut every PACK_CTX whitespace tokens;
    * reported per context window. See [[graft.operators.SeqPack]].
    */
  def q46SeqPack(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
    SeqPack.assignPacks(docs, pmod(col("doc_id"), lit(PACK_SHARDS)),
        Seq("doc_id"), col("n_tok"), PACK_CTX)
      .groupBy(col("_shard").as("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum("_tok").as("pack_tokens"),
        min("doc_id").as("first_doc"))
  }

  val q46Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, doc_id % $PACK_SHARDS AS shard,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |                         t -> t != '')) AS BIGINT) AS n_tok
      |  FROM documents),
      |pref AS (
      |  SELECT *, CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
      |  FROM toks)
      |SELECT shard, prefix // $PACK_CTX AS pack_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
      |  min(doc_id) AS first_doc
      |FROM pref GROUP BY shard, pack_id
      |ORDER BY shard, pack_id""".stripMargin

  /** q318 sample size per source. */
  val BOTTOMK_K = 5

  /** q318: BOTTOM-K HASH SAMPLING — the mergeable uniform sample: per
    * source, the K documents with the SMALLEST md5 of their salted id.
    * Unlike rand()-based sampling this is deterministic (both engines
    * compute the identical sample — the gate hashes actual members,
    * not just counts), stable under re-runs and insertions (a doc's
    * hash never changes, so samples are consistent across snapshots —
    * the property distinct-count sketches and audit resamples rely
    * on), and MERGEABLE: bottom-k of a union is the bottom-k of the
    * parts' bottom-ks, so shard-level samples roll up without
    * rescanning (how it runs at 100 TB). The cut itself uses the
    * native TopKPerGroup physical operator (q79's — per-partition
    * bounded heaps, one shuffle of K·|sources| survivors, no window
    * over the fact table); the rank decoration afterwards windows over
    * the ≤K-row result only.
    */
  def q318BottomkSample(spark: SparkSession, dir: String): DataFrame = {
    val hashed = Tables(spark, dir).documents
      .select(col("source"), col("doc_id"),
        md5(concat(col("source"), lit(":"), col("doc_id").cast("string")))
          .as("h"))
    graft.operators.TopK.perGroup(hashed,
        keys = Seq(col("source")),
        order = Seq(col("h").asc, col("doc_id").asc),
        k = BOTTOMK_K)
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy("h", "doc_id")).cast("long"))
      .select(col("source"), col("rk"), col("doc_id"), col("h"))
  }

  val q318Sql: String =
    s"""SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, h FROM (
      |  SELECT source, doc_id,
      |    md5(source || ':' || CAST(doc_id AS VARCHAR)) AS h,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(source || ':' || CAST(doc_id AS VARCHAR)),
      |               doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= $BOTTOMK_K
      |ORDER BY source, rk""".stripMargin

  /** q314: FILL-IN-THE-MIDDLE (FIM) TRANSFORM — the code-model
    * training-data op (public FIM recipe: split each document into
    * prefix/middle/suffix, emit the re-ordered
    * `<PRE>prefix<SUF>suffix<MID>middle` string so the model learns to
    * infill). Splits here are the deterministic character thirds
    * (p1 = ⌊n/3⌋, p2 = ⌊2n/3⌋ — integer `div` in both engines, so no
    * float boundary); production would randomize offsets per epoch,
    * which only changes the two literals. Pure per-row string work —
    * zero shuffles, whole-stage codegen end to end; the gate carries
    * segment lengths and the md5 of the transformed string rather than
    * the transformed text itself (the q47 scrub convention: hashes
    * travel, megabyte strings don't).
    */
  def q314FimSplit(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n"))
      .withColumn("p1", expr("n div 3"))
      .withColumn("p2", expr("(2 * n) div 3"))
      .select(col("doc_id"),
        col("p1").as("n_pre"),
        (col("p2") - col("p1")).as("n_mid"),
        (col("n") - col("p2")).as("n_suf"),
        md5(concat(lit("<PRE>"),
          col("text").substr(lit(1), col("p1")),
          lit("<SUF>"),
          col("text").substr(col("p2") + 1, col("n") - col("p2")),
          lit("<MID>"),
          col("text").substr(col("p1") + 1, col("p2") - col("p1"))))
          .as("fim_hash"))

  val q314Sql: String =
    """WITH cut AS (
      |  SELECT doc_id, text, length(text) AS n,
      |    length(text) // 3 AS p1, (2 * length(text)) // 3 AS p2
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(p1 AS BIGINT) AS n_pre,
      |  CAST(p2 - p1 AS BIGINT) AS n_mid,
      |  CAST(n - p2 AS BIGINT) AS n_suf,
      |  md5(concat('<PRE>', substr(text, 1, p1),
      |             '<SUF>', substr(text, p2 + 1, n - p2),
      |             '<MID>', substr(text, p1 + 1, p2 - p1))) AS fim_hash
      |FROM cut
      |ORDER BY doc_id""".stripMargin

  /** q47: one-pass PII/canary scrub — per-rule match counts plus the
    * md5 and length of the fully redacted text. Patterns stay in the
    * Java-regex/RE2 common subset so the oracle runs them verbatim.
    */
  def q47RegexScrub(spark: SparkSession, dir: String): DataFrame =
    RegexScrub.scrub(Tables(spark, dir).documents, col("text"), SCRUB_RULES)
      .select(col("doc_id") +:
        SCRUB_RULES.map(r => col(r.name).cast("long")) :+
        md5(col("redacted")).as("redacted_md5") :+
        length(col("redacted")).cast("long").as("n_redacted_chars"): _*)

  val q47Sql: String = {
    val redacted = SCRUB_RULES.foldLeft("text") { (c, r) =>
      s"regexp_replace($c, '${r.regex}', '${r.repl}', 'g')"
    }
    val counts = SCRUB_RULES.map { r =>
      s"CAST(len(regexp_extract_all(text, '${r.regex}')) AS BIGINT) AS ${r.name}"
    }.mkString(",\n  ")
    s"""SELECT doc_id,
      |  $counts,
      |  md5($redacted) AS redacted_md5,
      |  CAST(length($redacted) AS BIGINT) AS n_redacted_chars
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q48: benchmark decontamination — flag every training document
    * (doc_id >= DECON_BENCH_DOCS) sharing at least one DECON_N-char
    * shingle with the benchmark slice, with the overlap count. The
    * benchmark shingle set is distinct'd then broadcast; the corpus
    * side never shuffles.
    */
  /** Per-training-doc benchmark-shingle overlap counts (doc_id, n_hit)
    * — the reusable core of q48: benchmark side distinct'd + broadcast,
    * corpus side streaming through a broadcast-hash join. Docs without
    * overlap are absent (join back for the zero rows).
    */
  def contaminationHits(docs: DataFrame): DataFrame = {
    val shingled = docs.select(col("doc_id"),
      explode(graft.plans.ShingleHashSet(col("text"), DECON_N)).as("sh"))
    val bench = shingled.filter(col("doc_id") < DECON_BENCH_DOCS)
      .select("sh").distinct()
    shingled.filter(col("doc_id") >= DECON_BENCH_DOCS)
      .join(broadcast(bench), "sh")
      // ShingleHashSet emits the per-doc DISTINCT set, so this count is
      // the distinct contaminated-shingle count.
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
  }

  def q48Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    docs.filter(col("doc_id") >= DECON_BENCH_DOCS).select("doc_id")
      .join(contaminationHits(docs), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit_shingles"),
        (coalesce(col("n_hit"), lit(0L)) > 0).as("contaminated"))
  }

  /** DuckDB shingle fragment mirroring ShingleHashSet at DECON_N with
    * the mod INSIDE the fold — required above width 11, where the
    * end-mod fold overflows int64.
    */
  private val duckShinglesN30 =
    s"""list_transform(generate_series(1, length(text) - ${DECON_N - 1}),
      |      i -> list_reduce(
      |             list_transform(generate_series(i, i + ${DECON_N - 1}),
      |                            j -> CAST(ascii(substr(text, j, 1)) AS BIGINT)),
      |             (a, c) -> (a * 31 + c) % ${graft.functions.TextFunctions.MINHASH_P}))""".stripMargin

  val q48Sql: String =
    s"""WITH e AS (
      |  SELECT doc_id, unnest(list_distinct($duckShinglesN30)) AS sh
      |  FROM documents),
      |bench AS (SELECT DISTINCT sh FROM e WHERE doc_id < $DECON_BENCH_DOCS),
      |hits AS (
      |  SELECT e.doc_id, count(*) AS n_hit
      |  FROM e JOIN bench USING (sh)
      |  WHERE e.doc_id >= $DECON_BENCH_DOCS GROUP BY e.doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit_shingles,
      |  coalesce(h.n_hit, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
      |WHERE d.doc_id >= $DECON_BENCH_DOCS
      |ORDER BY d.doc_id""".stripMargin

  /** q50 domain-mixing weights: keep-percentage per source family.
    * Production passes measured per-domain quality/size targets here.
    */
  val MIX_FULL: Seq[String] = (0 to 9).map(i => s"src$i")
  val MIX_HALF: Seq[String] = (10 to 14).map(i => s"src$i")
  val MIX_DEFAULT_PCT = 20

  /** q50: deterministic weighted corpus mixing — per-source keep
    * fraction via md5 bucketing (the q25 split primitive, pointed at
    * domain re-weighting). No RNG, no shuffle: a scan-stage filter
    * whose keep decision is reproducible per (source, doc_id) on any
    * cluster layout — re-runs and backfills select identical rows.
    */
  /** Deterministic weighted keep-filter (the reusable core of q50):
    * adds `bucket` and `mix_weight` and keeps rows under their
    * source's keep fraction. Pure scan-stage filter, no shuffle.
    */
  def mixKeep(docs: DataFrame): DataFrame =
    docs
      .withColumn("bucket",
        conv(substring(md5(concat(col("source"), lit(":"),
          col("doc_id").cast("string"))), 1, 6), 16, 10).cast("long") % 100)
      .withColumn("mix_weight",
        when(col("source").isin(MIX_FULL: _*), 100)
          .when(col("source").isin(MIX_HALF: _*), 50)
          .otherwise(MIX_DEFAULT_PCT))
      .filter(col("bucket") < col("mix_weight"))

  def q50CorpusMix(spark: SparkSession, dir: String): DataFrame =
    mixKeep(Tables(spark, dir).documents)
      .select("doc_id", "source", "bucket", "mix_weight")

  val q50Sql: String = {
    def in(xs: Seq[String]) = xs.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id, source, bucket, mix_weight FROM (
      |  SELECT doc_id, source,
      |    CAST('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 100 AS bucket,
      |    CASE WHEN source IN (${in(MIX_FULL)}) THEN 100
      |         WHEN source IN (${in(MIX_HALF)}) THEN 50
      |         ELSE $MIX_DEFAULT_PCT END AS mix_weight
      |  FROM documents)
      |WHERE bucket < mix_weight ORDER BY doc_id""".stripMargin
  }

  /** q52: intra-document repetition quality signal — the fraction of
    * word bigrams taken by the single most frequent one (the
    * "repetition filter" family of pre-training quality heuristics;
    * highly repetitive boilerplate scores near 1).
    *
    * Zero-shuffle by design: bigrams are counted INSIDE the row by the
    * fused native expression [[graft.plans.RepetitionStats]] (one
    * tokenize-and-count pass, codegen'd), so at 100 TB this is a pure
    * scan-stage pass — no exploded (doc, bigram) exchange. The
    * interpreted HOF formulation (array_sort + aggregate fold) of the
    * same statistic measured ~25x slower at sf0.1. The oracle counts
    * the conventional way (unnest + GROUP BY); both sides divide the
    * same exact integers, so the double ratio is bit-identical.
    */
  def q52RepNgrams(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        graft.plans.RepetitionStats(col("text")).as("_rs"))
      .select(col("doc_id"),
        col("_rs.n_bigrams").as("n_bigrams"),
        col("_rs.max_rep").as("max_rep"))
      .withColumn("rep_ratio",
        when(col("n_bigrams") > 0,
          col("max_rep").cast("double") / col("n_bigrams")).otherwise(0.0))

  val q52Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS toks
      |  FROM documents),
      |e AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(toks) - 1),
      |                          i -> toks[i] || ' ' || toks[i + 1])) AS bg
      |  FROM t),
      |c AS (SELECT doc_id, bg, count(*) AS cnt FROM e GROUP BY doc_id, bg),
      |m AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
      |             CAST(max(cnt) AS BIGINT) AS max_rep
      |      FROM c GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(m.n_bigrams, 0) AS n_bigrams,
      |  coalesce(m.max_rep, 0) AS max_rep,
      |  CASE WHEN coalesce(m.n_bigrams, 0) > 0
      |       THEN CAST(m.max_rep AS DOUBLE) / m.n_bigrams ELSE 0.0 END AS rep_ratio
      |FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q57 shard count; q58 per-source document quota. */
  val MANIFEST_SHARDS = 16
  val QUOTA_PER_SOURCE = 15

  /** q57: reproducible shard manifest — the dataset-versioning record a
    * training run pins: every doc is assigned a deterministic shard by
    * md5(doc_id), and each shard reports doc/token counts plus an
    * ORDER-INDEPENDENT content hash (sum of per-doc 32-bit md5
    * prefixes). Because the hash is a plain sum, the whole manifest is
    * one map-side-combined aggregation — no collect_list, no per-shard
    * sort, no row order dependence on cluster layout: two runs over the
    * same corpus produce byte-identical manifests on any partitioning.
    * (Per-doc prefix < 2^32 keeps the BIGINT sum exact up to ~2^31 docs
    * per shard; at beyond that, sum in DECIMAL(38,0).)
    */
  def q57ShardManifest(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
          .cast("long"), lit(MANIFEST_SHARDS.toLong)).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long").as("h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum("h").as("content_hash_sum"))

  val q57Sql: String =
    s"""SELECT
      |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
      |    % $MANIFEST_SHARDS AS shard,
      |  count(*) AS n_docs,
      |  CAST(sum(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |                           t -> t != ''))) AS BIGINT) AS n_tokens,
      |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
      |    AS content_hash_sum
      |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin

  /** q58: per-source quota capping (domain capping) — keep at most
    * QUOTA_PER_SOURCE docs per source, chosen by deterministic md5
    * order so re-runs and backfills keep the identical subset. One
    * shuffle on source for the per-group window; a pathologically hot
    * domain is exactly the case the cap exists for — its window input
    * is already bounded by reading only (source, doc_id, rank inputs),
    * and the q07-style two-phase threshold join handles it if a single
    * group ever exceeds a task.
    */
  def q58SourceQuota(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(col("pick"), col("doc_id"))
    Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        md5(concat(col("source"), lit("#"), col("doc_id").cast("string")))
          .as("pick"))
      .withColumn("quota_rank", row_number().over(w))
      .filter(col("quota_rank") <= QUOTA_PER_SOURCE)
      .drop("pick")
  }

  val q58Sql: String =
    s"""SELECT doc_id, source, quota_rank FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(source || '#' || CAST(doc_id AS VARCHAR)), doc_id)
      |      AS quota_rank
      |  FROM documents)
      |WHERE quota_rank <= $QUOTA_PER_SOURCE
      |ORDER BY doc_id""".stripMargin

  /** q64 merge-candidate table size. */
  val BPE_TOP = 50

  /** q64: the BPE pair-count pass — the argmax table of one tokenizer
    * merge round (see [[graft.operators.BpeTrainer]]), cut to the top
    * BPE_TOP adjacent character pairs by weighted count. The corpus
    * collapses to the vocabulary-sized word table first, so the
    * exploded pair aggregation is bounded by vocabulary, not corpus;
    * the rank window runs AFTER the top-50 cut, over 50 rows.
    */
  def q64BpePairs(spark: SparkSession, dir: String): DataFrame = {
    // round 10: the r09 fanOut before tokenize REVERTED — the driver's
    // bench measured it 0.80 -> 1.21 s at 32c/16g (VERDICT r09 #3):
    // the docs exchange costs more than parallel tokenizing saves on a
    // small corpus, and the word rollup partial-aggregates map-side
    // anyway; at production doc counts the scan splits wide on its own
    val words = BpeTrainer.wordTable(
      Tables(spark, dir).documents.select("doc_id", "text"), "text")
    val top = BpeTrainer.pairCounts(BpeTrainer.toSymbols(words))
      .withColumnRenamed("left", "sym_left")
      .withColumnRenamed("right", "sym_right")
      .orderBy(col("cnt").desc, col("sym_left").asc, col("sym_right").asc)
      .limit(BPE_TOP)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("sym_left").asc, col("sym_right").asc))
        .cast("long"))
      .select("rank", "sym_left", "sym_right", "cnt")
  }

  val q64Sql: String =
    s"""WITH words AS (
      |  SELECT w AS word, CAST(count(*) AS BIGINT) AS wc FROM (
      |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |                              t -> t != '')) AS w
      |    FROM documents) GROUP BY 1),
      |pairs AS (
      |  SELECT substr(word, i, 1) AS sym_left, substr(word, i + 1, 1) AS sym_right, wc
      |  FROM words, unnest(generate_series(1, length(word) - 1)) AS t(i)
      |  WHERE length(word) > 1),
      |agg AS (
      |  SELECT sym_left, sym_right, CAST(sum(wc) AS BIGINT) AS cnt
      |  FROM pairs GROUP BY 1, 2)
      |SELECT rank, sym_left, sym_right, cnt FROM (
      |  SELECT sym_left, sym_right, cnt,
      |    CAST(row_number() OVER (ORDER BY cnt DESC, sym_left, sym_right)
      |         AS BIGINT) AS rank
      |  FROM agg)
      |WHERE rank <= $BPE_TOP ORDER BY rank""".stripMargin

  /** q296's tokenizer artifact: a FIXED, data-independent merge list
    * (the shape a production tokenizer ships as a versioned artifact —
    * encode is parameterized by it, training is gated separately via
    * q64's pair-count pass). Deliberately includes two CHAINED merges
    * ((t,h) then (th,e); (a,n) then (an,d)) so the gate proves merges
    * apply in training order over previous merges' outputs, and
    * self-adjacent-prone pairs so left-to-right non-overlap is
    * exercised ("nnn" -> ["nn","n"], never ["n","nn"]).
    */
  val BPE_FIXED_MERGES: Seq[graft.operators.BpeTrainer.Merge] =
    Seq(("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
      ("an", "d"), ("e", "r"), ("o", "n"), ("o", "u"))
      .zipWithIndex.map { case ((l, r), i) =>
        graft.operators.BpeTrainer.Merge(i, l, r, 0L)
      }

  /** q296: BPE ENCODE — apply the fixed merge list to every corpus
    * word with [[graft.operators.BpeTrainer.encode]] (the codegen'd
    * left-to-right non-overlapping array fold, the tokenizer-apply
    * step between q64's training pass and q61's id mapping) and gate
    * the corpus-wide ENCODED-SYMBOL frequency table. The symbol
    * rollup pins every word's exact symbol multiset: a wrong merge
    * order, an overlap bug, or a missed chain changes some symbol's
    * count and flips the hash.
    *
    * Scale shape: encode runs over the DISTINCT word table (q64's
    * discipline — Heaps' law makes it vocabulary-sized, not
    * corpus-sized) weighted by word counts; the output rollup is
    * bounded by |charset| + |merges|. The universe is restricted to
    * ^[a-z0-9]+$ words on BOTH engines: Spark's substring indexes
    * UTF-16 code units while DuckDB's char split is codepoint-based,
    * so non-ASCII words would diverge on surrogate pairs rather than
    * on BPE semantics (and the oracle's '/'-separator replay needs a
    * separator-free alphabet).
    */
  def q296BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.BpeTrainer
    val words = BpeTrainer
      // round 10: fanOut reverted, same measurement as q64 (the word
      // table is vocabulary-sized; the exchange dominated)
      .wordTable(Tables(spark, dir).documents.select("doc_id", "text"), "text")
      .filter(col("word").rlike("^[a-z0-9]+$"))
    words
      .select(explode(BpeTrainer.encode(col("word"), BPE_FIXED_MERGES))
        .as("sym"), col("wc"))
      .groupBy("sym").agg(sum("wc").as("n"))
  }

  val q296Sql: String = {
    // replay the encode fold as DuckDB list_reduce over '/'-joined
    // symbol strings: fusing == appending the right symbol WITHOUT its
    // separator (acc "...x/L" + "R" -> tail symbol "LR"), which is
    // exactly BpeTrainer.mergePair's accumulator semantics
    val fold = BPE_FIXED_MERGES.sortBy(_.step).foldLeft(
      "array_to_string(string_split(word, ''), '/')") { (prev, m) =>
      s"list_reduce(string_split($prev, '/'), (a, x) -> " +
        s"CASE WHEN (a = '${m.left}' OR ends_with(a, '/${m.left}')) " +
        s"AND x = '${m.right}' THEN a || x ELSE a || '/' || x END)"
    }
    s"""WITH words AS (
      |  SELECT w AS word, CAST(count(*) AS BIGINT) AS wc FROM (
      |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |                              t -> t != '')) AS w
      |    FROM documents)
      |  WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY 1),
      |enc AS (SELECT $fold AS s, wc FROM words),
      |syms AS (SELECT unnest(string_split(s, '/')) AS sym, wc FROM enc)
      |SELECT sym, CAST(sum(wc) AS BIGINT) AS n
      |FROM syms GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q65: per-source token-length profile — the corpus-diagnostics
    * report data curation runs before mixing (q50) and quota decisions
    * (q58): document count, exact mean and p10/p50/p90 token counts
    * per source, via the bucket-prune distributed quantile (no
    * per-source total sort — see [[graft.operators.DistributedQuantile]]).
    */
  def q65SourceTokenProfile(spark: SparkSession, dir: String): DataFrame = {
    // the quantile operator scans its input three times (bounds,
    // histogram, located buckets); pin the 16-byte-per-doc projection
    // so the regex tokenization of the full text runs ONCE, not 3x —
    // at 100 TB that is the difference between one and three passes
    // over the corpus text
    val docs = Tables(spark, dir).documents
      .select(col("source"), size(tokens(col("text"))).cast("double").as("n_tok"))
      .transform(Pins.pin)
    DistributedQuantile.describe(docs, Seq("source"), "n_tok",
        Seq("p10" -> 0.1, "p50" -> 0.5, "p90" -> 0.9))
      .select(col("source"), col("n"), col("mean"),
        col("min").cast("long").as("min_tok"),
        col("p10"), col("p50"), col("p90"),
        col("max").cast("long").as("max_tok"))
  }

  val q65Sql: String =
    s"""WITH t AS (
      |  SELECT source,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |                         x -> x != '')) AS DOUBLE) AS n_tok
      |  FROM documents)
      |SELECT source, count(*) AS n, ${graft.functions.Exact.meanSql("n_tok")} AS mean,
      |  CAST(min(n_tok) AS BIGINT) AS min_tok,
      |  quantile_cont(n_tok, 0.1) AS p10,
      |  quantile_cont(n_tok, 0.5) AS p50,
      |  quantile_cont(n_tok, 0.9) AS p90,
      |  CAST(max(n_tok) AS BIGINT) AS max_tok
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  /** q282: ROBUST FEATURE SCALING — (value − median) / IQR per event
    * type, the outlier-insensitive normalization (scikit-learn's
    * RobustScaler) a feature pipeline applies before clipping or
    * model ingest: unlike z-scoring (q99), a single 1e9 outlier
    * cannot move the scale because rank statistics don't average.
    *
    * Scale shape: the per-type p25/p50/p75 come from the bucket-prune
    * quantile operator — event_type is LOW-cardinality, so each group
    * SPANS the cluster and the per-group-sort formulation would
    * serialize the table through a handful of tasks; the bucket
    * histogram shuffles |types| x 256 partials instead. The tiny
    * quantile table then broadcasts back onto the fact scan, so the
    * row-level normalization is one scan-stage projection — no fact
    * shuffle anywhere. Quantiles are exact and engine-identical (the
    * symmetric interpolation), and the scaled value is one subtract +
    * one divide on those shared doubles: bit-for-bit across engines.
    */
  def q282RobustScale(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_id"), col("event_type"), col("value"))
    val qs = DistributedQuantile.quantiles(ev, Seq("event_type"), "value",
      Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
    ev.join(broadcast(qs), "event_type")
      .select(col("event_id"), col("event_type"),
        when(col("p75") === col("p25"), lit(null).cast("double"))
          .otherwise((col("value") - col("p50")) / (col("p75") - col("p25")))
          .as("scaled"))
  }

  val q282Sql: String =
    s"""WITH q AS (
      |  SELECT event_type,
      |    quantile_cont(value, 0.25) AS p25,
      |    quantile_cont(value, 0.5) AS p50,
      |    quantile_cont(value, 0.75) AS p75
      |  FROM events GROUP BY 1)
      |SELECT e.event_id, e.event_type,
      |  CASE WHEN q.p75 = q.p25 THEN NULL
      |       ELSE (e.value - q.p50) / (q.p75 - q.p25) END AS scaled
      |FROM events e JOIN q USING (event_type)
      |ORDER BY e.event_id""".stripMargin

  /** q71 report columns (documents table). */
  val STATS_COLS = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** q71: ANALYZE-style table statistics — the per-ingest data-quality
    * report (row/null/distinct counts, min/max) a pipeline publishes
    * next to every corpus snapshot. One aggregation per column; each
    * scan reads ONLY its column (columnar pruning), so the report
    * costs one pass over each column's pages, not five over the table.
    * Exact distinct counts by default (gate-checkable); at 100 TB pass
    * approxDistinct=true to swap in the mergeable HLL sketch path
    * (operators/DistinctSketch.LG_K registers, ~1.6% standard error) —
    * same report schema, one sketch instead of a shuffled exact
    * distinct per column. The gated q71 runs the exact form.
    */
  def q71TableStats(spark: SparkSession, dir: String,
                    approxDistinct: Boolean = false): DataFrame = {
    val docs = Tables(spark, dir).documents
    def distinctAgg(c: String): Column =
      if (approxDistinct)
        hll_sketch_estimate(
          hll_sketch_agg(col(c), lit(graft.operators.DistinctSketch.LG_K)))
      else countDistinct(col(c))
    STATS_COLS.map { c =>
      docs.select(
        lit(c).as("col_name"),
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        distinctAgg(c).as("n_distinct"),
        min(col(c)).cast("string").as("min_val"),
        max(col(c)).cast("string").as("max_val"))
    }.reduce(_ unionAll _)
  }

  val q71Sql: String = STATS_COLS.map { c =>
    s"""SELECT '$c' AS col_name, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
      |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
      |  CAST(min($c) AS VARCHAR) AS min_val,
      |  CAST(max($c) AS VARCHAR) AS max_val
      |FROM documents""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** q80 sub-document unit: non-overlapping whitespace-token segments
    * of this width. Real corpora would split on newlines (RefinedWeb/
    * CCNet line dedup); this synthetic corpus has no newlines, so a
    * fixed token window stands in — the operator shape (explode units,
    * global first-occurrence-wins, reassemble in order) is identical.
    */
  val SEG_TOKENS = 12

  /** q80: sub-document (line-level) exact dedup. Every document is cut
    * into SEG_TOKENS-token segments; a segment survives only in its
    * globally FIRST occurrence (min packed (doc_id, seg_idx) key) and
    * is dropped everywhere else — including later repeats inside the
    * same document. Per doc: segment counts and the md5 of the
    * deduplicated reassembly.
    *
    * Scale shape: one segment-level explode (|tokens|/SEG_TOKENS rows,
    * ~same bytes as the corpus), one map-side-combined aggregation on
    * the 16-byte segment md5 to find first keys, and one
    * co-partitioned hash join back on that md5 — no sorts, no window
    * over the corpus, and AQE handles hot segments (boilerplate lines)
    * as ordinary join skew.
    */
  def q80SegmentDedup(spark: SparkSession, dir: String): DataFrame = {
    val segs = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, cast(ceil(size(toks) / $SEG_TOKENS.0) as int) - 1),
           |  i -> array_join(slice(toks, i * $SEG_TOKENS + 1, $SEG_TOKENS), ' '))"""
          .stripMargin)).as(Seq("seg_idx", "seg")))
      .select(col("doc_id"), col("seg_idx"), col("seg"),
        md5(col("seg")).as("seg_md5"),
        (col("doc_id") * 100000 + col("seg_idx")).as("k"))
    val firsts = segs.groupBy("seg_md5").agg(min(col("k")).as("first_key"))
    segs.join(firsts, "seg_md5")
      .withColumn("kept", col("k") === col("first_key"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("seg_idx"), col("seg"))))),
            s => s.getField("seg")),
          " ")).as("kept_md5"))
  }

  val q80Sql: String =
    s"""WITH segs AS (
      |  SELECT doc_id, i AS seg_idx,
      |    array_to_string(list_slice(toks, i * $SEG_TOKENS + 1, i * $SEG_TOKENS + $SEG_TOKENS), ' ') AS seg
      |  FROM (
      |    SELECT doc_id, toks,
      |      unnest(generate_series(0, CAST(ceil(len(toks) / $SEG_TOKENS.0) AS INT) - 1)) AS i
      |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
      |), keyed AS (
      |  SELECT doc_id, seg_idx, seg, md5(seg) AS seg_md5,
      |    doc_id * 100000 + seg_idx AS k
      |  FROM segs
      |), firsts AS (
      |  SELECT seg_md5, min(k) AS first_key FROM keyed GROUP BY seg_md5
      |)
      |SELECT k.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_segs,
      |  CAST(sum(CASE WHEN k.k = f.first_key THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  md5(coalesce(string_agg(CASE WHEN k.k = f.first_key THEN k.seg END, ' ' ORDER BY k.seg_idx), '')) AS kept_md5
      |FROM keyed k JOIN firsts f USING (seg_md5)
      |GROUP BY k.doc_id
      |ORDER BY doc_id""".stripMargin

  /** q81 rule thresholds (Gopher-style document shape rules). */
  val QR_MIN_WORDS = 30
  val QR_MAX_WORDS = 100000
  val QR_MIN_MEAN_LEN = 2.0
  val QR_MAX_MEAN_LEN = 10.0
  val QR_MAX_DUP_FRAC = 0.9

  /** q81: Gopher-style quality/repetition rules — per-document word
    * count, distinct-word count, duplicate-word fraction, mean word
    * length, long-word fraction, and the composite keep flag. (The
    * top-bigram repetition rule is q52's native expression; this query
    * covers the word-shape family.)
    *
    * Zero shuffle: every rule is array/HOF math on the split tokens in
    * the scan stage — the filter runs at ingest cost even at 100 TB.
    * Ratios are emitted as ONE int/int division each (bit-identical
    * IEEE across engines); nothing re-aggregates them.
    */
  def q81QualityRules(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        size(expr("filter(toks, t -> length(t) >= 8)")).cast("long").as("n_long"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("n_chars_nospace"))
      .withColumn("dup_frac",
        (col("n_words") - col("n_distinct")).cast("double") / col("n_words"))
      .withColumn("mean_word_len",
        col("n_chars_nospace").cast("double") / col("n_words"))
      .withColumn("keep",
        (col("n_words") >= QR_MIN_WORDS && col("n_words") <= QR_MAX_WORDS &&
          col("mean_word_len") >= QR_MIN_MEAN_LEN &&
          col("mean_word_len") <= QR_MAX_MEAN_LEN &&
          col("dup_frac") <= QR_MAX_DUP_FRAC).cast("long"))

  val q81Sql: String =
    s"""SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS n_words,
      |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
      |  CAST(len(list_filter(toks, t -> length(t) >= 8)) AS BIGINT) AS n_long,
      |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars_nospace,
      |  (len(toks) - len(list_distinct(toks))) / CAST(len(toks) AS DOUBLE) AS dup_frac,
      |  length(replace(text, ' ', '')) / CAST(len(toks) AS DOUBLE) AS mean_word_len,
      |  CAST(CASE WHEN len(toks) BETWEEN $QR_MIN_WORDS AND $QR_MAX_WORDS
      |        AND length(replace(text, ' ', '')) / CAST(len(toks) AS DOUBLE) BETWEEN $QR_MIN_MEAN_LEN AND $QR_MAX_MEAN_LEN
      |        AND (len(toks) - len(list_distinct(toks))) / CAST(len(toks) AS DOUBLE) <= $QR_MAX_DUP_FRAC
      |       THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** q86 skip-gram window and reporting cut. */
  val COOC_WINDOW = 2
  val COOC_MIN = 5

  /** q86: WORD CO-OCCURRENCE / collocation statistics — the corpus
    * association table embedding and tokenizer pipelines derive from
    * raw text: for every ordered token pair within COOC_WINDOW
    * positions, the pair count and its lift
    * (P(pair) / (P(w1) * P(w2)), the exp of PMI — computed as one
    * integer-exact ratio, no cross-engine libm in the gate).
    *
    * The window pairing is an EQUI-join on (doc_id, pos + d) with d
    * exploded 1..COOC_WINDOW — linear in corpus size, never tokens²
    * per doc; the aggregated pair table is bounded by vocabulary², so
    * the unigram joins and the total-token broadcast are index-sized
    * at any corpus scale.
    */
  def q86WordCoocc(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val left = toks
      .withColumn("d", explode(sequence(lit(1), lit(COOC_WINDOW))))
      .select(col("doc_id"), (col("pos") + col("d")).as("pos2"),
        col("tok").as("w1"))
    val right = toks.select(col("doc_id"), col("pos").as("pos2"),
      col("tok").as("w2"))
    val pairCounts = left.join(right, Seq("doc_id", "pos2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= COOC_MIN)
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("n_uni"))
    val total = uni.agg(sum("n_uni").as("n_total"))
    pairCounts
      .join(broadcast(uni.select(col("tok").as("w1"), col("n_uni").as("n1"))), "w1")
      .join(broadcast(uni.select(col("tok").as("w2"), col("n_uni").as("n2"))), "w2")
      .crossJoin(broadcast(total))
      .withColumn("lift",
        col("n_pair").cast("double") * col("n_total") / (col("n1") * col("n2")))
      .select("w1", "w2", "n_pair", "lift")
  }

  val q86Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |                x -> x != '') AS tk
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, t.i AS pos, tk[t.i] AS tok
      |  FROM d, unnest(generate_series(1, len(tk))) AS t(i)),
      |pc AS (
      |  SELECT a.tok AS w1, b.tok AS w2, count(*) AS n_pair
      |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id
      |   AND b.pos - a.pos BETWEEN 1 AND $COOC_WINDOW
      |  GROUP BY 1, 2 HAVING count(*) >= $COOC_MIN),
      |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks)
      |SELECT w1, w2, n_pair,
      |  CAST(n_pair AS DOUBLE) * n_total / (u1.n * u2.n) AS lift
      |FROM pc
      |JOIN uni u1 ON u1.tok = pc.w1
      |JOIN uni u2 ON u2.tok = pc.w2
      |CROSS JOIN tot
      |ORDER BY w1, w2""".stripMargin

  /** q101: BIGRAM LM QUALITY SCORE — each document scored by the mean
    * conditional log-probability of its own bigrams under the
    * corpus-wide bigram model (the KenLM-style perplexity filter of a
    * training-data pipeline, self-trained on the corpus: low scores =
    * disfluent/boilerplate text). Three bounded stages: the corpus
    * collapses to a vocabulary²-bounded bigram-count table and a
    * vocabulary-bounded unigram table (both map-side combined); each
    * bigram OCCURRENCE then joins its counts back on the (w1, w2) key
    * — linear in corpus size, index-sized build side.
    *
    * Cross-engine determinism: ln runs on identical doubles (exact
    * int->double conversions + one exact division), per-row results
    * are quantized to integer micro-nats (floor(lp*1e6 + 0.5)) and
    * summed exactly, so the per-doc mean is order-independent.
    */
  def q101BigramLmScore(spark: SparkSession, dir: String): DataFrame = {
    // pin the exploded token table: it feeds the bigram self-join (2x)
    // and the unigram counts, and the bigram table feeds both the
    // count build and the occurrence join — without the checkpoints
    // the documents scan + tokenize would run five times
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .transform(Pins.pin)
    val bigrams = toks
      .select(col("doc_id"), (col("pos") + 1).as("pos2"), col("tok").as("w1"))
      .join(toks.select(col("doc_id"), col("pos").as("pos2"),
        col("tok").as("w2")), Seq("doc_id", "pos2"))
      .transform(Pins.pin)
    val bc = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("nb"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("n1"))
    bigrams
      .join(bc, Seq("w1", "w2"))
      .join(broadcast(uni.select(col("tok").as("w1"), col("n1"))), "w1")
      .select(col("doc_id"),
        floor(log(col("nb").cast("double") / col("n1")) * 1e6 + 0.5)
          .cast("long").as("_lpq"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("_lpq").as("_s"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("_s").cast("double") / 1e6 / col("n_bigrams")).as("avg_logprob"))
  }

  val q101Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'),
      |                x -> x != '') AS tk
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, t.i AS pos, tk[t.i] AS tok
      |  FROM d, unnest(generate_series(1, len(tk))) AS t(i)),
      |bo AS (
      |  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
      |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      |bc AS (SELECT w1, w2, count(*) AS nb FROM bo GROUP BY 1, 2),
      |uni AS (SELECT tok, count(*) AS n1 FROM toks GROUP BY 1)
      |SELECT bo.doc_id, count(*) AS n_bigrams,
      |  CAST(sum(CAST(floor(ln(CAST(bc.nb AS DOUBLE) / uni.n1) * 1e6 + 0.5)
      |                AS BIGINT)) AS DOUBLE)
      |    / 1e6 / count(*) AS avg_logprob
      |FROM bo
      |JOIN bc ON bc.w1 = bo.w1 AND bc.w2 = bo.w2
      |JOIN uni ON uni.tok = bo.w1
      |GROUP BY bo.doc_id
      |ORDER BY bo.doc_id""".stripMargin

  /** q108 sample size. */
  val WSAMPLE_K = 100

  /** q108: WEIGHTED SAMPLING WITHOUT REPLACEMENT (Efraimidis–Spirakis
    * A-ES): each doc draws a deterministic pseudo-uniform u from an
    * md5-derived 24-bit integer and competes with key u^(1/w), weight w
    * = n_chars — the quality/length-weighted corpus subsample every
    * mixing pipeline runs. Selection is the global top-K by key, which
    * Spark executes as TakeOrderedAndProject: per-partition top-K then
    * a driver merge of K x partitions rows — ONE scan, ZERO shuffles,
    * no global sort, the only sane shape at 100 TB. Keys are rounded
    * to integer nano-units so the top-K boundary is bit-portable
    * across engines (doc_id tie-break).
    */
  def q108WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(
      md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
      .cast("double") + 0.5) / 16777216.0
    val w = greatest(col("n_chars"), lit(1)).cast("double")
    Tables(spark, dir).documents
      .select(col("doc_id"), col("n_chars"),
        floor(pow(u, lit(1.0) / w) * 1e9 + 0.5).cast("long").as("key_nano"))
      .orderBy(col("key_nano").desc, col("doc_id"))
      .limit(WSAMPLE_K)
  }

  val q108Sql: String =
    s"""SELECT * FROM (
      |  SELECT doc_id, n_chars,
      |    CAST(floor(power(
      |      (CAST('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 6)
      |         AS BIGINT) + 0.5) / 16777216.0,
      |      1.0 / greatest(n_chars, 1)) * 1e9 + 0.5) AS BIGINT) AS key_nano
      |  FROM documents
      |  ORDER BY key_nano DESC, doc_id LIMIT $WSAMPLE_K)
      |ORDER BY doc_id""".stripMargin

  /** q109 shard width (docs per training shard). */
  val SHUFFLE_SHARD_DOCS = 64

  /** q109: DETERMINISTIC GLOBAL SHUFFLE — the reproducible random
    * permutation + shard/offset assignment a training run reads the
    * corpus in. Order key is md5("shuf:"+doc_id) (seeded, stable across
    * runs and engines); the global 1-based position comes from
    * [[graft.operators.GlobalRank]] — range-repartition + per-partition
    * offsets — NOT `row_number() OVER (ORDER BY ...)`, whose empty
    * PARTITION BY moves the corpus to one task. Emits (shard, offset)
    * so a trainer can read any shard independently and still see the
    * exact global order.
    */
  def q109GlobalShuffle(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"),
        md5(concat(lit("shuf:"), col("doc_id").cast("string"))).as("skey"))
    graft.operators.GlobalRank
      .withRowNumber(docs, "ord", col("skey"), col("doc_id"))
      .select(col("doc_id"), col("ord"),
        expr(s"(ord - 1) div $SHUFFLE_SHARD_DOCS").as("shard_id"),
        ((col("ord") - 1) % SHUFFLE_SHARD_DOCS).as("offset_in_shard"))
  }

  val q109Sql: String =
    s"""WITH r AS (
      |  SELECT doc_id,
      |    row_number() OVER (
      |      ORDER BY md5('shuf:' || CAST(doc_id AS VARCHAR)), doc_id) AS ord
      |  FROM documents)
      |SELECT doc_id, ord, (ord - 1) // $SHUFFLE_SHARD_DOCS AS shard_id,
      |  (ord - 1) % $SHUFFLE_SHARD_DOCS AS offset_in_shard
      |FROM r ORDER BY doc_id""".stripMargin

  /** q394 feature binning (n_chars div 100, capped) and weight clip. */
  val IW_BIN_WIDTH = 100L
  val IW_BIN_CAP = 10L
  val IW_MAX_PPM = 5000000L

  /** q394: COVARIATE-SHIFT IMPORTANCE WEIGHTS + EFFECTIVE SAMPLE
    * SIZE — reweight the full corpus toward a target population (the
    * English slice) by the binned density ratio w(x) = p_target(x) /
    * p_source(x), the standard domain-adaptation recipe — then report
    * what the reweighting COSTS: ESS = (Σw)²/Σw², the number every
    * mixture designer checks before trusting reweighted statistics
    * (ESS ≪ n means a few documents carry the corpus). Weights are
    * exact integer ppm per bin — (t_b·n_s·10⁶) div (s_b·n_t), clipped
    * at [[IW_MAX_PPM]] — and the ESS sums are exact BIGINTs over the
    * ≤cap+1 bins; the final ratio is one double division. Output:
    * per-bin rows (counts, weight, clipped flag) + the '_all' row
    * (bin −1) carrying ESS and its ratio to n.
    */
  def q394ImportanceWeights(spark: SparkSession, dir: String): DataFrame = {
    val bin = least(expr(s"n_chars div $IW_BIN_WIDTH"), lit(IW_BIN_CAP))
      .cast("long")
    val hist = Tables(spark, dir).documents
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("s_b"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_b"))
    val tot = hist.agg(sum("s_b").as("n_s"), sum("t_b").as("n_t"))
    val w = hist.crossJoin(broadcast(tot))
      .withColumn("w_raw_ppm",
        expr("t_b * n_s * 1000000 div (s_b * n_t)"))
      .withColumn("w_ppm",
        least(col("w_raw_ppm"), lit(IW_MAX_PPM)))
      .withColumn("clipped",
        when(col("w_raw_ppm") > IW_MAX_PPM, 1L).otherwise(0L))
    val bins = w.select(col("bin"), col("s_b").as("n_source"),
      col("t_b").as("n_target"), col("w_ppm"), col("clipped"),
      lit(0L).as("ess_micro"), lit(0L).as("ess_ratio_micro"))
    def d(c: Column) = c.cast("double")
    val allRow = w.agg(sum("s_b").as("ns"), sum("t_b").as("nt"),
      sum(col("s_b") * col("w_ppm")).as("sw"),
      sum(col("s_b") * col("w_ppm") * col("w_ppm")).as("sww"),
      sum(col("clipped") * col("s_b")).as("nclip"))
      .select(lit(-1L).as("bin"), col("ns").as("n_source"),
        col("nt").as("n_target"), lit(0L).as("w_ppm"),
        col("nclip").as("clipped"),
        floor(d(col("sw")) * d(col("sw")) / d(col("sww")) * lit(1e6) +
          lit(0.5)).cast("long").as("ess_micro"),
        floor(d(col("sw")) * d(col("sw")) / d(col("sww")) / d(col("ns"))
          * lit(1e6) + lit(0.5)).cast("long").as("ess_ratio_micro"))
    bins.unionByName(allRow)
  }

  val q394Sql: String =
    s"""WITH hist AS (
      |  SELECT least(n_chars // $IW_BIN_WIDTH, $IW_BIN_CAP) AS bin,
      |    CAST(count(*) AS BIGINT) AS s_b,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS t_b
      |  FROM documents GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(s_b) AS BIGINT) AS n_s,
      |    CAST(sum(t_b) AS BIGINT) AS n_t
      |  FROM hist),
      |w AS (
      |  SELECT h.*, t.n_s, t.n_t,
      |    CAST(t_b * n_s * 1000000 // (s_b * n_t) AS BIGINT) AS w_raw_ppm,
      |    CAST(least(t_b * n_s * 1000000 // (s_b * n_t), $IW_MAX_PPM)
      |      AS BIGINT) AS w_ppm,
      |    CAST(CASE WHEN t_b * n_s * 1000000 // (s_b * n_t) > $IW_MAX_PPM
      |      THEN 1 ELSE 0 END AS BIGINT) AS clipped
      |  FROM hist h, tot t)
      |SELECT bin, s_b AS n_source, t_b AS n_target, w_ppm, clipped,
      |  CAST(0 AS BIGINT) AS ess_micro, CAST(0 AS BIGINT)
      |    AS ess_ratio_micro
      |FROM w
      |UNION ALL
      |SELECT -1, CAST(sum(s_b) AS BIGINT), CAST(sum(t_b) AS BIGINT),
      |  CAST(0 AS BIGINT), CAST(sum(clipped * s_b) AS BIGINT),
      |  CAST(floor(CAST(sum(s_b * w_ppm) AS DOUBLE) *
      |      CAST(sum(s_b * w_ppm) AS DOUBLE) /
      |      CAST(sum(s_b * w_ppm * w_ppm) AS DOUBLE) * 1e6 + 0.5)
      |    AS BIGINT),
      |  CAST(floor(CAST(sum(s_b * w_ppm) AS DOUBLE) *
      |      CAST(sum(s_b * w_ppm) AS DOUBLE) /
      |      CAST(sum(s_b * w_ppm * w_ppm) AS DOUBLE) /
      |      CAST(sum(s_b) AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
      |FROM w
      |ORDER BY bin""".stripMargin

  /** q383 sampling interval and starting offset (1-based rank r is
    * sampled iff r % K == C). */
  val SYS_K = 50L
  val SYS_C = 7L

  /** q383: SYSTEMATIC SAMPLE — every K-th order in o_orderkey order
    * (the survey-sampling design that guarantees even coverage of the
    * frame where a hash sample only promises it in expectation; on a
    * time-ordered key it is also an even TEMPORAL sample). The global
    * rank comes from [[graft.operators.GlobalRank]] — range
    * repartition + per-partition offsets — so the classic
    * `row_number() OVER (ORDER BY ...)` one-task bottleneck never
    * exists; the selection is one integer modulus per row.
    */
  def q383SystematicSample(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir).orders
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
          .as("price_cents"))
    graft.operators.GlobalRank
      .withRowNumber(orders, "ord", col("o_orderkey"))
      .filter(col("ord") % SYS_K === SYS_C)
      .select(col("o_orderkey"), col("o_custkey"), col("price_cents"),
        col("ord"))
  }

  val q383Sql: String =
    s"""WITH r AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
      |    row_number() OVER (ORDER BY o_orderkey) AS ord
      |  FROM orders)
      |SELECT o_orderkey, o_custkey, price_cents, CAST(ord AS BIGINT) AS ord
      |FROM r WHERE ord % $SYS_K = $SYS_C
      |ORDER BY o_orderkey""".stripMargin

  /** q133: negatives kept per user, and the candidate over-draw that
    * absorbs collisions with positives and duplicate draws.
    */
  val NEG_K = 5
  val NEG_CANDIDATES = 20

  /** q133: NEGATIVE SAMPLING for implicit-feedback recommender
    * training — K items per customer they never purchased, drawn
    * deterministically. The scale question is how to sample negatives
    * WITHOUT materializing the |users| x |items| complement: each user
    * draws NEG_CANDIDATES candidate items by hashing (user, slot) into
    * the dense item-key space, removes collisions with their positives
    * (left-anti on the interaction table — |interactions|-bounded, not
    * |complement|) and duplicate draws (min slot per item), then keeps
    * the first NEG_K in slot order. Over-drawing 4x covers the loss to
    * positives/duplicates (positives are a few % of the item space;
    * the spec asserts every user fills its K). One explode of K-scale
    * rows per user, one anti-join shuffle — nothing corpus-squared.
    */
  def q133NegativeSampling(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ord = t.orders
    val li = t.lineitem
    val interactions = ord
      .join(li, ord("o_orderkey") === li("l_orderkey"))
      .select(col("o_custkey").as("c_custkey"), col("l_partkey").as("item"))
      .distinct()
    val nItems = t.part.agg(count(lit(1)).as("n_items"))
    val cand = t.customer.select("c_custkey")
      .crossJoin(broadcast(nItems))
      .select(col("c_custkey"),
        explode(sequence(lit(0L), lit((NEG_CANDIDATES - 1).toLong))).as("slot"),
        col("n_items"))
      .select(col("c_custkey"), col("slot"),
        (conv(substring(md5(concat(lit("neg:"), col("c_custkey").cast("string"),
          lit(":"), col("slot").cast("string"))), 1, 8), 16, 10).cast("long")
          % col("n_items")).as("item"))
    val dedup = cand.groupBy("c_custkey", "item")
      .agg(min("slot").as("slot"))
    val negatives = dedup.join(interactions, Seq("c_custkey", "item"), "left_anti")
    val ranked = negatives.withColumn("rank",
      row_number().over(Window.partitionBy("c_custkey")
        .orderBy(col("slot"), col("item"))).cast("long"))
    ranked.filter(col("rank") <= NEG_K)
      .select(col("c_custkey"), col("rank"), col("item"), col("slot"))
  }

  val q133Sql: String =
    s"""WITH ni AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM part),
      |cand AS (
      |  SELECT c_custkey, s.slot,
      |    CAST('0x' || substr(md5('neg:' || CAST(c_custkey AS VARCHAR) || ':'
      |      || CAST(s.slot AS VARCHAR)), 1, 8) AS BIGINT) % n_items AS item
      |  FROM customer
      |  CROSS JOIN ni
      |  CROSS JOIN (SELECT unnest(generate_series(0, ${NEG_CANDIDATES - 1}))
      |              AS slot) s),
      |dd AS (
      |  SELECT c_custkey, item, CAST(min(slot) AS BIGINT) AS slot
      |  FROM cand GROUP BY 1, 2),
      |pos AS (
      |  SELECT DISTINCT o_custkey AS c_custkey, l_partkey AS item
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |neg AS (
      |  SELECT dd.* FROM dd ANTI JOIN pos
      |    ON pos.c_custkey = dd.c_custkey AND pos.item = dd.item),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY c_custkey
      |    ORDER BY slot, item) AS BIGINT) AS rank
      |  FROM neg)
      |SELECT c_custkey, rank, item, slot FROM r WHERE rank <= $NEG_K
      |ORDER BY c_custkey, rank""".stripMargin

  /** q147 pair geometry: adjacent non-overlapping windows of this many
    * characters (stride == size, so input/target never overlap).
    */
  val PAIR_CHUNK = 256

  /** q147: NEXT-CHUNK TRAINING PAIRS — the (input, continuation)
    * example construction behind next-token/next-passage objectives
    * and retrieval-contrastive data: each document yields
    * (chunk_i -> chunk_{i+1}) pairs over adjacent non-overlapping
    * PAIR_CHUNK-char windows. Both sides of every pair are substrings
    * of the SAME row's text, so the whole operator is a ZERO-SHUFFLE
    * scan-stage pass (explode of a per-row index sequence + two
    * substring/md5 chains) — no lead() window, no self-join on
    * (doc_id, idx+1), nothing exchanged; at 100 TB the cost is the
    * corpus scan. Pairs are content-addressed (md5 both sides) for
    * downstream dedup/packing, the trailing partial target is kept
    * (its true length is emitted) — a short continuation is still a
    * training example.
    */
  def q147ChunkPairs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      // clamp the index upper bound at 0 (Spark's sequence DESCENDS for
      // stop < start, DuckDB's generate_series is empty — clamping plus
      // the empty-target filter below keeps both engines identical)
      .select(col("doc_id"), col("text"),
        explode(expr(
          s"sequence(0, cast(greatest(ceil(length(text) / $PAIR_CHUNK.0), 2) as int) - 2)"))
          .as("pair_idx"))
      .select(col("doc_id"), col("pair_idx"),
        substring(col("text"), col("pair_idx") * PAIR_CHUNK + 1, lit(PAIR_CHUNK))
          .as("input"),
        substring(col("text"), (col("pair_idx") + 1) * PAIR_CHUNK + 1, lit(PAIR_CHUNK))
          .as("target"))
      .filter(length(col("target")) > 0)
      .select(col("doc_id"), col("pair_idx"),
        length(col("input")).as("input_len"),
        length(col("target")).as("target_len"),
        md5(col("input")).as("input_md5"),
        md5(col("target")).as("target_md5"))

  val q147Sql: String =
    s"""SELECT doc_id, i AS pair_idx,
      |  length(substr(text, i * $PAIR_CHUNK + 1, $PAIR_CHUNK)) AS input_len,
      |  length(substr(text, (i + 1) * $PAIR_CHUNK + 1, $PAIR_CHUNK)) AS target_len,
      |  md5(substr(text, i * $PAIR_CHUNK + 1, $PAIR_CHUNK)) AS input_md5,
      |  md5(substr(text, (i + 1) * $PAIR_CHUNK + 1, $PAIR_CHUNK)) AS target_md5
      |FROM (
      |  SELECT doc_id, text,
      |    unnest(generate_series(0,
      |      CAST(greatest(ceil(length(text) / $PAIR_CHUNK.0), 2) AS INT) - 2)) AS i
      |  FROM documents)
      |WHERE length(substr(text, (i + 1) * $PAIR_CHUNK + 1, $PAIR_CHUNK)) > 0
      |ORDER BY doc_id, pair_idx""".stripMargin

  /** q153: DATASET CARD — the "datasheets for datasets" summary table
    * a corpus release ships with, as ONE query returning (metric,
    * value) rows: corpus scalars (docs, chars, tokens, distinct
    * langs/sources), the full language and source composition, and
    * length percentiles. The expensive text tokenization happens in
    * exactly ONE scan (the scalar aggregate); the composition rollups
    * scan only the pruned lang/source columns, and the percentile pass
    * only n_chars — column pruning makes the "extra" passes nearly
    * free at any scale. Values are integers (counts, or floor(p)+0.5
    * for the interpolated percentiles — Spark percentile == DuckDB
    * quantile_cont).
    */
  def q153DatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val scalars = docs
      .select(col("n_chars"), size(tokens(col("text"))).cast("long").as("n_toks"))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"),
        sum("n_toks").as("n_tokens"))
      .select(explode(array(
        struct(lit("n_docs").as("metric"), col("n_docs").as("value")),
        struct(lit("n_chars").as("metric"), col("n_chars").as("value")),
        struct(lit("n_tokens").as("metric"), col("n_tokens").as("value"))))
        .as("e"))
      .select(col("e.metric").as("metric"), col("e.value").as("value"))
    val langs = docs.groupBy("lang").agg(count(lit(1)).as("value"))
      .select(concat(lit("lang:"), col("lang")).as("metric"), col("value"))
    val sources = docs.groupBy("source").agg(count(lit(1)).as("value"))
      .select(concat(lit("source:"), col("source")).as("metric"), col("value"))
    val pcts = docs.agg(
      expr("percentile(n_chars, 0.5)").as("p50"),
      expr("percentile(n_chars, 0.9)").as("p90"))
      .select(explode(array(
        struct(lit("len_p50_chars").as("metric"),
          floor(col("p50") + lit(0.5)).cast("long").as("value")),
        struct(lit("len_p90_chars").as("metric"),
          floor(col("p90") + lit(0.5)).cast("long").as("value")))).as("e"))
      .select(col("e.metric").as("metric"), col("e.value").as("value"))
    scalars.unionByName(langs).unionByName(sources).unionByName(pcts)
  }

  val q153Sql: String =
    """WITH t AS (
      |  SELECT n_chars,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      x -> x != '')) AS BIGINT) AS n_toks
      |  FROM documents)
      |SELECT 'n_docs' AS metric, CAST(count(*) AS BIGINT) AS value FROM t
      |UNION ALL
      |SELECT 'n_chars', CAST(sum(n_chars) AS BIGINT) FROM t
      |UNION ALL
      |SELECT 'n_tokens', CAST(sum(n_toks) AS BIGINT) FROM t
      |UNION ALL
      |SELECT 'lang:' || lang, CAST(count(*) AS BIGINT) FROM documents GROUP BY lang
      |UNION ALL
      |SELECT 'source:' || source, CAST(count(*) AS BIGINT) FROM documents GROUP BY source
      |UNION ALL
      |SELECT 'len_p50_chars', CAST(floor(quantile_cont(CAST(n_chars AS DOUBLE), 0.5) + 0.5) AS BIGINT) FROM documents
      |UNION ALL
      |SELECT 'len_p90_chars', CAST(floor(quantile_cont(CAST(n_chars AS DOUBLE), 0.9) + 0.5) AS BIGINT) FROM documents
      |ORDER BY metric""".stripMargin

  /** q209: TEMPERATURE-SAMPLED MIXTURE WEIGHTS — the multilingual /
    * multi-source sampling rule (weight ∝ n_tokens^α, here α = 1/2)
    * that upweights small sources relative to proportional sampling,
    * computed next to the proportional baseline so the flattening is
    * visible per source. One corpus scan (token counts are the q34
    * whitespace tokenizer, counted scan-stage), a source-sized rollup,
    * and a broadcast 1-row total. Cross-engine exactness: sqrt is
    * IEEE-754 correctly rounded in BOTH engines (unlike pow), so
    * quantizing each source's sqrt(n_tokens) to integer milli-units
    * BEFORE the normalizing sum makes every ratio pure BIGINT
    * arithmetic.
    */
  def q209MixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables(spark, dir).documents
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .withColumn("s_milli",
        floor(sqrt(col("n_tokens").cast("double")) * 1000 + lit(0.5))
          .cast("long"))
    val tot = perSource.agg(sum("s_milli").as("s_tot"),
      sum("n_tokens").as("tok_tot"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        floor(col("n_tokens") * lit(1e6) / col("tok_tot") + lit(0.5))
          .cast("long").as("prop_micro"),
        floor(col("s_milli") * lit(1e6) / col("s_tot") + lit(0.5))
          .cast("long").as("w05_micro"))
  }

  val q209Sql: String =
    """WITH t AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      t -> t != ''))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |s AS (
      |  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000 + 0.5)
      |    AS BIGINT) AS s_milli FROM t),
      |tot AS (
      |  SELECT CAST(sum(s_milli) AS BIGINT) AS s_tot,
      |    CAST(sum(n_tokens) AS BIGINT) AS tok_tot FROM s)
      |SELECT source, n_docs, n_tokens,
      |  CAST(floor(n_tokens * 1e6 / tok_tot + 0.5) AS BIGINT) AS prop_micro,
      |  CAST(floor(s_milli * 1e6 / s_tot + 0.5) AS BIGINT) AS w05_micro
      |FROM s CROSS JOIN tot
      |ORDER BY source""".stripMargin

  /** q221 ladder rungs (percent of the corpus). */
  val LADDER_PCTS: Seq[Int] = Seq(10, 25, 50, 100)

  /** q221: SCALING-LAW SUBSAMPLE LADDER — the nested 10/25/50/100%
    * corpus subsets a scaling-law study trains on, manifested as one
    * row per rung with its exact doc/token budget. Membership is the
    * q50 deterministic md5 bucket on doc_id, so the subsets are NESTED
    * (every 10% doc is in the 25% set...), reproducible on any cluster,
    * and recomputable at selection time with zero stored state. ONE
    * corpus scan: every rung is a conditional aggregate over the same
    * bucket column — adding rungs costs nothing.
    */
  def q221ScalingLadder(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
      .select(
        (conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
          .cast("long") % 100).as("bucket"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
    val aggs = LADDER_PCTS.flatMap { p =>
      Seq(
        sum(when(col("bucket") < p, 1L).otherwise(0L)).as(s"docs_$p"),
        sum(when(col("bucket") < p, col("n_tok")).otherwise(0L))
          .as(s"toks_$p"))
    }
    val one = d.agg(aggs.head, aggs.tail: _*)
    val stacked = LADDER_PCTS.map(p => s"$p, docs_$p, toks_$p").mkString(", ")
    one.selectExpr(s"toks_${LADDER_PCTS.last} as full_toks",
      s"stack(${LADDER_PCTS.size}, $stacked) as (pct, n_docs, n_tokens)")
      .select(col("pct"), col("n_docs"), col("n_tokens"),
        floor(col("n_tokens") * lit(1e6) / col("full_toks") + lit(0.5))
          .cast("long").as("token_frac_micro"))
  }

  val q221Sql: String = {
    val branches = LADDER_PCTS.map { p =>
      s"""SELECT $p AS pct,
      |  CAST(sum(CASE WHEN bucket < $p THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN bucket < $p THEN n_tok ELSE 0 END) AS BIGINT)
      |    AS n_tokens
      |FROM d"""
    }.mkString("\nUNION ALL\n")
    s"""WITH d AS (
      |  SELECT
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
      |      % 100 AS bucket,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |      t -> t != '')) AS BIGINT) AS n_tok
      |  FROM documents),
      |br AS (
      |$branches),
      |f AS (SELECT n_tokens AS full_toks FROM br WHERE pct = ${LADDER_PCTS.last})
      |SELECT pct, n_docs, n_tokens,
      |  CAST(floor(n_tokens * 1e6 / full_toks + 0.5) AS BIGINT)
      |    AS token_frac_micro
      |FROM br CROSS JOIN f ORDER BY pct""".stripMargin
  }

  /** q227: SOURCE-VS-CORPUS KL DIVERGENCE — for each source, the KL
    * divergence of its token distribution from the whole corpus's:
    * the "how idiosyncratic is this source" score that ranks sources
    * for mixture re-weighting (q209's weights say how MUCH to sample;
    * KL says how DIFFERENT each source is from the blend). Every
    * source's vocabulary is a subset of the corpus's, so KL needs no
    * smoothing and every term is well-defined. One (source, token)
    * rollup feeds both distributions; the per-term p·ln(p/q) values
    * fold IN TOKEN ORDER via the shared sorted-list idiom (q170/q224),
    * so the only cross-engine freedom is ln()'s final ulp — the result
    * stays a DOUBLE for the gate's relative tolerance (the q177
    * discipline for transcendental outputs).
    */
  def q227SourceKl(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir).documents
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
      .transform(Pins.pin)
    val corpus = counts.groupBy("t").agg(sum("c").as("cg"))
    val totals = counts.groupBy("source").agg(sum("c").as("ns"))
    val ng = counts.agg(sum("c").as("ng"))
    val terms = counts.join(corpus, "t")
      .join(totals, "source").crossJoin(broadcast(ng))
      .select(col("source"), col("t"), col("ns"),
        ((col("c").cast("double") / col("ns")) *
          log(col("c").cast("double") * col("ng") /
            (col("cg").cast("double") * col("ns")))).as("term"))
    terms.groupBy("source")
      .agg(max("ns").as("n_tokens"), count(lit(1)).as("vocab"),
        sort_array(collect_list(struct(col("t"), col("term")))).as("ts"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        aggregate(col("ts"), lit(0.0),
          (acc, x) => acc + x.getField("term")).as("kl_nats"))
  }

  val q227Sql: String =
    """WITH counts AS (
      |  SELECT source, t, count(*) AS c FROM (
      |    SELECT source,
      |      unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |        x -> x != '')) AS t
      |    FROM documents)
      |  GROUP BY 1, 2),
      |corpus AS (SELECT t, CAST(sum(c) AS BIGINT) AS cg FROM counts GROUP BY 1),
      |totals AS (
      |  SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM counts GROUP BY 1),
      |ng AS (SELECT CAST(sum(c) AS BIGINT) AS ng FROM counts),
      |terms AS (
      |  SELECT co.source, co.t, tt.ns,
      |    (CAST(co.c AS DOUBLE) / tt.ns) *
      |      ln(CAST(co.c AS DOUBLE) * ng.ng / (CAST(cp.cg AS DOUBLE) * tt.ns))
      |      AS term
      |  FROM counts co
      |  JOIN corpus cp USING (t)
      |  JOIN totals tt USING (source)
      |  CROSS JOIN ng)
      |SELECT source, max(ns) AS n_tokens, count(*) AS vocab,
      |  list_reduce(list(term ORDER BY t), (a, b) -> a + b) AS kl_nats
      |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin

  /** q235 split geometry: sessions ending before the cutoff train;
    * sessions starting after cutoff + embargo test; anything touching
    * the embargo corridor is PURGED.
    */
  val SPLIT_CUTOFF = "2024-01-22 00:00:00"
  val SPLIT_EMBARGO_US: Long = 3600L * 1000000L
  val SPLIT_GAP_US: Long = 30L * 60L * 1000000L

  /** q235: PURGED TEMPORAL SPLIT — the leakage-safe train/test split
    * for sequence models: splitting EVENTS at a cutoff leaks, because
    * a session straddling it puts correlated behavior on both sides.
    * So the unit of assignment is the SESSION (the q37 gap rule), and
    * an embargo corridor after the cutoff is dropped entirely — the
    * purged/embargoed split from the financial-ML literature, applied
    * to behavioral data. One user-partitioned window pass sessionizes
    * (the exchange every sequence query shares), one session rollup
    * classifies, one 3-row report: per split, sessions / events /
    * distinct users.
    */
  def q235PurgedSplit(spark: SparkSession, dir: String): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val cum = byUser.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cutoffUs = col("cutoff_us")
    val sessions = Tables(spark, dir).events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > SPLIT_GAP_US, 1L)
          .otherwise(0L))
      .withColumn("sess_idx", sum("new_sess").over(cum))
      .groupBy("user_id", "sess_idx")
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
      .withColumn("cutoff_us",
        unix_micros(lit(SPLIT_CUTOFF).cast("timestamp")))
      .withColumn("split",
        when(col("end_us") < cutoffUs, "train")
          .when(col("start_us") >= cutoffUs + SPLIT_EMBARGO_US, "test")
          .otherwise("purged"))
    sessions.groupBy("split")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"),
        countDistinct("user_id").as("n_users"))
  }

  val q235Sql: String =
    s"""WITH f AS (
      |  SELECT *,
      |    CASE WHEN prev_us IS NULL
      |           OR epoch_us(ts) - prev_us > $SPLIT_GAP_US
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |      lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |                              ORDER BY ts, event_id) AS prev_us
      |    FROM events)),
      |s AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      |  FROM f),
      |sess AS (
      |  SELECT user_id, sess_idx, count(*) AS n_events,
      |    min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
      |  FROM s GROUP BY 1, 2),
      |cls AS (
      |  SELECT *,
      |    CASE WHEN end_us < epoch_us(TIMESTAMP '$SPLIT_CUTOFF') THEN 'train'
      |         WHEN start_us >= epoch_us(TIMESTAMP '$SPLIT_CUTOFF')
      |           + $SPLIT_EMBARGO_US THEN 'test'
      |         ELSE 'purged' END AS split
      |  FROM sess)
      |SELECT split, count(*) AS n_sessions,
      |  CAST(sum(n_events) AS BIGINT) AS n_events,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin

  /** q298: LEAVE-ONE-OUT TARGET ENCODING of a categorical feature —
    * the classic high-cardinality-categorical encoder for tabular
    * models, with the leakage guard built in: each row's encoding is
    * the mean target of its category EXCLUDING the row itself
    * (enc_i = (S_cat − v_i) / (n_cat − 1)), so a row never sees its
    * own label.
    *
    * Exactness: values quantize to integer cents (floor(v·100 + 0.5),
    * one IEEE op, identical in both engines), category sums are plain
    * BIGINT — order-independent — and the encoding is ONE IEEE
    * division of exact integers, so it is bit-identical across
    * engines and partitionings.
    *
    * Scale shape: the category statistics table is bounded by
    * |categories| (tiny), broadcast back onto the fact scan — the
    * encode itself is a zero-shuffle scan-stage map at 100 TB; the
    * only shuffle is the |categories|-bounded aggregate.
    */
  def q298TargetEncode(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("v_c"))
    val stats = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_cat"), sum("v_c").as("s_c"))
    ev.join(broadcast(stats), "event_type")
      .filter(col("n_cat") > 1)
      .select(col("event_id"), col("event_type"), col("n_cat"),
        ((col("s_c") - col("v_c")).cast("double") /
          ((col("n_cat") - 1) * lit(100.0d))).as("loo_enc"))
  }

  val q298Sql: String =
    s"""WITH ev AS (
      |  SELECT event_id, event_type,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c
      |  FROM events),
      |stats AS (
      |  SELECT event_type, count(*) AS n_cat, sum(v_c) AS s_c
      |  FROM ev GROUP BY 1)
      |SELECT ev.event_id, ev.event_type, stats.n_cat,
      |  CAST(stats.s_c - ev.v_c AS DOUBLE) / ((stats.n_cat - 1) * 100.0)
      |    AS loo_enc
      |FROM ev JOIN stats USING (event_type)
      |WHERE stats.n_cat > 1
      |ORDER BY event_id""".stripMargin

  /** q311 water-filling rounds (unrolled in BOTH engines). */
  val WF_ROUNDS = 3

  /** q311: MIXTURE WATER-FILLING UNDER A TOKEN BUDGET — the
    * allocation solver behind every data-mixing decision q50/q209/q227
    * report on: give each source a budget share proportional to its
    * temperature weight (α = 0.5: w ∝ √tokens, the standard
    * low-resource boost), but cap every source at 1.5 epochs of its
    * available tokens and REDISTRIBUTE the surplus among uncapped
    * sources — the classic water-filling recurrence, run for
    * [[WF_ROUNDS]] unrolled rounds (cap-set growth is monotone, so
    * each round is one scalar aggregate + one broadcast back; the
    * rounds are data-independent plan structure, the q271/q308 idiom).
    *
    * Integer-exact: weights are micro-quantized √tokens (one IEEE
    * sqrt of an exactly-representable BIGINT), every share is BIGINT
    * floor division, caps/budget are integer products. Gate-scale
    * products stay < 2^63; production rescales in DECIMAL (q264
    * convention).
    *
    * Scale shape: the corpus collapses to the |sources|-bounded token
    * rollup first; every round after that touches |sources| rows with
    * 1-row scalar broadcasts — at 100 TB the solver costs one scan
    * plus noise.
    */
  def q311MixtureWaterfill(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).documents
      .select(col("source"), size(tokens(col("text"))).cast("long").as("t"))
      .groupBy("source").agg(sum("t").as("avail"))
      .withColumn("w", floor(sqrt(col("avail")) * 1e6 + lit(0.5)).cast("long"))
      .withColumn("cap", expr("(avail * 3) div 2"))
    val budget = base.agg(expr("(sum(avail) * 3) div 2").as("budget"))
    var st = base.crossJoin(broadcast(budget))
      .withColumn("alloc", lit(null).cast("long"))
    for (_ <- 1 to WF_ROUNDS) {
      val scal = st.agg(
        sum(when(col("alloc").isNull, col("w"))).as("w_rem"),
        (first(col("budget")) - coalesce(sum("alloc"), lit(0L))).as("r_rem"))
      st = st.crossJoin(broadcast(scal))
        .withColumn("alloc",
          when(col("alloc").isNotNull, col("alloc"))
            .when(expr("(r_rem * w) div w_rem") >= col("cap"), col("cap")))
        .drop("w_rem", "r_rem")
    }
    val fin = st.agg(
      sum(when(col("alloc").isNull, col("w"))).as("w_rem"),
      (first(col("budget")) - coalesce(sum("alloc"), lit(0L))).as("r_rem"))
    st.crossJoin(broadcast(fin))
      .withColumn("alloc",
        coalesce(col("alloc"), least(col("cap"),
          expr("(r_rem * w) div w_rem"))))
      .select(col("source"), col("avail"), col("w").as("w_micro"),
        col("cap"), col("alloc"),
        (col("alloc") === col("cap")).as("capped"),
        expr("(alloc * 1000000) div avail").as("epochs_micro"))
  }

  val q311Sql: String = {
    def roundSql(k: Int, prev: String): String =
      s"""r${k}s AS (
        |  SELECT sum(CASE WHEN alloc IS NULL THEN w END) AS w_rem,
        |    (SELECT budget FROM b) - coalesce(sum(alloc), 0) AS r_rem
        |  FROM $prev),
        |s$k AS (
        |  SELECT p.source, p.avail, p.w, p.cap,
        |    CASE WHEN p.alloc IS NOT NULL THEN p.alloc
        |         WHEN (r.r_rem * p.w) // r.w_rem >= p.cap THEN p.cap
        |    END AS alloc
        |  FROM $prev p, r${k}s r)""".stripMargin
    val rounds = (1 to WF_ROUNDS).map(k =>
      roundSql(k, if (k == 1) "s0" else s"s${k - 1}")).mkString(",\n")
    s"""WITH tok AS (
      |  SELECT source,
      |    CAST(sum(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |                             x -> x != ''))) AS BIGINT) AS avail
      |  FROM documents GROUP BY 1),
      |base AS (
      |  SELECT source, avail,
      |    CAST(floor(sqrt(avail) * 1e6 + 0.5) AS BIGINT) AS w,
      |    (avail * 3) // 2 AS cap
      |  FROM tok),
      |b AS (SELECT (sum(avail) * 3) // 2 AS budget FROM base),
      |s0 AS (SELECT base.*, CAST(NULL AS BIGINT) AS alloc FROM base),
      |$rounds,
      |fin AS (
      |  SELECT sum(CASE WHEN alloc IS NULL THEN w END) AS w_rem,
      |    (SELECT budget FROM b) - coalesce(sum(alloc), 0) AS r_rem
      |  FROM s$WF_ROUNDS)
      |SELECT s.source, s.avail, s.w AS w_micro, s.cap,
      |  CAST(coalesce(s.alloc, least(s.cap, (f.r_rem * s.w) // f.w_rem))
      |    AS BIGINT) AS alloc,
      |  coalesce(s.alloc, least(s.cap, (f.r_rem * s.w) // f.w_rem)) = s.cap
      |    AS capped,
      |  CAST((coalesce(s.alloc, least(s.cap, (f.r_rem * s.w) // f.w_rem))
      |    * 1000000) // s.avail AS BIGINT) AS epochs_micro
      |FROM s$WF_ROUNDS s, fin f
      |ORDER BY s.source""".stripMargin
  }

  /** q342: LEAVE-ONE-SOURCE-OUT CORPUS VALUATION — the cheapest data-
    * valuation signal a mixing pipeline computes before anything
    * Shapley-shaped: for each source, how the corpus-level quality
    * statistics (mean tokens/doc and mean chars/token) would move if
    * that source were dropped. LOO means come from the algebraic
    * identity (S−s_i)/(N−n_i) — one pass, no per-source rescan, which
    * is exactly why this is viable at 100 TB where |sources| re-scans
    * are not. All sums are exact BIGINTs; the means/deltas are single
    * IEEE divisions of identical integers, reported micro-quantized.
    */
  def q342LooSourceValue(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables(spark, dir).documents
      .select(col("source"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chars"))
    val perSrc = perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok_sum"),
        sum("n_chars").as("chr_sum"))
    val tot = perSrc.agg(sum("n_docs").as("nn"), sum("tok_sum").as("ss"),
      sum("chr_sum").as("cc"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        floor(col("tok_sum").cast("double") / col("n_docs").cast("double")
          * lit(1e6) + lit(0.5)).cast("long").as("mean_tok_micro"),
        floor((col("ss") - col("tok_sum")).cast("double") /
          (col("nn") - col("n_docs")).cast("double") * lit(1e6) + lit(0.5))
          .cast("long").as("loo_mean_tok_micro"),
        floor(((col("ss") - col("tok_sum")).cast("double") /
          (col("nn") - col("n_docs")).cast("double") -
          col("ss").cast("double") / col("nn").cast("double")) * lit(1e6)
          + lit(0.5)).cast("long").as("delta_tok_micro"),
        floor(((col("cc") - col("chr_sum")).cast("double") /
          (col("ss") - col("tok_sum")).cast("double") -
          col("cc").cast("double") / col("ss").cast("double")) * lit(1e6)
          + lit(0.5)).cast("long").as("delta_cpt_micro"))
  }

  val q342Sql: String =
    """WITH perdoc AS (
      |  SELECT source,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      x -> x != '')) AS BIGINT) AS n_tok,
      |    CAST(length(text) AS BIGINT) AS n_chars
      |  FROM documents),
      |persrc AS (
      |  SELECT source, count(*) AS n_docs, sum(n_tok) AS tok_sum,
      |    sum(n_chars) AS chr_sum
      |  FROM perdoc GROUP BY 1),
      |tot AS (SELECT sum(n_docs) AS nn, sum(tok_sum) AS ss,
      |        sum(chr_sum) AS cc FROM persrc)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(floor(CAST(tok_sum AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1e6
      |    + 0.5) AS BIGINT) AS mean_tok_micro,
      |  CAST(floor(CAST(ss - tok_sum AS DOUBLE) /
      |    CAST(nn - n_docs AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
      |    AS loo_mean_tok_micro,
      |  CAST(floor((CAST(ss - tok_sum AS DOUBLE) /
      |      CAST(nn - n_docs AS DOUBLE) -
      |      CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)) * 1e6 + 0.5)
      |    AS BIGINT) AS delta_tok_micro,
      |  CAST(floor((CAST(cc - chr_sum AS DOUBLE) /
      |      CAST(ss - tok_sum AS DOUBLE) -
      |      CAST(cc AS DOUBLE) / CAST(ss AS DOUBLE)) * 1e6 + 0.5)
      |    AS BIGINT) AS delta_cpt_micro
      |FROM persrc, tot ORDER BY source""".stripMargin

  /** q354 total sample size to allocate across strata. */
  val NEYMAN_TOTAL = 500L

  /** q354: NEYMAN ALLOCATION — when a labeling/eval budget of
    * [[NEYMAN_TOTAL]] docs must be split across source strata, the
    * variance-optimal split samples ∝ N_h·σ_h (big AND noisy strata
    * get more), not ∝ N_h: for equal-size strata whose length
    * variance differs 4×, proportional allocation wastes half the
    * budget's precision. Reports both allocations side by side — the
    * table a sampling-design review actually reads. Complements q187
    * (which EXECUTES a fixed-n stratified sample) and q108 (weighted
    * row sampling): this decides the n_h those operators consume.
    *
    * Scale shape: ONE map-side-combined rollup to |sources| exact
    * moments (n, Σx, Σx²) — n_chars is already integer, so σ_h needs
    * no decimal cast; everything after runs on the bounded strata
    * table. Determinism: per-stratum N_h·σ_h is one double expression
    * over exact integers, micro-quantized BEFORE the cross-strata
    * total, so the allocation ratios are integer arithmetic plus one
    * IEEE division.
    */
  def q354NeymanAllocation(spark: SparkSession, dir: String): DataFrame = {
    val strata = Tables(spark, dir).documents
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sxx"))
      .filter(col("n_docs") > 1)
    val n = col("n_docs").cast("double")
    val sigma = sqrt((n * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")) /
      (n * (n - lit(1.0d))))
    val w = strata.withColumn("w_micro",
      floor(n * sigma * lit(1e6) + lit(0.5)).cast("long"))
    val tot = w.agg(sum("w_micro").as("ww"), sum("n_docs").as("nn"))
    w.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("w_micro"),
        floor(lit(NEYMAN_TOTAL.toDouble) * col("w_micro").cast("double") /
          col("ww").cast("double") + lit(0.5)).cast("long")
          .as("alloc_neyman"),
        floor(lit(NEYMAN_TOTAL.toDouble) * col("n_docs").cast("double") /
          col("nn").cast("double") + lit(0.5)).cast("long")
          .as("alloc_prop"))
  }

  val q354Sql: String =
    s"""WITH s AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS sx,
      |    CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
      |  FROM documents GROUP BY 1
      |  HAVING count(*) > 1),
      |w AS (
      |  SELECT source, n_docs,
      |    CAST(floor(CAST(n_docs AS DOUBLE) *
      |      sqrt((CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
      |           (CAST(n_docs AS DOUBLE) *
      |            (CAST(n_docs AS DOUBLE) - 1.0))) * 1e6 + 0.5)
      |      AS BIGINT) AS w_micro
      |  FROM s),
      |t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS ww,
      |             CAST(sum(n_docs) AS BIGINT) AS nn FROM w)
      |SELECT source, n_docs, w_micro,
      |  CAST(floor(${NEYMAN_TOTAL.toDouble} * CAST(w_micro AS DOUBLE) /
      |    CAST(ww AS DOUBLE) + 0.5) AS BIGINT) AS alloc_neyman,
      |  CAST(floor(${NEYMAN_TOTAL.toDouble} * CAST(n_docs AS DOUBLE) /
      |    CAST(nn AS DOUBLE) + 0.5) AS BIGINT) AS alloc_prop
      |FROM w CROSS JOIN t ORDER BY source""".stripMargin

  /** q357 candidate truncation caps (chars). */
  val TRUNC_GRID: Seq[Long] = Seq(64L, 128L, 256L, 512L, 1024L)

  /** q357: TRUNCATION-LOSS CURVE — for each candidate context cap L,
    * how many documents would be cut and what fraction of the corpus'
    * characters survives truncation to L: the table that picks a
    * training context length (the complement of q46, which PACKS at a
    * chosen length — this decides what that length should be). The
    * loss is computed exactly, not from a length histogram: kept(L) =
    * Σ min(n_chars, L).
    *
    * Scale shape: ONE corpus scan fanned out ×|grid| by a broadcast
    * literal array (posexplode of a 5-element array — constant), then
    * a map-side-combined rollup to |grid| rows. Integers end-to-end
    * except the final share division, micro-quantized.
    */
  def q357TruncationCurve(spark: SparkSession, dir: String): DataFrame = {
    val grid = array(TRUNC_GRID.map(lit): _*)
    Tables(spark, dir).documents
      .select(col("n_chars"), explode(grid).as("cap"))
      .groupBy("cap")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_chars") > col("cap"), 1L).otherwise(0L))
          .as("n_truncated"),
        sum(least(col("n_chars"), col("cap"))).as("chars_kept"),
        sum("n_chars").as("chars_total"))
      .select(col("cap"), col("n_docs"), col("n_truncated"),
        col("chars_kept"),
        floor(col("chars_kept").cast("double") /
          col("chars_total").cast("double") * lit(1e6) + lit(0.5))
          .cast("long").as("share_kept_micro"))
  }

  val q357Sql: String =
    s"""SELECT cap, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN n_chars > cap THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_truncated,
      |  CAST(sum(least(n_chars, cap)) AS BIGINT) AS chars_kept,
      |  CAST(floor(CAST(sum(least(n_chars, cap)) AS DOUBLE) /
      |    CAST(sum(n_chars) AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
      |    AS share_kept_micro
      |FROM documents, unnest([${TRUNC_GRID.mkString(", ")}]) AS t(cap)
      |GROUP BY cap ORDER BY cap""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q357_truncation_curve" -> Gate.sorted(q357TruncationCurve _, "cap"),
    "q354_neyman_allocation" ->
      Gate.sorted(q354NeymanAllocation _, "source"),
    "q342_loo_source_value" -> Gate.sorted(q342LooSourceValue _, "source"),
    "q314_fim_split" -> Gate.sorted(q314FimSplit _, "doc_id"),
    "q318_bottomk_sample" -> Gate.sorted(q318BottomkSample _, "source", "rk"),
    "q311_mixture_waterfill" ->
      Gate.sorted(q311MixtureWaterfill _, "source"),
    "q298_target_encode" -> Gate.sorted(q298TargetEncode _, "event_id"),
    "q235_purged_split" -> Gate.sorted(q235PurgedSplit _, "split"),
    "q227_source_kl" -> Gate.sorted(q227SourceKl _, "source"),
    "q221_scaling_ladder" -> Gate.sorted(q221ScalingLadder _, "pct"),
    "q209_mixture_weights" -> Gate.sorted(q209MixtureWeights _, "source"),
    "q153_dataset_card" -> Gate.sorted(q153DatasetCard _, "metric"),
    "q147_chunk_pairs" -> Gate.sorted(q147ChunkPairs _, "doc_id", "pair_idx"),
    "q133_negative_sampling" -> Gate.sorted(q133NegativeSampling _, "c_custkey", "rank"),
    "q108_weighted_sample" -> Gate.sorted(q108WeightedSample _, "doc_id"),
    "q109_global_shuffle" -> Gate.sorted(q109GlobalShuffle _, "doc_id"),
    "q383_systematic_sample" ->
      Gate.sorted(q383SystematicSample _, "o_orderkey"),
    "q394_importance_weights" ->
      Gate.sorted(q394ImportanceWeights _, "bin"),
    "q101_bigram_lm_score" -> Gate.sorted(q101BigramLmScore _, "doc_id"),
    "q86_word_coocc" -> Gate.sorted(q86WordCoocc _, "w1", "w2"),
    "q57_shard_manifest" -> Gate.sorted(q57ShardManifest _, "shard"),
    "q58_source_quota" -> Gate.sorted(q58SourceQuota _, "doc_id"),
    "q46_seq_pack" -> Gate.sorted(q46SeqPack _, "shard", "pack_id"),
    "q47_regex_scrub" -> Gate.sorted(q47RegexScrub _, "doc_id"),
    "q48_decontaminate" -> Gate.sorted(q48Decontaminate _, "doc_id"),
    "q50_corpus_mix" -> Gate.sorted(q50CorpusMix _, "doc_id"),
    "q52_rep_ngrams" -> Gate.sorted(q52RepNgrams _, "doc_id"),
    "q64_bpe_pairs" -> Gate.sorted(q64BpePairs _, "rank"),
    "q296_bpe_encode" -> Gate.sorted(q296BpeEncode _, "sym"),
    "q65_source_token_profile" -> Gate.sorted(q65SourceTokenProfile _, "source"),
    "q282_robust_scale" -> Gate.sorted(q282RobustScale _, "event_id"),
    "q71_table_stats" -> Gate.sorted(
      (s: SparkSession, d: String) => q71TableStats(s, d), "col_name"),
    "q80_segment_dedup" -> Gate.sorted(q80SegmentDedup _, "doc_id"),
    "q81_quality_rules" -> Gate.sorted(q81QualityRules _, "doc_id"))

  val oracles: Map[String, String] = Map(
    "q357_truncation_curve" -> q357Sql,
    "q354_neyman_allocation" -> q354Sql,
    "q342_loo_source_value" -> q342Sql,
    "q314_fim_split" -> q314Sql,
    "q318_bottomk_sample" -> q318Sql,
    "q311_mixture_waterfill" -> q311Sql,
    "q298_target_encode" -> q298Sql,
    "q235_purged_split" -> q235Sql,
    "q227_source_kl" -> q227Sql,
    "q221_scaling_ladder" -> q221Sql,
    "q209_mixture_weights" -> q209Sql,
    "q153_dataset_card" -> q153Sql,
    "q147_chunk_pairs" -> q147Sql,
    "q133_negative_sampling" -> q133Sql,
    "q108_weighted_sample" -> q108Sql,
    "q109_global_shuffle" -> q109Sql,
    "q383_systematic_sample" -> q383Sql,
    "q394_importance_weights" -> q394Sql,
    "q101_bigram_lm_score" -> q101Sql,
    "q86_word_coocc" -> q86Sql,
    "q57_shard_manifest" -> q57Sql,
    "q58_source_quota" -> q58Sql,
    "q46_seq_pack" -> q46Sql,
    "q47_regex_scrub" -> q47Sql,
    "q48_decontaminate" -> q48Sql,
    "q50_corpus_mix" -> q50Sql,
    "q52_rep_ngrams" -> q52Sql,
    "q64_bpe_pairs" -> q64Sql,
    "q296_bpe_encode" -> q296Sql,
    "q65_source_token_profile" -> q65Sql,
    "q282_robust_scale" -> q282Sql,
    "q71_table_stats" -> q71Sql,
    "q80_segment_dedup" -> q80Sql,
    "q81_quality_rules" -> q81Sql)
}
