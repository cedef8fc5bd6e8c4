package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + exact-dedup + multimodal-metadata operators
  * (SURVEY.md §2 q26, q32–q36) over the `documents` table.
  *
  * These are the map-side passes of a training-data pipeline: at 100 TB
  * every one of them runs inside the scan stage (no shuffle except the
  * dedup groupBy), whole-stage-codegen'd, and the dedup groupBy keys on
  * a content hash so the exchange carries (hash, min-id, count) — not
  * document bodies.
  */
object LlmText extends QueryModule {

  /** q26: exact deduplication — group by content md5, keep the minimum
    * doc_id as the canonical copy. The shuffle carries only hashes and
    * ids; at 100 TB pair this with a semi-join back to fetch kept rows.
    */
  def q26DedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), md5(col("text")).as("content_md5"))
      .groupBy("content_md5")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies", "content_md5")

  val q26Sql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS content_md5
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  /** q32: heuristic language ID — stopword-frequency scores per
    * language plus a CJK character check; argmax with a deterministic
    * tie-break order. (The synthetic corpus shares one vocabulary
    * across lang labels, so the oracle validates the scoring pipeline,
    * not classifier accuracy.)
    */
  def q32LangId(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val sEn = stopwordHits(toks, STOP_EN)
    val sFr = stopwordHits(toks, STOP_FR)
    val sDe = stopwordHits(toks, STOP_DE)
    val sEs = stopwordHits(toks, STOP_ES)
    val hasCjk = col("text").rlike("[\\x{4e00}-\\x{9fff}]")
    Tables(spark, dir).documents
      .select(col("doc_id"), col("lang").as("actual_lang"),
        sEn.as("s_en"), sFr.as("s_fr"), sDe.as("s_de"), sEs.as("s_es"),
        hasCjk.as("has_cjk"))
      .withColumn("pred_lang",
        when(col("has_cjk"), "zh")
          .when(col("s_en") >= greatest(col("s_fr"), col("s_de"), col("s_es")) && col("s_en") > 0, "en")
          .when(col("s_fr") >= greatest(col("s_de"), col("s_es")) && col("s_fr") > 0, "fr")
          .when(col("s_de") >= col("s_es") && col("s_de") > 0, "de")
          .when(col("s_es") > 0, "es")
          .otherwise("unknown"))
  }

  /** q222: LANGUAGE-ID CONFUSION MATRIX — the multiclass eval of the
    * q32 classifier against the corpus's labeled `lang`: per (actual,
    * predicted) cell, the count and the row-normalized rate (recall on
    * the diagonal, confusion rates off it). This is the label-quality
    * audit a multilingual pipeline runs before trusting lang-based
    * routing — and the multiclass complement of the binary q136/q137
    * eval family. One pass: q32's per-doc scan (zero-shuffle), a
    * 25-cell aggregate, and a window over the tiny matrix.
    */
  def q222LangidConfusion(spark: SparkSession, dir: String): DataFrame = {
    val byActual = org.apache.spark.sql.expressions.Window
      .partitionBy("actual_lang")
    q32LangId(spark, dir)
      .groupBy("actual_lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("row_frac_micro",
        floor(col("n") * lit(1e6) / sum("n").over(byActual) + lit(0.5))
          .cast("long"))
  }

  // lazy: defined textually before q32Sql, which it embeds
  lazy val q222Sql: String =
    s"""WITH p AS (${q32Sql.replace("ORDER BY doc_id", "")}),
      |m AS (
      |  SELECT actual_lang, pred_lang, count(*) AS n
      |  FROM p GROUP BY 1, 2)
      |SELECT actual_lang, pred_lang, n,
      |  CAST(floor(n * 1e6 / sum(n) OVER (PARTITION BY actual_lang) + 0.5)
      |    AS BIGINT) AS row_frac_micro
      |FROM m ORDER BY actual_lang, pred_lang""".stripMargin

  /** q411: MULTI-CLASS EVAL REPORT — per-class precision/recall/F1
    * over q222's confusion rollup plus the two standard summary rows:
    * `__macro` (unweighted mean of the per-class scores over classes
    * with support — the number that exposes minority-class failure)
    * and `__micro` (pooled accuracy — the number class imbalance
    * inflates). Reporting both is the point: a classifier can hold
    * 90% micro while a rare class sits at 0 F1. All ratios are
    * micro-quantized integers from exact counts; the macro means are
    * integer means OF the quantized per-class scores, so no double is
    * ever summed across rows. Everything runs on the ≤|langs|² rollup.
    */
  def q411MacroF1(spark: SparkSession, dir: String): DataFrame = {
    val conf = q32LangId(spark, dir)
      .groupBy("actual_lang", "pred_lang").agg(count(lit(1)).as("n"))
      .transform(graft.operators.Pins.pin)
    val act = conf.groupBy(col("actual_lang").as("cls"))
      .agg(sum("n").as("n_act"))
    val pred = conf.groupBy(col("pred_lang").as("cls"))
      .agg(sum("n").as("n_pred"))
    val tp = conf.filter(col("actual_lang") === col("pred_lang"))
      .select(col("actual_lang").as("cls"), col("n").as("tp"))
    def micro(num: Column, den: Column): Column =
      when(den > 0, floor(num.cast("double") * lit(1e6) / den.cast("double")
        + lit(0.5)).cast("long")).otherwise(0L)
    val perClass = act.join(pred, Seq("cls"), "full")
      .join(tp, Seq("cls"), "left")
      .select(col("cls"), coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_act"), lit(0L)).as("n_act"))
      .withColumn("prec_micro", micro(col("tp"), col("n_pred")))
      .withColumn("rec_micro", micro(col("tp"), col("n_act")))
      .withColumn("f1_micro",
        micro(lit(2L) * col("prec_micro") * col("rec_micro"),
          (col("prec_micro") + col("rec_micro")) * lit(1000000L)))
      .transform(graft.operators.Pins.pin)
    val macroRow = perClass.filter(col("n_act") > 0)
      .agg(sum("tp").as("tp"), sum("n_pred").as("n_pred"),
        sum("n_act").as("n_act"),
        floor(sum("prec_micro") / count(lit(1)) + lit(0.5)).cast("long")
          .as("prec_micro"),
        floor(sum("rec_micro") / count(lit(1)) + lit(0.5)).cast("long")
          .as("rec_micro"),
        floor(sum("f1_micro") / count(lit(1)) + lit(0.5)).cast("long")
          .as("f1_micro"))
      .select(lit("__macro").as("cls"), col("tp"), col("n_pred"),
        col("n_act"), col("prec_micro"), col("rec_micro"), col("f1_micro"))
    val microRow = perClass
      .agg(sum("tp").as("tp"), sum("n_pred").as("n_pred"),
        sum("n_act").as("n_act"))
      .withColumn("prec_micro", micro(col("tp"), col("n_act")))
      .select(lit("__micro").as("cls"), col("tp"), col("n_pred"),
        col("n_act"), col("prec_micro"),
        col("prec_micro").as("rec_micro"), col("prec_micro").as("f1_micro"))
    perClass.unionByName(macroRow).unionByName(microRow)
  }

  lazy val q411Sql: String =
    s"""WITH p AS (${q32Sql.replace("ORDER BY doc_id", "")}),
      |conf AS (
      |  SELECT actual_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
      |  FROM p GROUP BY 1, 2),
      |act AS (SELECT actual_lang AS cls, CAST(sum(n) AS BIGINT) AS n_act
      |        FROM conf GROUP BY 1),
      |prd AS (SELECT pred_lang AS cls, CAST(sum(n) AS BIGINT) AS n_pred
      |        FROM conf GROUP BY 1),
      |tp AS (SELECT actual_lang AS cls, n AS tp FROM conf
      |       WHERE actual_lang = pred_lang),
      |pc AS (
      |  SELECT coalesce(act.cls, prd.cls) AS cls,
      |    coalesce(tp.tp, 0) AS tp,
      |    coalesce(n_pred, 0) AS n_pred, coalesce(n_act, 0) AS n_act
      |  FROM act FULL JOIN prd ON act.cls = prd.cls
      |  LEFT JOIN tp ON tp.cls = coalesce(act.cls, prd.cls)),
      |pcm AS (
      |  SELECT *,
      |    CASE WHEN n_pred > 0 THEN CAST(floor(CAST(tp AS DOUBLE) * 1e6
      |      / CAST(n_pred AS DOUBLE) + 0.5) AS BIGINT) ELSE 0 END
      |      AS prec_micro,
      |    CASE WHEN n_act > 0 THEN CAST(floor(CAST(tp AS DOUBLE) * 1e6
      |      / CAST(n_act AS DOUBLE) + 0.5) AS BIGINT) ELSE 0 END
      |      AS rec_micro
      |  FROM pc),
      |pcf AS (
      |  SELECT *,
      |    CASE WHEN prec_micro + rec_micro > 0
      |      THEN CAST(floor(CAST(2 * prec_micro * rec_micro AS DOUBLE) * 1e6
      |        / CAST((prec_micro + rec_micro) * 1000000 AS DOUBLE) + 0.5)
      |        AS BIGINT)
      |      ELSE 0 END AS f1_micro
      |  FROM pcm),
      |mac AS (
      |  SELECT '__macro' AS cls, CAST(sum(tp) AS BIGINT) AS tp,
      |    CAST(sum(n_pred) AS BIGINT) AS n_pred,
      |    CAST(sum(n_act) AS BIGINT) AS n_act,
      |    CAST(floor(CAST(sum(prec_micro) AS DOUBLE) / count(*) + 0.5)
      |      AS BIGINT) AS prec_micro,
      |    CAST(floor(CAST(sum(rec_micro) AS DOUBLE) / count(*) + 0.5)
      |      AS BIGINT) AS rec_micro,
      |    CAST(floor(CAST(sum(f1_micro) AS DOUBLE) / count(*) + 0.5)
      |      AS BIGINT) AS f1_micro
      |  FROM pcf WHERE n_act > 0),
      |mic AS (
      |  SELECT '__micro' AS cls, CAST(sum(tp) AS BIGINT) AS tp,
      |    CAST(sum(n_pred) AS BIGINT) AS n_pred,
      |    CAST(sum(n_act) AS BIGINT) AS n_act,
      |    CAST(floor(CAST(sum(tp) AS DOUBLE) * 1e6
      |      / CAST(sum(n_act) AS DOUBLE) + 0.5) AS BIGINT) AS prec_micro,
      |    CAST(floor(CAST(sum(tp) AS DOUBLE) * 1e6
      |      / CAST(sum(n_act) AS DOUBLE) + 0.5) AS BIGINT) AS rec_micro,
      |    CAST(floor(CAST(sum(tp) AS DOUBLE) * 1e6
      |      / CAST(sum(n_act) AS DOUBLE) + 0.5) AS BIGINT) AS f1_micro
      |  FROM pcf)
      |SELECT * FROM pcf UNION ALL SELECT * FROM mac UNION ALL
      |SELECT * FROM mic ORDER BY cls""".stripMargin

  val q32Sql: String = {
    def hits(l: String, words: Seq[String]) =
      s"len(list_filter(toks, t -> t IN (${inList(words)}))) AS s_$l"
    s"""SELECT doc_id, actual_lang, s_en, s_fr, s_de, s_es, has_cjk,
      | CASE WHEN has_cjk THEN 'zh'
      |      WHEN s_en >= greatest(s_fr, s_de, s_es) AND s_en > 0 THEN 'en'
      |      WHEN s_fr >= greatest(s_de, s_es) AND s_fr > 0 THEN 'fr'
      |      WHEN s_de >= s_es AND s_de > 0 THEN 'de'
      |      WHEN s_es > 0 THEN 'es'
      |      ELSE 'unknown' END AS pred_lang
      |FROM (
      |  SELECT doc_id, lang AS actual_lang,
      |    ${hits("en", STOP_EN)}, ${hits("fr", STOP_FR)},
      |    ${hits("de", STOP_DE)}, ${hits("es", STOP_ES)},
      |    regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk
      |  FROM (
      |    SELECT doc_id, lang, text,
      |      list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != '') AS toks
      |    FROM documents))
      |ORDER BY doc_id""".stripMargin
  }

  /** q33: text quality scoring — length, token stats, punctuation and
    * stopword ratios, composite score. Integer-ratio doubles are exact
    * across engines (no rounding needed).
    */
  def q33TextQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val nChar = length(col("text"))
    val nPunct = nChar - length(regexp_replace(col("text"), "[^a-zA-Z0-9\\s]", ""))
    val nStop = stopwordHits(toks, STOP_EN)
    Tables(spark, dir).documents
      .select(col("doc_id"), nChar.as("n_char"), nTok.as("n_tok"),
        nPunct.as("n_punct"), nStop.as("n_stop"))
      .withColumn("mean_tok_len",
        (col("n_char") - (col("n_tok") - 1)).cast("double") / col("n_tok"))
      .withColumn("punct_ratio", col("n_punct").cast("double") / col("n_char"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tok"))
      .withColumn("quality_ok",
        col("n_tok") >= 10 && col("punct_ratio") < 0.2 && col("stop_ratio") < 0.9)
  }

  val q33Sql: String =
    s"""SELECT doc_id, n_char, n_tok, n_punct, n_stop,
      | CAST(n_char - (n_tok - 1) AS DOUBLE) / n_tok AS mean_tok_len,
      | CAST(n_punct AS DOUBLE) / n_char AS punct_ratio,
      | CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
      | (n_tok >= 10 AND CAST(n_punct AS DOUBLE)/n_char < 0.2
      |  AND CAST(n_stop AS DOUBLE)/n_tok < 0.9) AS quality_ok
      |FROM (
      |  SELECT doc_id, length(text) AS n_char,
      |    len(list_filter(toks, t -> t != '')) AS n_tok,
      |    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS n_punct,
      |    len(list_filter(toks, t -> t IN (${inList(STOP_EN)}))) AS n_stop
      |  FROM (
      |    SELECT *, list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != '') AS toks
      |    FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** q34: token counting — whitespace tokens and a BPE-ish regex
    * segmentation (letter runs / digit runs / single other chars), the
    * standard pre-tokenizer shape.
    */
  def q34TokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        size(tokens(col("text"))).as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)"))
          .as("n_bpe_tokens"))

  val q34Sql: String =
    """SELECT doc_id,
      | len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')) AS n_ws_tokens,
      | len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q397: HEAPS'-LAW FIT — vocabulary growth V ≈ K·nᵝ estimated by
    * log-log OLS over the per-source (tokens, distinct tokens) points
    * (the q123 Zipf idiom, with sources as the sample instead of
    * ranks). β is the corpus-linguistics dial a data mixer reads:
    * natural text sits near β≈0.5-0.6, templated/duplicated corpora
    * collapse toward 0, and token-soup noise runs toward 1. Per-source
    * vocab is one explode + distinct rollup bounded by
    * |sources × vocab|; the ln points are micro-quantized per source
    * before the ≤|sources| OLS moment sums.
    */
  def q397HeapsFit(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
    val bySrc = toks.groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct("tok").as("n_vocab"))
    val pts = bySrc.select(
      floor(log(col("n_tokens").cast("double")) * lit(1e6) + lit(0.5))
        .cast("long").as("x"),
      floor(log(col("n_vocab").cast("double")) * lit(1e6) + lit(0.5))
        .cast("long").as("y"))
    val m = pts.agg(count(lit(1)).as("k"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    def d(c: String) = col(c).cast("double")
    val beta = (d("k") * d("sxy") - d("sx") * d("sy")) /
      (d("k") * d("sxx") - d("sx") * d("sx"))
    val lnK = (d("sy") - beta * d("sx")) / d("k") / lit(1e6)
    m.select(col("k").as("n_sources"),
      floor(beta * lit(1e6) + lit(0.5)).cast("long").as("beta_micro"),
      floor(exp(lnK) * lit(1e6) + lit(0.5)).cast("long").as("k_micro"))
  }

  val q397Sql: String =
    """WITH toks AS (
      |  SELECT source, unnest(list_filter(
      |    regexp_split_to_array(lower(text), '\s+'), t -> t != ''))
      |    AS tok
      |  FROM documents),
      |bysrc AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab
      |  FROM toks GROUP BY 1),
      |pts AS (
      |  SELECT
      |    CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
      |      AS x,
      |    CAST(floor(ln(CAST(n_vocab AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
      |      AS y
      |  FROM bysrc),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM pts)
      |SELECT k AS n_sources,
      |  CAST(floor((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1e6 + 0.5)
      |    AS BIGINT) AS beta_micro,
      |  CAST(floor(exp((CAST(sy AS DOUBLE)
      |      - (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |        (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |        * CAST(sx AS DOUBLE)) / CAST(k AS DOUBLE) / 1e6) * 1e6
      |    + 0.5) AS BIGINT) AS k_micro
      |FROM m""".stripMargin

  /** q405 prior mass and report depth for the keyness table. */
  val KEY_ALPHA0 = 100.0
  val KEY_TOP = 3

  /** q405: LOG-ODDS KEYNESS (Monroe et al.'s "Fightin' Words") — the
    * tokens most DISTINCTIVE of each source vs the rest of the
    * corpus, by the z-scored log-odds difference with an informative
    * Dirichlet prior (α_w ∝ the global token rate, total mass
    * [[KEY_ALPHA0]]). This is the corpus-comparison tool that
    * replaces raw TF-IDF ranking when sources share a vocabulary:
    * the prior shrinks rare-token noise, the z-score makes scores
    * comparable across frequency bands. All inputs are exact BIGINT
    * counts on the ≤|sources×vocab| rollup; δ, σ² and z are per-ROW
    * double expressions (no cross-row float sum exists), and the
    * report is the top-[[KEY_TOP]] per source via a window over the
    * bounded rollup.
    */
  def q405LogOddsKeyness(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
    val sw = toks.groupBy("source", "tok").agg(count(lit(1)).as("y_sw"))
    val w = sw.groupBy("tok").agg(sum("y_sw").as("y_w"))
    val s = sw.groupBy("source").agg(sum("y_sw").as("n_s"))
    val tot = w.agg(sum("y_w").as("n"))
    def d(c: Column) = c.cast("double")
    val j = sw.join(broadcast(w), "tok").join(broadcast(s), "source")
      .crossJoin(broadcast(tot))
    val alphaW = lit(KEY_ALPHA0) * d(col("y_w")) / d(col("n"))
    val dlt =
      log((d(col("y_sw")) + alphaW) /
        (d(col("n_s")) + lit(KEY_ALPHA0) - d(col("y_sw")) - alphaW)) -
        log((d(col("y_w")) - d(col("y_sw")) + alphaW) /
          (d(col("n")) - d(col("n_s")) + lit(KEY_ALPHA0) -
            (d(col("y_w")) - d(col("y_sw"))) - alphaW))
    val sig2 = lit(1.0d) / (d(col("y_sw")) + alphaW) +
      lit(1.0d) / (d(col("y_w")) - d(col("y_sw")) + alphaW)
    val scored = j.select(col("source"), col("tok"), col("y_sw"),
      floor(dlt / sqrt(sig2) * lit(1e6) + lit(0.5)).cast("long")
        .as("z_micro"))
    val wRank = Window.partitionBy("source")
      .orderBy(col("z_micro").desc, col("tok"))
    scored.withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= KEY_TOP)
  }

  val q405Sql: String =
    s"""WITH toks AS (
      |  SELECT source, unnest(list_filter(
      |    regexp_split_to_array(lower(text), '\\s+'), t -> t != ''))
      |    AS tok
      |  FROM documents),
      |sw AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS y_sw
      |       FROM toks GROUP BY 1, 2),
      |w AS (SELECT tok, CAST(sum(y_sw) AS BIGINT) AS y_w
      |      FROM sw GROUP BY 1),
      |s AS (SELECT source, CAST(sum(y_sw) AS BIGINT) AS n_s
      |      FROM sw GROUP BY 1),
      |tot AS (SELECT CAST(sum(y_w) AS BIGINT) AS n FROM w),
      |scored AS (
      |  SELECT sw.source, sw.tok, sw.y_sw,
      |    CAST(floor((
      |      ln((CAST(sw.y_sw AS DOUBLE)
      |          + $KEY_ALPHA0 * CAST(w.y_w AS DOUBLE) /
      |            CAST(tot.n AS DOUBLE)) /
      |        (CAST(s.n_s AS DOUBLE) + $KEY_ALPHA0
      |          - CAST(sw.y_sw AS DOUBLE)
      |          - $KEY_ALPHA0 * CAST(w.y_w AS DOUBLE) /
      |            CAST(tot.n AS DOUBLE))) -
      |      ln((CAST(w.y_w AS DOUBLE) - CAST(sw.y_sw AS DOUBLE)
      |          + $KEY_ALPHA0 * CAST(w.y_w AS DOUBLE) /
      |            CAST(tot.n AS DOUBLE)) /
      |        (CAST(tot.n AS DOUBLE) - CAST(s.n_s AS DOUBLE)
      |          + $KEY_ALPHA0
      |          - (CAST(w.y_w AS DOUBLE) - CAST(sw.y_sw AS DOUBLE))
      |          - $KEY_ALPHA0 * CAST(w.y_w AS DOUBLE) /
      |            CAST(tot.n AS DOUBLE)))) /
      |      sqrt(1.0 / (CAST(sw.y_sw AS DOUBLE)
      |          + $KEY_ALPHA0 * CAST(w.y_w AS DOUBLE) /
      |            CAST(tot.n AS DOUBLE))
      |        + 1.0 / (CAST(w.y_w AS DOUBLE) - CAST(sw.y_sw AS DOUBLE)
      |          + $KEY_ALPHA0 * CAST(w.y_w AS DOUBLE) /
      |            CAST(tot.n AS DOUBLE))) * 1e6 + 0.5) AS BIGINT)
      |      AS z_micro
      |  FROM sw JOIN w ON w.tok = sw.tok
      |    JOIN s ON s.source = sw.source, tot),
      |ranked AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY source
      |    ORDER BY z_micro DESC, tok) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT source, tok, y_sw, z_micro, rank
      |FROM ranked WHERE rank <= $KEY_TOP
      |ORDER BY source, rank""".stripMargin

  /** q382 spectrum cap: word lengths above this collapse into one
    * overflow bin, so the rollup is bounded by |sources| × (cap+1)
    * regardless of corpus pathology (a 10 MB unbroken line must not
    * mint 10M distinct bins). */
  val WORDLEN_CAP = 20L

  /** q382: WORD-LENGTH SPECTRUM per source — the distribution of
    * whitespace-token lengths, the cheap diagnostic that separates
    * natural prose (unimodal around 4-6) from code, tables, URLs and
    * tokenizer-hostile junk (heavy ≥cap tail), and the companion the
    * q302 fertility report reads against. One explode of the token
    * stream collapses map-side to ≤|sources|×(cap+1) cells; per-bin
    * share in ppm is exact integer-vs-integer division.
    */
  def q382WordlenSpectrum(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .select(col("source"),
        least(length(col("tok")).cast("long"), lit(WORDLEN_CAP)).as("len"))
    val cells = toks.groupBy("source", "len").agg(count(lit(1)).as("n"))
    val totals = cells.groupBy("source").agg(sum("n").as("n_tokens"))
    cells.join(broadcast(totals), "source")
      .select(col("source"), col("len"), col("n"),
        expr("n * 1000000 div n_tokens").as("share_ppm"))
  }

  val q382Sql: String =
    s"""WITH toks AS (
      |  SELECT source,
      |    least(CAST(length(t) AS BIGINT), $WORDLEN_CAP) AS len
      |  FROM (SELECT source, unnest(list_filter(
      |          regexp_split_to_array(lower(text), '\\s+'),
      |          t -> t != '')) AS t
      |        FROM documents)),
      |cells AS (
      |  SELECT source, len, CAST(count(*) AS BIGINT) AS n
      |  FROM toks GROUP BY 1, 2),
      |tot AS (
      |  SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens
      |  FROM cells GROUP BY 1)
      |SELECT c.source, c.len, c.n,
      |  CAST(c.n * 1000000 // t.n_tokens AS BIGINT) AS share_ppm
      |FROM cells c JOIN tot t ON t.source = c.source
      |ORDER BY c.source, c.len""".stripMargin

  /** q35: document fingerprint — polynomial rolling hash over the full
    * text (mod 1e9+7) plus the md5 anchor; the rolling form is what a
    * streaming chunker would maintain incrementally.
    */
  def q35DocFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        graft.plans.PolyHash(col("text")).as("poly_fp"),
        md5(col("text")).as("content_md5"))

  val q35Sql: String =
    """SELECT doc_id,
      | list_reduce(
      |   list_prepend(CAST(0 AS BIGINT),
      |     list_transform(generate_series(1, length(text)),
      |                    i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
      |   (acc, c) -> (acc * 31 + c) % 1000000007) AS poly_fp,
      | md5(text) AS content_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q36: multimodal column plumbing — text bytes as the opaque binary
    * column with typed metadata; the DECODE step is stubbed with a
    * deterministic fake (SURVEY §6: no media libs in-container), but
    * the schema/partition/meta shape is the real one. See
    * graft.operators.MultimodalStub for the mapPartitions decode path.
    */
  def q36MultimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val bytes = col("text").cast("binary")
    val nBytes = octet_length(col("text"))
    Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        md5(bytes).as("content_md5"),
        nBytes.as("n_bytes"),
        (nBytes % 3).cast("int").as("media_kind"),
        (nBytes % 640).cast("int").as("fake_width"),
        (nBytes % 480).cast("int").as("fake_height"))
  }

  val q36Sql: String =
    """SELECT doc_id, source, md5(text) AS content_md5,
      | octet_length(encode(text)) AS n_bytes,
      | CAST(octet_length(encode(text)) % 3 AS INT) AS media_kind,
      | CAST(octet_length(encode(text)) % 640 AS INT) AS fake_width,
      | CAST(octet_length(encode(text)) % 480 AS INT) AS fake_height
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q42 vocabulary size; q43 chunker geometry (chars). */
  val VOCAB_TOP_K = 100
  val CHUNK_SIZE = 200
  val CHUNK_STRIDE = 150

  /** q42: corpus vocabulary top-k — explode tokens, global counts,
    * k heaviest hitters with deterministic (count desc, token asc)
    * ranking. The token count groupBy gets map-side combine, so the
    * shuffle carries |vocab| partial counts per partition, not corpus
    * tokens; the top-k cut is orderBy+limit (TakeOrderedAndProject: a
    * per-partition bounded heap + a K-row driver merge, the q64/q287
    * idiom), so no stage ever ranks the full |vocab| rollup through
    * one task — at 100 TB a corpus vocabulary is 10^8+ rows and a
    * single-partition rank window over it would be the job's
    * bottleneck. The rank window that remains runs over the K-row
    * head only.
    */
  def q42VocabTopk(spark: SparkSession, dir: String): DataFrame = {
    val counted = Tables(spark, dir).documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val top = counted
      .orderBy(col("n").desc, col("token").asc).limit(VOCAB_TOP_K)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("token").asc)))
      .select("rank", "token", "n")
  }

  val q42Sql: String =
    s"""SELECT rank, token, n FROM (
      |  SELECT token, count(*) AS n,
      |    row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rank
      |  FROM (
      |    SELECT unnest(list_filter(
      |      regexp_split_to_array(lower(text), '\\s+'), t -> t != '')) AS token
      |    FROM documents)
      |  GROUP BY token)
      |WHERE rank <= $VOCAB_TOP_K
      |ORDER BY rank""".stripMargin

  /** q43: document chunking — fixed-size sliding chunks (CHUNK_SIZE
    * chars, CHUNK_STRIDE step, so consecutive chunks overlap by
    * size-stride) with a content hash per chunk, the standard
    * pre-training tokenize-and-pack precursor. Pure per-row generator
    * (sequence + posexplode) inside the scan stage: no shuffle at all
    * until a consumer aggregates.
    */
  def q43DocChunks(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), col("text"),
        explode(expr(
          s"sequence(0, cast(greatest(ceil(length(text) / $CHUNK_STRIDE.0), 1) as int) - 1)"))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        substring(col("text"), col("chunk_idx") * CHUNK_STRIDE + 1, lit(CHUNK_SIZE)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        length(col("chunk")).as("chunk_len"),
        md5(col("chunk")).as("chunk_md5"))

  val q43Sql: String =
    s"""SELECT doc_id, i AS chunk_idx,
      | length(substr(text, i * $CHUNK_STRIDE + 1, $CHUNK_SIZE)) AS chunk_len,
      | md5(substr(text, i * $CHUNK_STRIDE + 1, $CHUNK_SIZE)) AS chunk_md5
      |FROM (
      |  SELECT doc_id, text,
      |    unnest(generate_series(0,
      |      CAST(greatest(ceil(length(text) / $CHUNK_STRIDE.0), 1) AS INT) - 1)) AS i
      |  FROM documents)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** q55 keywords kept per document. */
  val KEYWORDS_K = 3

  /** q54: text normalization — Unicode NFC (native codegen expression
    * [[graft.plans.NormalizeNfc]], DuckDB parity via `nfc_normalize`),
    * control characters to spaces, whitespace runs collapsed, ends
    * trimmed. The canonical first cleaning pass before any hashing or
    * dedup (byte-different but canonically-equal strings must collide).
    * Zero shuffle: pure scan-stage codegen at 100 TB. Patterns stay in
    * the Java-regex/RE2 common subset (explicit byte ranges, `\s`).
    */
  def q54TextNormalize(spark: SparkSession, dir: String): DataFrame = {
    val norm = normalizeText(col("text"))
    Tables(spark, dir).documents
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_raw"),
        length(norm).cast("long").as("n_chars_norm"),
        md5(norm).as("norm_md5"),
        (norm =!= col("text")).as("changed"))
  }

  val q54Sql: String =
    """WITH n AS (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
      |      '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars_raw,
      |  CAST(length(norm) AS BIGINT) AS n_chars_norm,
      |  md5(norm) AS norm_md5,
      |  norm != text AS changed
      |FROM n ORDER BY doc_id""".stripMargin

  /** q55: per-document keyword extraction — the most distinctive terms
    * per doc ranked by (term frequency DESC, document frequency ASC,
    * term ASC). The integer-only rank avoids cross-engine libm (no
    * log-idf double in the gated output; a caller wanting tf-idf scores
    * computes `tf * ln(N/df)` from these exact integers). Shape at
    * 100 TB: token explode feeds a map-side-combined (doc, term) count;
    * the document-frequency table derives from those counts (one more
    * combine on term) and joins back on term — AQE handles the natural
    * vocabulary skew; the final top-k is a per-doc window, partitioned
    * on doc_id, never a global sort.
    */
  def q55DocKeywords(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables(spark, dir).documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KEYWORDS_K)
      .select("doc_id", "rank", "term", "tf", "df")
  }

  val q55Sql: String =
    s"""WITH e AS (
      |  SELECT doc_id, unnest(list_filter(
      |    regexp_split_to_array(lower(text), '\\s+'), t -> t != '')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM e GROUP BY doc_id, term),
      |df AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df
      |  FROM tf GROUP BY term)
      |SELECT doc_id, rank, term, tf, df FROM (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
      |  FROM tf JOIN df USING (term))
      |WHERE rank <= $KEYWORDS_K
      |ORDER BY doc_id, rank""".stripMargin

  /** q61 vocabulary size: small enough that the synthetic corpus has
    * genuine OOV tokens (its vocab is ~31 words).
    */
  val ENCODE_VOCAB_K = 20

  /** q61: vocabulary encoding — the tokenize-to-ids step between
    * corpus prep and packing: tokens map to ids 0..K-1 by frequency
    * rank (count desc, token asc — the q42 order), out-of-vocabulary
    * to -1. The trained vocab is a bounded top-K table collected once
    * to the driver (O(K), like the LSH query set) and shipped as a
    * broadcast map LITERAL, so encoding itself is a zero-shuffle
    * scan-stage transform — the corpus never shuffles to be encoded.
    * Gated on (n_tok, n_oov, md5 of the id sequence), which pins the
    * full id array without dumping it.
    */
  def q61VocabEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val vocab: Map[String, Int] = docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(ENCODE_VOCAB_K)
      .collect().zipWithIndex
      .map { case (r, i) => r.getString(0) -> i }.toMap
    val vmap = typedLit(vocab)
    val ids = transform(tokens(col("text")),
      t => coalesce(element_at(vmap, t), lit(-1)))
    docs.select(col("doc_id"), ids.as("_ids"))
      .select(col("doc_id"),
        size(col("_ids")).cast("long").as("n_tok"),
        size(filter(col("_ids"), i => i === -1)).cast("long").as("n_oov"),
        md5(concat_ws(",", transform(col("_ids"), _.cast("string")))).as("ids_md5"))
  }

  val q61Sql: String =
    s"""WITH cnt AS (
      |  SELECT token, count(*) AS n FROM (
      |    SELECT unnest(list_filter(
      |      regexp_split_to_array(lower(text), '\\s+'), t -> t != '')) AS token
      |    FROM documents)
      |  GROUP BY token),
      |vocab AS (
      |  SELECT list(token ORDER BY n DESC, token ASC) AS vl FROM (
      |    SELECT * FROM cnt ORDER BY n DESC, token LIMIT $ENCODE_VOCAB_K)),
      |enc AS (
      |  SELECT d.doc_id,
      |    list_transform(
      |      list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t != ''),
      |      t -> coalesce(list_position(v.vl, t), 0) - 1) AS ids
      |  FROM documents d CROSS JOIN vocab v)
      |SELECT doc_id,
      |  CAST(len(ids) AS BIGINT) AS n_tok,
      |  CAST(len(list_filter(ids, i -> i = -1)) AS BIGINT) AS n_oov,
      |  md5(coalesce(list_aggregate(
      |    list_transform(ids, i -> CAST(i AS VARCHAR)), 'string_agg', ','), ''))
      |    AS ids_md5
      |FROM enc ORDER BY doc_id""".stripMargin

  /** q60: the q42 statistic through the SKETCH path — per-partition
    * Misra-Gries summaries, merged candidate cut, exact recount (see
    * [[graft.operators.HeavyHitters]]). The recount makes the output
    * exact, so the oracle is the plain SQL top-k: the gate verifies
    * that the bounded-memory path loses nothing on a real vocabulary.
    */
  def q60SketchTopk(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(explode(tokens(col("text"))).as("token"))
    graft.operators.HeavyHitters.topK(toks, "token", VOCAB_TOP_K)
      .withColumnRenamed("item", "token")
  }

  val q60Sql: String =
    s"""SELECT token, count(*) AS n
      |FROM (
      |  SELECT unnest(list_filter(
      |    regexp_split_to_array(lower(text), '\\s+'), t -> t != '')) AS token
      |  FROM documents)
      |GROUP BY token
      |ORDER BY n DESC, token LIMIT $VOCAB_TOP_K""".stripMargin

  /** q94: REAL MEDIA DECODE — a deterministic grayscale image per
    * document (dims and pixels derived from doc_id by the
    * [[graft.operators.ImageCodec.synthPixel]] formula) is REALLY
    * encoded to PNG bytes with the JDK's `javax.imageio`, carried as
    * the opaque binary column, then REALLY decoded back by
    * [[graft.operators.ImageCodec.decodeImages]] (mapPartitions,
    * codec warm once per partition) into integer pixel statistics.
    * The oracle recomputes the stats from the pixel formula WITHOUT
    * touching PNG, so the gate proves the whole encode -> bytes ->
    * decode -> stats path is pixel-exact — a real codec, not the
    * round-3 hash-the-plumbing stub (MultimodalStub remains only as
    * the documented non-PNG fallback).
    */
  def q94MediaDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.fanOut(Tables(spark, dir).documents
        .select(col("doc_id")), col("doc_id")).as[Long]
      // ^ fanOut: synth-encode + codec decode ran as a 1-task scan
      //   stage (~1.2 s each at sf0.1) — Tables.fanOut, guide §2.5
      .mapPartitions { it =>
        // ingest simulation: blobs arrive as already-encoded PNGs
        it.map { id =>
          val w = (id % 13 + 4).toInt
          val h = (id % 7 + 3).toInt
          graft.operators.MediaRecord(
            id, 1, graft.operators.ImageCodec.synthGrayPng(id, w, h))
        }
      }
    graft.operators.ImageCodec.decodeImages(media)
      .select("doc_id", "width", "height", "n_pixels", "px_sum",
        "px_min", "px_max")
  }

  val q94Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(doc_id % 13 + 4 AS INT) AS w,
      |    CAST(doc_id % 7 + 3 AS INT) AS h
      |  FROM documents),
      |px AS (
      |  SELECT d.doc_id, d.w, d.h,
      |    ((d.doc_id * 31 + x.i * 7 + y.i * 13) % 256 + 256) % 256 AS p
      |  FROM d,
      |    unnest(generate_series(0, d.w - 1)) AS x(i),
      |    unnest(generate_series(0, d.h - 1)) AS y(i))
      |SELECT doc_id, max(w) AS width, max(h) AS height,
      |  CAST(count(*) AS BIGINT) AS n_pixels,
      |  CAST(sum(p) AS BIGINT) AS px_sum,
      |  CAST(min(p) AS INT) AS px_min,
      |  CAST(max(p) AS INT) AS px_max
      |FROM px GROUP BY 1 ORDER BY 1""".stripMargin

  /** q410: PNG CHUNK WALK — container metadata WITHOUT pixel decode:
    * the inventory pass a 100 TB image corpus runs before deciding
    * what to decode at all. Dimensions/format come from IHDR, payload
    * volume from IDAT lengths, integrity from per-chunk CRC32, and
    * well-formedness from signature + IHDR-first/IEND-last — all from
    * a byte walk that reads container framing, never inflates a
    * scanline (q94 is the decode; this is the audit that scales to
    * blobs decode can't afford). Blobs are the q94 ingest simulation
    * (real javax.imageio PNGs of the deterministic formula); the gate
    * pins the IHDR fields against the synthesis geometry and both
    * integrity flags TRUE — a mis-parsed length field or CRC slip
    * flips the gate. n_chunks/idat_bytes are encoder-dependent, so
    * the spec (not the SQL oracle) pins their invariants.
    */
  def q410PngChunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.fanOut(Tables(spark, dir).documents
        .select(col("doc_id")), col("doc_id")).as[Long]
      // ^ fanOut: synth-encode + codec decode ran as a 1-task scan
      //   stage (~1.2 s each at sf0.1) — Tables.fanOut, guide §2.5
      .mapPartitions { it =>
        it.map { id =>
          val w = (id % 13 + 4).toInt
          val h = (id % 7 + 3).toInt
          graft.operators.ImageCodec.pngChunkWalk(
            id, graft.operators.ImageCodec.synthGrayPng(id, w, h))
        }
      }
      .select("doc_id", "width", "height", "bit_depth", "color_type",
        "crc_ok", "well_formed")
  }

  val q410Sql: String =
    """SELECT doc_id,
      |  CAST(doc_id % 13 + 4 AS INT) AS width,
      |  CAST(doc_id % 7 + 3 AS INT) AS height,
      |  CAST(8 AS INT) AS bit_depth, CAST(0 AS INT) AS color_type,
      |  TRUE AS crc_ok, TRUE AS well_formed
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q290: REAL IMAGE RESIZE — the thumbnail/preprocessing stage of
    * the multimodal path: each PNG blob is decoded, nearest-neighbor
    * 2x-downsampled, RE-ENCODED to a new PNG, and the re-encoded
    * artifact decoded for integer pixel stats (the full decode ->
    * transform -> encode -> decode cycle, q94's decode path plus a
    * real transform + write leg). Same mapPartitions streaming shape;
    * 1 row in -> 1 row out. The DuckDB oracle replays the synthesis
    * formula at EVEN coordinates without touching PNG — any resample
    * misalignment, re-encode loss, or stride bug flips the gate.
    */
  def q290ImageResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.fanOut(Tables(spark, dir).documents
        .select(col("doc_id")), col("doc_id")).as[Long]
      // ^ fanOut: synth-encode + codec decode ran as a 1-task scan
      //   stage (~1.2 s each at sf0.1) — Tables.fanOut, guide §2.5
      .mapPartitions { it =>
        it.map { id =>
          val w = (id % 13 + 4).toInt
          val h = (id % 7 + 3).toInt
          graft.operators.MediaRecord(
            id, 1, graft.operators.ImageCodec.synthGrayPng(id, w, h))
        }
      }
    graft.operators.ImageCodec.resizeImages(media)
      .select("doc_id", "width", "height", "n_pixels", "px_sum",
        "px_min", "px_max")
  }

  val q290Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST((doc_id % 13 + 4 + 1) // 2 AS INT) AS w2,
      |    CAST((doc_id % 7 + 3 + 1) // 2 AS INT) AS h2
      |  FROM documents),
      |px AS (
      |  SELECT d.doc_id, d.w2, d.h2,
      |    ((d.doc_id * 31 + (2 * x.i) * 7 + (2 * y.i) * 13) % 256 + 256) % 256 AS p
      |  FROM d,
      |    unnest(generate_series(0, d.w2 - 1)) AS x(i),
      |    unnest(generate_series(0, d.h2 - 1)) AS y(i))
      |SELECT doc_id, max(w2) AS width, max(h2) AS height,
      |  CAST(count(*) AS BIGINT) AS n_pixels,
      |  CAST(sum(p) AS BIGINT) AS px_sum,
      |  CAST(min(p) AS INT) AS px_min,
      |  CAST(max(p) AS INT) AS px_max
      |FROM px GROUP BY 1 ORDER BY 1""".stripMargin

  /** q297 mean-abs-error bound, milli grey levels (1/1000 of one 8-bit
    * step). The JDK encoder at default quality reproduces the smooth
    * synthesis ramp within ~1 grey level of MAE; 8.000 leaves margin
    * for another compliant JPEG implementation without being vacuous
    * (a formula or plumbing bug shifts MAE by tens of levels).
    */
  val JPEG_MAE_TOL_MILLI = 8000L

  /** q297: LOSSY MEDIA DECODE (JPEG) — closes the "PNG only" asterisk
    * on the multimodal family: a deterministic smooth grayscale image
    * per document is REALLY encoded to JPEG by the JDK's built-in
    * lossy codec, carried as the opaque binary column, then REALLY
    * decoded by [[graft.operators.ImageCodec.jpegAudit]]. Because
    * lossy pixel values are implementation-defined, the gate takes
    * the standard lossy-codec shape: exact DIMENSIONS, a pixel-exact
    * decode→PNG-re-encode→decode roundtrip (PNG is lossless, so this
    * isolates plumbing bugs from JPEG loss), and a mean-abs-error
    * bound against the synthesis formula — all integer/boolean, so
    * the oracle replays them from the dimension formulas without
    * touching JPEG.
    */
  def q297JpegDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.fanOut(Tables(spark, dir).documents
        .select(col("doc_id")), col("doc_id")).as[Long]
      // ^ fanOut: synth-encode + codec decode ran as a 1-task scan
      //   stage (~1.2 s each at sf0.1) — Tables.fanOut, guide §2.5
      .mapPartitions { it =>
        it.map { id =>
          val w = (id % 9 + 8).toInt
          val h = (id % 5 + 8).toInt
          graft.operators.MediaRecord(
            id, 1, graft.operators.ImageCodec.synthSmoothGrayJpeg(id, w, h))
        }
      }
    graft.operators.ImageCodec.jpegAudit(media, JPEG_MAE_TOL_MILLI)
      .select("doc_id", "width", "height", "is_jpeg", "png_roundtrip_exact",
        "mae_le_tol")
  }

  val q297Sql: String =
    """SELECT doc_id,
      |  CAST(doc_id % 9 + 8 AS INT) AS width,
      |  CAST(doc_id % 5 + 8 AS INT) AS height,
      |  TRUE AS is_jpeg, TRUE AS png_roundtrip_exact, TRUE AS mae_le_tol
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q111 frame-sampling stride. */
  val FRAME_STRIDE = 3

  /** q111: REAL MEDIA FRAME SAMPLING — a multi-frame container per
    * document (frame-count + length-prefixed REAL PNG frames, each
    * frame's pixels seeded by `doc_id * 31 + frame`), pushed through
    * [[graft.operators.ImageCodec.sampleFrames]]: every FRAME_STRIDE-th
    * frame is REALLY decoded (javax.imageio) and emitted with its
    * integer pixel sum — the bounded 1->N expansion a video pipeline
    * runs between container demux and per-frame feature extraction.
    * The oracle rebuilds each sampled frame's pixel sum from the
    * synthPixel formula, so the demux + per-frame decode is gated
    * pixel-exact.
    */
  def q111MediaFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.fanOut(Tables(spark, dir).documents
        .select(col("doc_id")), col("doc_id")).as[Long]
      // ^ fanOut: synth-encode + codec decode ran as a 1-task scan
      //   stage (~1.2 s each at sf0.1) — Tables.fanOut, guide §2.5
      .mapPartitions { it =>
        it.map { id =>
          val n = (id % 5 + 1).toInt
          val w = (id % 9 + 3).toInt
          val h = (id % 5 + 2).toInt
          val frames = (0 until n).map(f =>
            graft.operators.ImageCodec.synthGrayPng(id * 31 + f, w, h))
          graft.operators.MediaRecord(
            id, 2, graft.operators.ImageCodec.packFrames(frames))
        }
      }
    graft.operators.ImageCodec.sampleFrames(media, FRAME_STRIDE)
      .select("doc_id", "n_frames", "frame_idx", "width", "height",
        "px_sum")
  }

  val q111Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id,
      |    CAST(doc_id % 5 + 1 AS INT) AS n_frames,
      |    CAST(doc_id % 9 + 3 AS INT) AS w,
      |    CAST(doc_id % 5 + 2 AS INT) AS h
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, n_frames, w, h, CAST(fi.i AS INT) AS frame_idx,
      |    doc_id * 31 + fi.i AS seed
      |  FROM d,
      |    unnest(generate_series(0, n_frames - 1, $FRAME_STRIDE)) AS fi(i)),
      |px AS (
      |  SELECT doc_id, n_frames, frame_idx, w, h,
      |    ((seed * 31 + x.i * 7 + y.i * 13) % 256 + 256) % 256 AS p
      |  FROM f,
      |    unnest(generate_series(0, w - 1)) AS x(i),
      |    unnest(generate_series(0, h - 1)) AS y(i))
      |SELECT doc_id, n_frames, frame_idx, max(w) AS width,
      |  max(h) AS height, CAST(sum(p) AS BIGINT) AS px_sum
      |FROM px GROUP BY 1, 2, 3 ORDER BY doc_id, frame_idx""".stripMargin

  /** q129 hashed feature-space width. */
  val FEATURE_HASH_B = 64

  /** q129: FEATURE HASHING (the hashing trick) — signed token-count
    * features in a fixed FEATURE_HASH_B-bucket space: bucket =
    * md5-hash(token) mod B, sign from an independent hash bit, value =
    * signed count. The point at 100 TB is what it REMOVES: unlike
    * q61's vocabulary encoding there is NO vocabulary build pass, no
    * broadcast dictionary, no OOV — the feature space is fixed before
    * any data is seen, so the whole transform is the token explode
    * plus one (doc, bucket) partial-aggregated shuffle. Output is the
    * sparse long format (only non-zero buckets).
    */
  def q129FeatureHash(spark: SparkSession, dir: String): DataFrame = {
    val h = md5Hash32(concat(lit("fh:"), col("tok")))
    Tables(spark, dir).documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), (h % FEATURE_HASH_B).as("bucket"),
        when(shiftright(h, 8).bitwiseAND(lit(1L)) === 0, lit(1L))
          .otherwise(lit(-1L)).as("sign"))
      .groupBy("doc_id", "bucket")
      .agg(sum(col("sign")).as("val"), count(lit(1)).as("n_tokens"))
      .filter(col("val") =!= 0)
  }

  val q129Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |           x -> x != '')) AS tok
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    CAST('0x' || substr(md5('fh:' || tok), 1, 8) AS BIGINT) AS hv
      |  FROM t),
      |s AS (
      |  SELECT doc_id, hv % $FEATURE_HASH_B AS bucket,
      |    CASE WHEN (hv >> 8) & 1 = 0 THEN 1 ELSE -1 END AS sign
      |  FROM h)
      |SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS val,
      |  CAST(count(*) AS BIGINT) AS n_tokens
      |FROM s GROUP BY doc_id, bucket
      |HAVING sum(sign) <> 0
      |ORDER BY doc_id, bucket""".stripMargin

  /** q149 shingle geometry: char 16-grams sampled every 8 chars — the
    * stride bounds the per-doc shingle count at len/8.
    */
  val NOVEL_K = 16
  val NOVEL_STRIDE = 8

  /** q149: N-GRAM NOVELTY / MEMORIZATION-RISK SCORE — per document,
    * the fraction of its sampled char-16-gram shingles that occur in
    * NO other document. Low novelty flags near-boilerplate (already
    * caught by the dedup family); HIGH novelty identifies the unique
    * long-tail content a dedup-heavy pipeline should protect — and the
    * same df==1 statistic is the memorization-audit primitive ("is
    * this string unique to one training document"). Distinct shingles
    * per doc come from the scan stage; the document frequency is one
    * (hash)-keyed aggregate whose output is vocabulary-sized; the
    * per-doc fold is one (doc_id) aggregate. Two bounded shuffles, no
    * joins back to text. Hashes are md5 substrings (engine-portable).
    */
  def q149NgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: stride-shingle md5 ran on the 1-task docs scan —
    // Tables.fanOut, guide §2.5
    val shingled = Tables.fanOut(Tables(spark, dir).documents
        .select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        explode(expr(
          s"sequence(0, cast(greatest(ceil((length(text) - $NOVEL_K + 1) / $NOVEL_STRIDE.0), 1) as int) - 1)"))
          .as("i"), col("text"))
      .select(col("doc_id"),
        md5(substring(col("text"), col("i") * NOVEL_STRIDE + 1, lit(NOVEL_K)))
          .as("h"))
      .distinct()
    val df = shingled.groupBy("h").agg(countDistinct("doc_id").as("df"))
    shingled.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        floor(col("n_unique") * lit(1e6) / col("n_shingles") + lit(0.5))
          .cast("long").as("novelty_micro"))
  }

  val q149Sql: String =
    s"""WITH s AS (
      |  SELECT DISTINCT doc_id,
      |    md5(substr(text, i * $NOVEL_STRIDE + 1, $NOVEL_K)) AS h
      |  FROM (
      |    SELECT doc_id, text,
      |      unnest(generate_series(0,
      |        CAST(greatest(ceil((length(text) - $NOVEL_K + 1) / $NOVEL_STRIDE.0), 1) AS INT) - 1)) AS i
      |    FROM documents)),
      |f AS (
      |  SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM s GROUP BY 1)
      |SELECT s.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_shingles,
      |  CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |  CAST(floor(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) * 1e6
      |    / count(*) + 0.5) AS BIGINT) AS novelty_micro
      |FROM s JOIN f USING (h)
      |GROUP BY s.doc_id
      |ORDER BY doc_id""".stripMargin

  /** q156: CHARACTER-ENTROPY QUALITY SIGNAL — per document, the
    * Shannon entropy of its character distribution: near-zero entropy
    * flags repetitive/degenerate text (aaaa..., padding, markup
    * spam) that length- and word-based rules (q33/q81) miss, and the
    * band between "too low" and "too high" (random bytes) is a
    * classic corpus-quality cut. Characters come from the shingle
    * idiom (substr explode, identical in both engines — no
    * engine-specific split('')); the per-(doc, char) histogram is one
    * map-side-combined pass, the per-doc fold a second — both keyed
    * by doc_id-led keys, so they co-partition. Entropy terms
    * (c/n) ln(n/c) are quantized to integer micro-nats per term and
    * summed exactly.
    */
  def q156CharEntropy(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: the per-char explode + partial agg ran as a 1-task scan
    // stage (1.9 s at sf0.1) — Tables.fanOut, guide §2.5
    val chars = Tables.fanOut(Tables(spark, dir).documents
        .select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, greatest(length(text), 1)), i -> substring(text, i, 1))"))
          .as("ch"))
      .filter(col("ch") =!= "")
    val counts = chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    counts
      .groupBy("doc_id")
      .agg(sum("c").as("n"), count(lit(1)).as("n_distinct"))
      .join(counts, "doc_id")
      .groupBy(col("doc_id"), col("n"), col("n_distinct"))
      .agg(sum(floor(
        (col("c").cast("double") / col("n").cast("double")) *
          log(col("n").cast("double") / col("c").cast("double")) *
          lit(1e6) + lit(0.5)).cast("long")).as("entropy_micro"))
      .select(col("doc_id"), col("n").as("n_chars"), col("n_distinct"),
        col("entropy_micro"))
  }

  val q156Sql: String =
    """WITH ch AS (
      |  SELECT doc_id, substr(text, i, 1) AS ch
      |  FROM (
      |    SELECT doc_id, text,
      |      unnest(generate_series(1, greatest(length(text), 1))) AS i
      |    FROM documents)
      |  WHERE substr(text, i, 1) != ''),
      |c AS (
      |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
      |  FROM ch GROUP BY 1, 2),
      |t AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS n_distinct
      |  FROM c GROUP BY 1)
      |SELECT t.doc_id AS doc_id, t.n AS n_chars, t.n_distinct,
      |  CAST(sum(CAST(floor(
      |    (CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)) *
      |    ln(CAST(t.n AS DOUBLE) / CAST(c.c AS DOUBLE)) * 1e6 + 0.5)
      |    AS BIGINT)) AS BIGINT) AS entropy_micro
      |FROM t JOIN c ON c.doc_id = t.doc_id
      |GROUP BY t.doc_id, t.n, t.n_distinct
      |ORDER BY t.doc_id""".stripMargin

  /** q277: REAL AUDIO FEATURE EXTRACTION — the audio leg of the
    * multimodal path: each document carries a mono 16-bit PCM
    * RIFF/WAVE blob (REALLY encoded by [[graft.operators.WavCodec]]
    * from the deterministic waveform the oracle replays), the codec
    * REALLY parses the container back (chunk walk, strict PCM
    * validation), and the gate compares integer-exact features — peak
    * and total |amplitude|, strict zero crossings, container-derived
    * duration. Same scale contract as q94's image decode: blobs are
    * one binary column, extraction streams through mapPartitions,
    * 1 row in -> 1 row out.
    */
  def q277AudioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wav = Tables.fanOut(Tables(spark, dir).documents
        .select(col("doc_id")), col("doc_id")).as[Long]
      // ^ fanOut: synth-encode + codec decode ran as a 1-task scan
      //   stage (~1.2 s each at sf0.1) — Tables.fanOut, guide §2.5
      .mapPartitions { it =>
        // ingest simulation: blobs arrive as already-encoded WAVs
        it.map { id =>
          graft.operators.AudioRecord(id,
            graft.operators.WavCodec.synthWav(id,
              graft.operators.WavCodec.synthLen(id),
              graft.operators.WavCodec.SAMPLE_RATE))
        }
      }
    graft.operators.WavCodec.decodeAudio(wav)
      .select("doc_id", "sample_rate", "n_samples", "peak_abs",
        "sum_abs", "zero_cross", "duration_us")
  }

  val q277Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id, 400 + (doc_id % 5) * 80 AS n FROM documents),
      |s AS (
      |  SELECT d.doc_id, i.i AS i,
      |    ((d.doc_id * 131 + i.i * 17) % 4001) - 2000 AS v
      |  FROM d, unnest(generate_series(0, d.n - 1)) AS i(i)),
      |p AS (
      |  SELECT doc_id, v,
      |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      |  FROM s)
      |SELECT doc_id,
      |  CAST(${graft.operators.WavCodec.SAMPLE_RATE} AS INT)
      |    AS sample_rate,
      |  count(*) AS n_samples,
      |  CAST(max(abs(v)) AS BIGINT) AS peak_abs,
      |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
      |  CAST(sum(CASE WHEN pv IS NOT NULL AND pv * v < 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross,
      |  count(*) * 1000000 // ${graft.operators.WavCodec.SAMPLE_RATE}
      |    AS duration_us
      |FROM p GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** q287 coverage-ladder cuts (top-N vocab sizes to evaluate). */
  val COVERAGE_CUTS: Seq[Long] = Seq(10L, 100L, 1000L)

  /** q287: VOCABULARY COVERAGE LADDER — what share of all bigram
    * occurrences does a top-N vocabulary cover, for each candidate N?
    * The tokenizer-budget diagnostic read before fixing a vocab size
    * (the OOV complement of q42's raw top-k list): coverage flattens
    * where extra vocab stops paying.
    *
    * Scale shape: bigrams are built INSIDE the row (zip_with over the
    * token array — no exploded self-join), counts partial-aggregate,
    * and because every cut is a CONSTANT the ladder needs only the
    * top-max(cuts) rows — a TakeOrdered (orderBy + limit), never a
    * global sort; rank/cumsum then run on that bounded table. The
    * corpus-wide totals are one scalar aggregate broadcast back (the
    * documented no-collect crossJoin idiom). Cuts above the true
    * vocabulary clamp to it (coverage = 100%). Output is integer
    * counts + ppm, nothing float-ordered.
    */
  def q287VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val bigrams = when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(zip_with(slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b)))
    val counted = Tables(spark, dir).documents
      .select(explode(bigrams).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .transform(graft.operators.Pins.pin)
    val totals = counted.agg(sum("n").as("total"), count(lit(1)).as("vocab"))
    val maxCut = COVERAGE_CUTS.max.toInt
    val top = counted.orderBy(col("n").desc, col("tok").asc).limit(maxCut)
    val w = Window.orderBy(col("n").desc, col("tok").asc)
    val ranked = top
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum",
        sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val cuts = COVERAGE_CUTS.map(c => s"($c)").mkString(", ")
    ranked.crossJoin(broadcast(totals))
      .join(broadcast(spark.sql(s"SELECT * FROM VALUES $cuts AS t(cut)")),
        col("rn") === least(col("cut"), col("vocab")))
      .select(col("cut"), col("vocab"), col("cum").as("covered"),
        col("total"),
        floor(col("cum") * lit(1000000L) / col("total")).cast("long")
          .as("coverage_ppm"))
  }

  val q287Sql: String = {
    val cuts = COVERAGE_CUTS.map(c => s"($c)").mkString(", ")
    s"""WITH t AS (
      |  SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |    x -> x != '') AS ts
      |  FROM documents),
      |b AS (
      |  SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
      |    i -> ts[i] || ' ' || ts[i + 1])) AS tok
      |  FROM t),
      |c AS (SELECT tok, count(*) AS n FROM b GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
      |  count(*) AS vocab FROM c),
      |r AS (
      |  SELECT n,
      |    CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS BIGINT) AS rn,
      |    CAST(sum(n) OVER (ORDER BY n DESC, tok ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM c)
      |SELECT cut, vocab, cum AS covered, total,
      |  CAST(floor(cum * 1000000 / total) AS BIGINT) AS coverage_ppm
      |FROM (VALUES $cuts) AS k(cut), tot, r
      |WHERE r.rn = least(k.cut, tot.vocab)
      |ORDER BY cut""".stripMargin
  }

  /** q285: READABILITY SCORING (Flesch reading ease) — the classic
    * corpus-quality signal next to q33's ratio rules and q81's Gopher
    * gates: words per sentence and syllables per word, folded into
    * 206.835 − 1.015·(w/s) − 84.6·(syl/w). Syllables use the standard
    * cheap proxy (vowel-group runs) — the POINT is a deterministic,
    * language-light difficulty score a filter can threshold on, not
    * phonology. All three counts are scan-stage regexp aggregates
    * (zero shuffle before the dump sort); the score itself is three
    * IEEE ops on exact integers, so both engines agree bit-for-bit.
    * Counts stay in the ASCII class both regex dialects share (the
    * q270 contract).
    */
  def q285Readability(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).documents
      .select(col("doc_id"),
        expr("CAST(regexp_count(lower(text), '[a-z]+') AS BIGINT)").as("n_words"),
        expr("CAST(greatest(regexp_count(text, '[.!?]+'), 1) AS BIGINT)").as("n_sent"),
        expr("CAST(regexp_count(lower(text), '[aeiouy]+') AS BIGINT)").as("n_syll"))
      .withColumn("flesch",
        when(col("n_words") === 0L, lit(null).cast("double"))
          .otherwise(lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") / col("n_sent")) -
            lit(84.6) * (col("n_syll").cast("double") / col("n_words"))))
  }

  val q285Sql: String =
    s"""SELECT doc_id,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_words,
      |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sent,
      |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syll,
      |  CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+')) = 0 THEN NULL
      |    ELSE 206.835
      |      - 1.015 * (CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS DOUBLE)
      |                 / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
      |      - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
      |                / len(regexp_extract_all(lower(text), '[a-z]+')))
      |  END AS flesch
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q302: TOKENIZER FERTILITY per (lang, source) — the standard
    * tokenizer-evaluation report (how many subword tokens a tokenizer
    * spends per word, and how many characters each token carries) that
    * decides whether a vocabulary suits a corpus slice before training
    * commits to it. Uses q34's two tokenizations (whitespace words and
    * the BPE-ish regex segmentation) so the fertility here is exactly
    * the ratio of the two gated token counts.
    *
    * Exactness: all counts are scan-stage regexp BIGINTs summed as
    * plain BIGINTs; fertility and chars/token are ONE IEEE division
    * each on exact integers — bit-identical across engines.
    *
    * Scale shape: zero-shuffle scan-stage counting, then one
    * map-side-combined aggregate bounded by |langs × sources|.
    */
  def q302TokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("lang"), col("source"),
        size(tokens(col("text"))).cast("long").as("ws"),
        size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)"))
          .cast("long").as("bpe"),
        length(col("text")).cast("long").as("chars"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("ws").as("n_words"),
        sum("bpe").as("n_tokens"),
        (sum("bpe").cast("double") / sum("ws")).as("fertility"),
        (sum("chars").cast("double") / sum("bpe")).as("chars_per_token"))

  val q302Sql: String =
    """WITH t AS (
      |  SELECT lang, source,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |                         x -> x != '')) AS BIGINT) AS ws,
      |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
      |      AS BIGINT) AS bpe,
      |    CAST(length(text) AS BIGINT) AS chars
      |  FROM documents)
      |SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(ws) AS BIGINT) AS n_words,
      |  CAST(sum(bpe) AS BIGINT) AS n_tokens,
      |  CAST(sum(bpe) AS DOUBLE) / sum(ws) AS fertility,
      |  CAST(sum(chars) AS DOUBLE) / sum(bpe) AS chars_per_token
      |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q334 holdout: every 5th doc_id is test, the rest train. */
  val NB_TEST_MOD = 5

  /** q334: NAIVE-BAYES LANGUAGE SCORING — train a multinomial
    * naive-Bayes language model on 4/5 of the corpus (per-lang Laplace
    * token likelihoods + class priors) and score every held-out doc
    * against EVERY class, emitting per-(doc, lang) matched-token
    * counts and the micro-quantized log-posterior. The statistical
    * counterpart to q32's fixed n-gram heuristic: here the model is
    * LEARNED from the labeled corpus. The gate emits all K scores per
    * doc rather than the argmax — the argmax of near-tied IEEE sums is
    * the one thing two engines may legitimately disagree on, so the
    * spec checks classification accuracy while the gate pins the
    * scores (per-term micro-quantized BEFORE summing, the q128 idiom,
    * so every aggregate is pure BIGINT). On this fixture the lang
    * labels are uncorrelated with the shared 31-token vocabulary, so
    * holdout accuracy is chance by construction — Batch27Spec verifies
    * the MODEL (exact recompute) rather than asserting accuracy.
    *
    * Scale shape: training is one (lang, token) partial-aggregated
    * rollup (vocabulary-sized) plus three scalar/class-sized
    * aggregates that BROADCAST; scoring explodes test tokens once,
    * fans out K classes (K=5, a constant), and left-joins the
    * likelihood table on the uniform (lang, token) key — one shuffle
    * each side, no skew (md5-free natural key but Zipf mass spreads
    * over |vocab|x|K|). The per-doc rollup is the last shuffle.
    */
  def q334NbLangScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    val train = docs.filter(pmod(col("doc_id"), lit(NB_TEST_MOD)) =!= 0)
    val test = docs.filter(pmod(col("doc_id"), lit(NB_TEST_MOD)) === 0)
    val cnt = train.select(col("lang").as("c_lang"),
        explode(col("toks")).as("tok"))
      .groupBy("c_lang", "tok").agg(count(lit(1)).as("c"))
    val classMass = cnt.groupBy("c_lang").agg(sum("c").as("mass"))
    val vocab = cnt.select(countDistinct("tok").as("v"))
    val classes = train.groupBy(col("lang").as("c_lang"))
      .agg(count(lit(1)).as("docs_c"))
    val totals = classes.select(sum("docs_c").as("n_train"),
      count(lit(1)).as("k"))
    val priors = classes.crossJoin(broadcast(totals))
      .select(col("c_lang"),
        floor(log((col("docs_c") + lit(1.0)) /
          (col("n_train") + col("k")).cast("double")) * lit(1e6) + lit(0.5))
          .cast("long").as("prior_micro"))
    val terms = test.select(col("doc_id"), explode(col("toks")).as("tok"))
      .crossJoin(broadcast(classMass))
      .join(cnt, Seq("c_lang", "tok"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("c_lang"),
        when(col("c").isNotNull, 1L).otherwise(0L).as("matched"),
        floor(log((coalesce(col("c"), lit(0L)) + lit(1.0)) /
          (col("mass") + col("v")).cast("double")) * lit(1e6) + lit(0.5))
          .cast("long").as("term_micro"))
    terms.groupBy("doc_id", "c_lang")
      .agg(count(lit(1)).as("n_tokens"), sum("matched").as("n_matched"),
        sum("term_micro").as("lik_micro"))
      .join(broadcast(priors), "c_lang")
      .select(col("doc_id"), col("c_lang").as("lang"), col("n_tokens"),
        col("n_matched"),
        (col("prior_micro") + col("lik_micro")).as("score_micro"))
  }

  val q334Sql: String =
    s"""WITH docs AS (
      |  SELECT doc_id, lang,
      |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |      x -> x != '') AS toks
      |  FROM documents),
      |train AS (SELECT * FROM docs WHERE doc_id % $NB_TEST_MOD != 0),
      |test AS (SELECT * FROM docs WHERE doc_id % $NB_TEST_MOD = 0),
      |cnt AS (
      |  SELECT lang AS c_lang, unnest(toks) AS tok FROM train),
      |cc AS (SELECT c_lang, tok, count(*) AS c FROM cnt GROUP BY 1, 2),
      |mass AS (SELECT c_lang, sum(c) AS mass FROM cc GROUP BY 1),
      |vocab AS (SELECT count(DISTINCT tok) AS v FROM cc),
      |classes AS (SELECT lang AS c_lang, count(*) AS docs_c
      |            FROM train GROUP BY 1),
      |totals AS (SELECT sum(docs_c) AS n_train, count(*) AS k FROM classes),
      |priors AS (
      |  SELECT c_lang,
      |    CAST(floor(ln((docs_c + 1.0) / CAST(n_train + k AS DOUBLE)) * 1e6
      |      + 0.5) AS BIGINT) AS prior_micro
      |  FROM classes, totals),
      |tt AS (SELECT doc_id, unnest(toks) AS tok FROM test),
      |terms AS (
      |  SELECT tt.doc_id, m.c_lang,
      |    CASE WHEN cc.c IS NOT NULL THEN 1 ELSE 0 END AS matched,
      |    CAST(floor(ln((coalesce(cc.c, 0) + 1.0) /
      |      CAST(m.mass + vocab.v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
      |      AS term_micro
      |  FROM tt CROSS JOIN mass m CROSS JOIN vocab
      |  LEFT JOIN cc ON cc.c_lang = m.c_lang AND cc.tok = tt.tok)
      |SELECT t.doc_id, t.c_lang AS lang,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(t.matched) AS BIGINT) AS n_matched,
      |  CAST(p.prior_micro + sum(t.term_micro) AS BIGINT) AS score_micro
      |FROM terms t JOIN priors p ON p.c_lang = t.c_lang
      |GROUP BY 1, 2, p.prior_micro
      |ORDER BY 1, 2""".stripMargin

  /** q356: frequencies above this are left unsmoothed (GT is only
    * trusted for small r; the standard Katz cutoff). */
  val GT_MAX_R = 10L

  /** q356: GOOD–TURING FREQUENCY SPECTRUM — the count-of-counts table
    * N_r ("how many word TRIGRAMS occur exactly r times") and the
    * Good–Turing re-estimate r* = (r+1)·N_{r+1}/N_r for r ≤
    * [[GT_MAX_R]]: the smoothing every classical n-gram LM (Katz
    * backoff) and every coverage extrapolation ("how much probability
    * mass sits in UNSEEN n-grams" ≈ N_1/N) reads off this table.
    * Trigrams, not unigrams, are the level where the fixture (and any
    * real corpus) actually HAS a low-r spectrum — the unigram
    * vocabulary here is 31 tokens with min count ≈ 26, so a unigram
    * spectrum would be empty by construction (the q334 finding).
    * Complements q123 (Zipf slope — the spectrum's shape) and q101
    * (bigram LM — a consumer of exactly this smoothing).
    *
    * Scale shape: trigrams assemble INSIDE the row (one HOF transform
    * over the token array — no posexplode self-join), the frequency
    * rollup is the q42 shuffle, and the spectrum rollup is |distinct
    * r ≤ GT_MAX_R+1| ≤ 11 rows — the r-cut happens BEFORE the
    * self-join, so the joined table is constant-size at any corpus
    * scale. Determinism: N_r and r are exact integers; r* is one IEEE
    * division of integers, micro-quantized.
    */
  def q356GoodTuring(spark: SparkSession, dir: String): DataFrame = {
    val tris = Tables(spark, dir).documents
      .select(tokens(col("text")).as("toks"))
      .select(explode(when(size(col("toks")) >= 3,
        expr("transform(sequence(0, size(toks) - 3)," +
          " i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))"))
        .otherwise(expr("array()").cast("array<string>"))).as("tri"))
    val freq = tris.groupBy("tri").agg(count(lit(1)).as("r"))
    val spectrum = freq.filter(col("r") <= GT_MAX_R + 1)
      .groupBy("r").agg(count(lit(1)).as("n_r"))
    val next = spectrum.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
    spectrum.filter(col("r") <= GT_MAX_R)
      .join(next, Seq("r"), "left")
      .select(col("r"), col("n_r"),
        coalesce(
          floor((col("r") + 1).cast("double") *
            col("n_r1").cast("double") / col("n_r").cast("double") *
            lit(1e6) + lit(0.5)).cast("long"),
          lit(0L)).as("gt_micro"))
  }

  val q356Sql: String =
    s"""WITH d AS (
      |  SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |    t -> t != '') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT unnest(list_transform(
      |    generate_series(1, greatest(len(toks) - 2, 0)),
      |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS tri
      |  FROM d),
      |f AS (
      |  SELECT tri, CAST(count(*) AS BIGINT) AS r FROM g GROUP BY tri),
      |spec AS (
      |  SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM f
      |  WHERE r <= ${GT_MAX_R + 1} GROUP BY r)
      |SELECT s.r, s.n_r,
      |  coalesce(CAST(floor(CAST(s.r + 1 AS DOUBLE) *
      |    CAST(n1.n_r AS DOUBLE) / CAST(s.n_r AS DOUBLE) * 1e6 + 0.5)
      |    AS BIGINT), 0) AS gt_micro
      |FROM spec s LEFT JOIN spec n1 ON n1.r = s.r + 1
      |WHERE s.r <= $GT_MAX_R
      |ORDER BY s.r""".stripMargin

  /** q371: CHARACTER BIGRAM CONDITIONAL ENTROPY per source —
    * H(C₂|C₁) = (1/N)·Σ n₁₂·ln(n₁/n₁₂): the entropy RATE signal that
    * q156's per-doc unigram entropy misses (unigram entropy can be
    * high while the text is a trivially predictable repeating
    * pattern; conditional entropy near zero flags exactly that —
    * machine-generated/templated sources). Per-source, so it feeds
    * the q50/q209 mixing decisions.
    *
    * Scale shape: the bigram rollup is |sources × alphabet²| (bounded
    * by the character domain, not the corpus — the q181/q362 rollup
    * discipline); n₁ marginals come from the SAME rollup (one extra
    * tiny aggregate, no second scan). Determinism: per-bigram
    * n₁₂·ln(n₁/n₁₂) terms micro-quantized before the cross-bigram
    * integer sum; one final division by N.
    */
  def q371BigramCondEntropy(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: the bigram explode + partial agg ran as a 1-task scan
    // stage (2.0 s at sf0.1) — Tables.fanOut, guide §2.5. Keyed on
    // doc_id, NOT source: source has a handful of distinct values and
    // would hash to a handful of partitions (guide §2.5 skew note).
    val bigrams = Tables.fanOut(Tables(spark, dir).documents
        .select(col("source"), col("text"), col("doc_id")), col("doc_id"))
      .select(col("source"),
        explode(expr("transform(sequence(1, greatest(length(text) - 1, 1))," +
          " i -> substring(text, i, 2))")).as("bg"))
      .filter(length(col("bg")) === 2)
    val n12 = bigrams.groupBy(col("source"), col("bg"))
      .agg(count(lit(1)).as("c12"))
      .withColumn("c1h", substring(col("bg"), 1, 1))
    val n1 = n12.groupBy(col("source"), col("c1h"))
      .agg(sum("c12").as("c1"))
    val terms = n12.join(n1, Seq("source", "c1h"))
      .select(col("source"),
        col("c12"),
        floor(col("c12").cast("double") *
          log(col("c1").cast("double") / col("c12").cast("double")) *
          lit(1e6) + lit(0.5)).cast("long").as("t"))
    terms.groupBy("source")
      .agg(sum("c12").as("n_bigrams"), sum("t").as("tsum"))
      .select(col("source"), col("n_bigrams"),
        floor(col("tsum").cast("double") / col("n_bigrams").cast("double") +
          lit(0.5)).cast("long").as("h_cond_micro"))
  }

  val q371Sql: String =
    """WITH bg AS (
      |  SELECT source, b AS bg FROM (
      |    SELECT source, unnest(list_transform(
      |      generate_series(1, greatest(length(text) - 1, 1)),
      |      i -> substring(text, i, 2))) AS b
      |    FROM documents)
      |  WHERE length(b) = 2),
      |n12 AS (
      |  SELECT source, bg, substring(bg, 1, 1) AS c1h,
      |    CAST(count(*) AS BIGINT) AS c12
      |  FROM bg GROUP BY 1, 2, 3),
      |n1 AS (
      |  SELECT source, c1h, CAST(sum(c12) AS BIGINT) AS c1
      |  FROM n12 GROUP BY 1, 2),
      |t AS (
      |  SELECT n12.source, n12.c12,
      |    CAST(floor(CAST(n12.c12 AS DOUBLE) *
      |      ln(CAST(n1.c1 AS DOUBLE) / CAST(n12.c12 AS DOUBLE)) * 1e6 + 0.5)
      |      AS BIGINT) AS t
      |  FROM n12 JOIN n1 ON n1.source = n12.source AND n1.c1h = n12.c1h)
      |SELECT source, CAST(sum(c12) AS BIGINT) AS n_bigrams,
      |  CAST(floor(CAST(sum(t) AS DOUBLE) / CAST(sum(c12) AS DOUBLE) + 0.5)
      |    AS BIGINT) AS h_cond_micro
      |FROM t GROUP BY source
      |ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q371_bigram_cond_entropy" ->
      Gate.sorted(q371BigramCondEntropy _, "source"),
    "q356_good_turing" -> Gate.sorted(q356GoodTuring _, "r"),
    "q334_nb_lang_score" ->
      Gate.sorted(q334NbLangScore _, "doc_id", "lang"),
    "q302_tokenizer_fertility" ->
      Gate.sorted(q302TokenizerFertility _, "lang", "source"),
    "q285_readability" -> Gate.sorted(q285Readability _, "doc_id"),
    "q287_vocab_coverage" -> Gate.sorted(q287VocabCoverage _, "cut"),
    "q290_image_resize" -> Gate.sorted(q290ImageResize _, "doc_id"),
    "q277_audio_features" -> Gate.sorted(q277AudioFeatures _, "doc_id"),
    "q156_char_entropy" -> Gate.sorted(q156CharEntropy _, "doc_id"),
    "q149_ngram_novelty" -> Gate.sorted(q149NgramNovelty _, "doc_id"),
    "q129_feature_hash" -> Gate.sorted(q129FeatureHash _, "doc_id", "bucket"),
    "q111_media_frames" -> Gate.sorted(q111MediaFrames _, "doc_id", "frame_idx"),
    "q94_media_decode" -> Gate.sorted(q94MediaDecode _, "doc_id"),
    "q410_png_chunks" -> Gate.sorted(q410PngChunks _, "doc_id"),
    "q411_macro_f1" -> Gate.sorted(q411MacroF1 _, "cls"),
    "q297_jpeg_decode" -> Gate.sorted(q297JpegDecode _, "doc_id"),
    "q61_vocab_encode" -> Gate.sorted(q61VocabEncode _, "doc_id"),
    "q60_sketch_topk" -> (q60SketchTopk _),
    "q42_vocab_topk" -> (q42VocabTopk _),
    "q43_doc_chunks" -> Gate.sorted(q43DocChunks _, "doc_id", "chunk_idx"),
    "q26_dedup_exact" -> Gate.sorted(q26DedupExact _, "keep_id"),
    "q32_lang_id" -> Gate.sorted(q32LangId _, "doc_id"),
    "q222_langid_confusion" ->
      Gate.sorted(q222LangidConfusion _, "actual_lang", "pred_lang"),
    "q33_text_quality" -> Gate.sorted(q33TextQuality _, "doc_id"),
    "q34_token_count" -> Gate.sorted(q34TokenCount _, "doc_id"),
    "q382_wordlen_spectrum" ->
      Gate.sorted(q382WordlenSpectrum _, "source", "len"),
    "q397_heaps_fit" -> ((s, d) => q397HeapsFit(s, d)),
    "q405_logodds_keyness" ->
      Gate.sorted(q405LogOddsKeyness _, "source", "rank"),
    "q35_doc_fingerprint" -> Gate.sorted(q35DocFingerprint _, "doc_id"),
    "q36_multimodal_meta" -> Gate.sorted(q36MultimodalMeta _, "doc_id"),
    "q54_text_normalize" -> Gate.sorted(q54TextNormalize _, "doc_id"),
    "q55_doc_keywords" -> Gate.sorted(q55DocKeywords _, "doc_id", "rank"))

  val oracles: Map[String, String] = Map(
    "q371_bigram_cond_entropy" -> q371Sql,
    "q356_good_turing" -> q356Sql,
    "q334_nb_lang_score" -> q334Sql,
    "q302_tokenizer_fertility" -> q302Sql,
    "q285_readability" -> q285Sql,
    "q287_vocab_coverage" -> q287Sql,
    "q290_image_resize" -> q290Sql,
    "q277_audio_features" -> q277Sql,
    "q156_char_entropy" -> q156Sql,
    "q149_ngram_novelty" -> q149Sql,
    "q129_feature_hash" -> q129Sql,
    "q111_media_frames" -> q111Sql,
    "q94_media_decode" -> q94Sql,
    "q410_png_chunks" -> q410Sql,
    "q411_macro_f1" -> q411Sql,
    "q297_jpeg_decode" -> q297Sql,
    "q61_vocab_encode" -> q61Sql,
    "q60_sketch_topk" -> q60Sql,
    "q42_vocab_topk" -> q42Sql,
    "q43_doc_chunks" -> q43Sql,
    "q26_dedup_exact" -> q26Sql,
    "q32_lang_id" -> q32Sql,
    "q222_langid_confusion" -> q222Sql,
    "q33_text_quality" -> q33Sql,
    "q34_token_count" -> q34Sql,
    "q382_wordlen_spectrum" -> q382Sql,
    "q397_heaps_fit" -> q397Sql,
    "q405_logodds_keyness" -> q405Sql,
    "q35_doc_fingerprint" -> q35Sql,
    "q36_multimodal_meta" -> q36Sql,
    "q54_text_normalize" -> q54Sql,
    "q55_doc_keywords" -> q55Sql)
}
