package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: every SparkEntry query against SPARK_GRAFT_SF_DIR,
  * one JSON line on stdout.
  *
  * Methodology: one untimed warmup pass (JVM/JIT/codegen), then
  * PASSES timed passes; the reported per-query number is the MEDIAN
  * (with the min AND every raw pass alongside in BENCH_FULL.json, so a
  * pass-to-pass spread is visible in the committed artifact rather
  * than only by diffing intra-round commits). Failures are reported in
  * a `failed` list and excluded from the total instead of folding a
  * near-zero elapsed time into it.
  *
  * SPARK_GRAFT_BENCH_ONLY (comma-separated query names) restricts the
  * run — the tool for measuring a query in isolation vs in suite
  * position when attribution is in question.
  */
object Bench {

  val PASSES = 3

  /** One timed run: frame build plus a noop-sink write, which forces
    * every output column (count() would let Catalyst prune work). Its
    * `Pins.scope` releases the query's pins after the time is taken;
    * left to the ContextCleaner, they slowed the next heavy query
    * (round 6: q168 4.1 -> 10.4 s, q220 4.7 -> 17.6 s, same code). */
  def once(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame): Either[Throwable, Double] =
    graft.operators.Pins.scope(spark) {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => Left(e) }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("graft-bench")

    // Untimed GC between slots: every GC_EVERY slots (codegen-class
    // churn across a wide suite), AND after any slot that ran heavy —
    // an all-heavy subset run (SPARK_GRAFT_BENCH_ONLY) never reaches
    // slot 32 within a pass, so without the elapsed trigger the
    // garbage of 25+ multi-second queries accumulates across the whole
    // pass and inflates later slots monotonically (observed: q168
    // pass1 4.5 s -> pass3 8.3 s on identical code with no GC fired).
    // Round 10: a per-slot System.gc() variant was MEASURED WORSE on a
    // 36-query subset (q278 0.80x, q176 0.79x, q220 0.83x on identical
    // code — forced full GCs evict JIT/codegen state, costing more
    // than the collection debt they clear) and reverted; the
    // conditional policy below stands.
    val GC_EVERY = 32
    val GC_HEAVY_SEC = 2.0
    def gcTick(i: Int, elapsed: Double): Unit =
      if (i % GC_EVERY == 0 || elapsed > GC_HEAVY_SEC) System.gc()

    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy(_._1)
    ordered.zipWithIndex.foreach { case ((_, fn), i) =>
      val r = once(spark, sfDir, fn)
      gcTick(i + 1, r.getOrElse(0.0))
    }                                                     // warmup

    val samples: Seq[(String, Seq[Either[Throwable, Double]])] =
      (1 to PASSES).map { _ =>
        ordered.zipWithIndex.map { case ((name, fn), i) =>
          val r = name -> once(spark, sfDir, fn)
          gcTick(i + 1, r._2.getOrElse(0.0))
          r
        }
      }.flatten.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq.sortBy(_._1)

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    // Jitter control (round-7 verdict item 6): allocation-heavy slots
    // (imageio codecs, localCheckpoint slots) show 3-5x pass spreads
    // with clean minimums — pure measurement noise that poisons a
    // 3-pass median. Any query whose spread exceeds SPREAD_LIMIT gets
    // EXTRA_PASSES more runs (GC'd between) and reports the median of
    // all its passes; the raw passes and a `resampled` flag stay in
    // the artifact so the spread is visible, not hidden.
    val SPREAD_LIMIT = 2.0
    val EXTRA_PASSES = 2
    val byName = ordered.toMap
    val ok = samples.collect {
      case (name, rs) if rs.forall(_.isRight) =>
        val ts0 = rs.collect { case Right(t) => t }
        val spread = ts0.max / math.max(ts0.min, 1e-9)
        val ts =
          if (spread <= SPREAD_LIMIT) ts0
          else ts0 ++ (1 to EXTRA_PASSES).flatMap { _ =>
            val r = once(spark, sfDir, byName(name)); System.gc()
            // a resample pass that CRASHES must not vanish silently —
            // the main passes already succeeded, so keep the query ok,
            // but put the failure on stderr like the failed collector
            r.left.foreach(e =>
              System.err.println(s"[bench] $name resample pass failed: $e"))
            r.toOption
          }
        (name, median(ts), ts.min, ts, ts.size > ts0.size)
    }
    val failed = samples.collect {
      case (name, rs) if rs.exists(_.isLeft) =>
        rs.collectFirst { case Left(e) =>
          System.err.println(s"[bench] $name: $e")
          name
        }.get
    }

    // The driver captures only a bounded TAIL (~2 KB) of stdout and
    // parses the JSON line out of it: round 2's line (~3.5 KB) and
    // round 5's (246 medians, ~3.1 KB — only the LAST 150 entries
    // survived) were FRONT-truncated. A 295-query map cannot fit that
    // budget at any sane precision, so (a) the COMPLETE result —
    // full names, median, min AND raw passes per query, total,
    // failures — is written to BENCH_FULL.json in the working
    // directory, which is read whole regardless of stdout limits and
    // committed per round for round-over-round comparison; (b) the
    // stdout line keeps the driver contract but puts the queries map
    // and the total LAST, so front-truncation eats the least important
    // fields first and the per-query tail + total survive.
    // Locale.ROOT: the f-interpolator is default-locale-sensitive and a
    // comma decimal separator would make the line invalid JSON.
    def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(v))
    def fmt(pairs: Seq[(String, Double)]): String =
      pairs.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val qs = fmt(ok.map(t => t._1.takeWhile(_ != '_') -> t._2))
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullJson =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","passes":$PASSES,"sf":"$sfDir","failed":$failedJson,"queries":{
${ok.map(t => s"""  "${t._1}": {"median": ${r3(t._2)}, "min": ${r3(t._3)}, "resampled": ${t._5}, "passes": [${t._4.map(r3).mkString(", ")}]}""").mkString(",\n")}
}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")),
      fullJson)
    val line =
      s"""{"failed":$failedJson,"passes":$PASSES,"sf":"$sfDir","full":"BENCH_FULL.json","queries":$qs,"metric":"total","value":${r3(total)},"unit":"sec"}"""
    // stop() BEFORE the final println so late executor/SparkContext
    // shutdown warnings cannot land between the JSON and end-of-stream
    // inside the driver's bounded tail.
    spark.stop()
    println(line)
  }
}
