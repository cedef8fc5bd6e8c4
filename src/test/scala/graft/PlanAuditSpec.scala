package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audit (SURVEY §7 step 6): the properties that keep
  * these plans viable at 100 TB are asserted, not hoped for — pushed
  * filters, pruned scans, broadcast dimensions, whole-stage codegen,
  * no cartesian products.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** AQE keeps WholeStageCodegen spans out of the plan string until
    * the final plan materializes — and df.write would build a FRESH
    * QueryExecution, so execute this one via collect(). Codegen spans
    * print as "*(n) Node" in the final adaptive plan.
    */
  private def executedPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def hasCodegen(p: String): Boolean =
    p.contains("WholeStageCodegen") || p.contains("*(")

  test("q02: filter and projection reach the parquet scan") {
    val p = plan(graft.queries.Relational.q02FilterProject(spark, sfDir))
    assert(p.contains("PushedFilters") && p.contains("l_quantity"),
      "filter not pushed to scan")
    assert(p.contains("ReadSchema") && !p.contains("l_returnflag"),
      "projection not pruned: scan reads unused columns")
  }

  test("q03: dimension tables broadcast, no shuffle for nation/region") {
    val p = plan(graft.queries.Relational.q03JoinDims(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "expected broadcast joins")
  }

  test("q01: aggregation is partial (map-side combine) before the exchange") {
    val p = executedPlan(graft.queries.Relational.q01AggSummary(spark, sfDir))
    assert(p.contains("partial_"), "expected partial (map-side) aggregation")
    assert(hasCodegen(p), "aggregation fell out of codegen")
  }

  test("per-row astro math stays inside whole-stage codegen") {
    Seq(
      graft.queries.AstroQueries.q16KeplerSemiAxis(spark, sfDir),
      graft.queries.AstroQueries.q19Inclination(spark, sfDir),
      graft.queries.Pipeline.q24OffsetFrame(spark, sfDir)
    ).foreach { df =>
      val p = executedPlan(df)
      assert(hasCodegen(p), "expected codegen span")
      assert(!p.contains("CartesianProduct"), "unexpected cartesian product")
    }
  }

  test("q30: query set broadcasts; native cosine expression in the plan") {
    val p = plan(graft.queries.EmbeddingOps.q30EmbeddingTopk(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side should broadcast")
    assert(p.toLowerCase.contains("cosine_similarity"),
      "native CosineSimilarity expression missing from plan")
  }

  test("q40: bucket self-join and embedding fetches stay equi-joins") {
    val p = plan(graft.queries.EmbeddingOps.q40EmbeddingNeardup(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "near-dup candidate generation degraded to a non-equi join")
  }

  test("q41: centroids broadcast for assignment; candidates join on the cell key") {
    val p = plan(graft.queries.EmbeddingOps.q41IvfAnn(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "centroid table should broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q42: token counts aggregate partially before the exchange") {
    val p = executedPlan(graft.queries.LlmText.q42VocabTopk(spark, sfDir))
    assert(p.contains("partial_"), "expected map-side combine on token counts")
  }

  test("q42: top-k cut is TakeOrdered; the rank window sees only the K-row head") {
    val p = executedPlan(graft.queries.LlmText.q42VocabTopk(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      "expected orderBy+limit to plan as TakeOrderedAndProject, not a full sort")
    // the rank window must run above the limit, never over the full vocab
    val winIdx = p.indexOf("Window")
    val takeIdx = p.indexOf("TakeOrderedAndProject")
    assert(winIdx >= 0 && takeIdx > winIdx,
      "rank window should consume the TakeOrdered head (window above limit in the tree)")
  }

  test("q27: band join is an equi-join (hash or sort-merge), never cartesian") {
    val p = plan(graft.queries.DedupOps.q27MinhashLsh(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "band join degraded to a non-equi join")
  }

  test("q112: every dimension broadcasts; the date filter reaches the orders scan") {
    val p = plan(graft.queries.Relational.q112RegionalRevenue(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "expected broadcast dimension joins")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      "order-date band not pushed to the orders scan")
  }

  test("q106: fingerprinting never shuffles — no Window, no Join, no agg exchange") {
    val p = plan(graft.queries.DedupOps.q106WinnowFingerprint(spark, sfDir))
    assert(p.toLowerCase.contains("winnow_fingerprint"),
      "native WinnowFingerprint expression missing from plan")
    assert(!p.contains("Window") && !p.contains("Join"),
      "document-local fingerprinting must not window or join")
    assert(!p.contains("hashpartitioning"),
      "unexpected hash exchange in a scan-stage operator")
  }

  test("q108: weighted sampling is a TakeOrdered, not a global sort") {
    val p = plan(graft.queries.TrainPrep.q108WeightedSample(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      "top-K should plan as TakeOrderedAndProject")
    assert(!p.contains("Exchange rangepartitioning"),
      "top-K must not range-shuffle the corpus")
  }

  test("q107: JSON extraction aggregates partially and stays in codegen") {
    val p = executedPlan(graft.queries.EventAnalytics.q107JsonExtract(spark, sfDir))
    assert(p.contains("partial_"), "expected map-side combine")
    assert(p.contains("from_json"), "explicit-schema from_json missing")
  }

  test("library operators do not embed a global sort (gate sorts live in the adapters)") {
    import graft.queries.{AstroQueries => A, LlmText => L, Pipeline => P, Relational => R, SessionOps => S}
    val ops: Seq[(String, DataFrame)] = Seq(
      "q02" -> R.q02FilterProject(spark, sfDir),
      "q04" -> R.q04SemiJoin(spark, sfDir),
      "q05" -> R.q05AntiJoin(spark, sfDir),
      "q06" -> R.q06WindowRunning(spark, sfDir),
      "q09" -> R.q09ExplodeMerge(spark, sfDir),
      "q14" -> A.q14Photocentric(spark, sfDir),
      "q15" -> A.q15LogLuminositySum(spark, sfDir),
      "q16" -> A.q16KeplerSemiAxis(spark, sfDir),
      "q17" -> A.q17EffectiveTemp(spark, sfDir),
      "q18" -> A.q18Magnitudes(spark, sfDir),
      "q19" -> A.q19Inclination(spark, sfDir),
      "q20" -> A.q20DensityCenterDist(spark, sfDir),
      "q23" -> P.q23UnresolvedMerge(spark, sfDir),
      "q24" -> P.q24OffsetFrame(spark, sfDir),
      "q25" -> P.q25StratifiedSplit(spark, sfDir),
      "q26" -> L.q26DedupExact(spark, sfDir),
      "q32" -> L.q32LangId(spark, sfDir),
      "q33" -> L.q33TextQuality(spark, sfDir),
      "q34" -> L.q34TokenCount(spark, sfDir),
      "q35" -> L.q35DocFingerprint(spark, sfDir),
      "q36" -> L.q36MultimodalMeta(spark, sfDir),
      "q37" -> S.q37EventsSessionize(spark, sfDir),
      "q47" -> graft.queries.TrainPrep.q47RegexScrub(spark, sfDir),
      "q49" -> S.q49LatestByKey(spark, sfDir),
      "q50" -> graft.queries.TrainPrep.q50CorpusMix(spark, sfDir),
      "q54" -> L.q54TextNormalize(spark, sfDir),
      "q55" -> L.q55DocKeywords(spark, sfDir),
      "q62" -> graft.queries.VectorOps.q62QuantizedAnn(spark, sfDir),
      "q65" -> graft.queries.TrainPrep.q65SourceTokenProfile(spark, sfDir),
      "q66" -> S.q66StateDiff(spark, sfDir),
      "q67" -> graft.queries.DedupOps.q67SplitLeakage(spark, sfDir))
    ops.foreach { case (name, df) =>
      val p = df.queryExecution.optimizedPlan.toString
      assert(!p.contains("Sort ["),
        s"$name embeds a global sort — a library caller at 100 TB pays a full range exchange for nothing")
    }
  }

  test("q47: scrub runs in the scan stage — zero exchanges, codegen") {
    val p = executedPlan(graft.queries.TrainPrep.q47RegexScrub(spark, sfDir))
    assert(!p.contains("Exchange"), "scrub should not shuffle")
    assert(hasCodegen(p), "scrub fell out of codegen")
  }

  test("q48: benchmark shingle set broadcasts; corpus side never shuffles text") {
    val p = plan(graft.queries.TrainPrep.q48Decontaminate(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "expected broadcast of the benchmark set")
  }

  test("q46: packing needs exactly one exchange (shard window feeds the pack agg)") {
    // AQE echoes the same exchange under "== Initial Plan ==" — count
    // the final plan only.
    val p = executedPlan(graft.queries.TrainPrep.q46SeqPack(spark, sfDir))
      .split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 1, s"expected at most one shuffle, saw $n:\n$p")
  }

  test("q49: compaction partial-aggregates before the exchange") {
    val p = executedPlan(graft.queries.SessionOps.q49LatestByKey(spark, sfDir))
    assert(p.contains("partial_"), "expected map-side combine")
  }

  test("q54: normalization runs in the scan stage — zero exchanges, codegen") {
    val p = executedPlan(graft.queries.LlmText.q54TextNormalize(spark, sfDir))
    assert(!p.contains("Exchange"), "normalize should not shuffle")
    assert(hasCodegen(p), "normalize fell out of codegen")
  }

  test("q55: term counts aggregate partially; top-k window partitions on doc_id") {
    val p = executedPlan(graft.queries.LlmText.q55DocKeywords(spark, sfDir))
    assert(p.contains("partial_"), "expected map-side combine on term counts")
    assert(!p.contains("Sort [term"), "df join must not force a global sort")
  }

  test("q57: manifest is one map-side-combined aggregation") {
    val p = executedPlan(graft.queries.TrainPrep.q57ShardManifest(spark, sfDir))
    assert(p.contains("partial_"), "expected map-side combine on shard stats")
    val n = "Exchange hashpartitioning".r
      .findAllIn(p.split("== Initial Plan ==").head).size
    assert(n <= 1, s"manifest should need exactly one exchange, saw $n")
  }

  test("q60: sketch pass is mapPartitions; recount joins a broadcast candidate set") {
    val p = executedPlan(graft.queries.LlmText.q60SketchTopk(spark, sfDir))
    assert(p.contains("MapPartitions"), "Misra-Gries pass missing from plan")
    assert(p.contains("BroadcastHashJoin"), "candidate recount should broadcast")
  }

  test("q62: int8 query set broadcasts; rerank touches only the candidate cut") {
    val p = executedPlan(graft.queries.VectorOps.q62QuantizedAnn(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "quantized query set should broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q64: pair counts aggregate partially; top-k is a bounded TakeOrdered") {
    val p = executedPlan(graft.queries.TrainPrep.q64BpePairs(spark, sfDir))
    assert(p.contains("partial_"), "expected map-side combine on pair counts")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k cut should be TakeOrdered, not a global sort")
  }

  test("q66: one conditional-aggregation pass, no state join") {
    val p = executedPlan(graft.queries.SessionOps.q66StateDiff(spark, sfDir))
    assert(p.contains("partial_"), "expected partial aggregation")
    assert(!p.contains("Join"), "diff must not join two compacted states")
  }

  test("q74: cohort window and dedup share one exchange, no cohort join") {
    val p = executedPlan(graft.queries.EventAnalytics.q74RetentionCohorts(spark, sfDir))
    assert(!p.contains("Join"), "cohort tagging must not join")
  }

  test("no query in the inventory plans a cartesian product") {
    SparkEntry.queries.filterNot(_._1 == "q38_stream_window_agg")
      .foreach { case (name, fn) =>
        val p = plan(fn(spark, sfDir))
        assert(!p.contains("CartesianProduct"),
          s"$name plans a cartesian product")
      }
  }

  test("q87: date filters pushed to both fact scans; dim broadcasts; top-k is TakeOrdered") {
    val df = graft.queries.Relational.q87ShipPriority(spark, sfDir)
    val p0 = plan(df)
    assert(p0.contains("PushedFilters") &&
      (p0.contains("LessThan(o_orderdate") || p0.contains("GreaterThan(l_shipdate")),
      "expected the date predicates in PushedFilters")
    val p = executedPlan(df)
    assert(p.contains("BroadcastHashJoin"), "segment dim should broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k cut should be TakeOrdered, not a global sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("q85/q88: no ORDER-BY-only window — every window partitions on __pid or a key") {
    for (df <- Seq(
        graft.queries.EventAnalytics.q85FeatureBinning(spark, sfDir),
        graft.queries.EventAnalytics.q88PeakConcurrency(spark, sfDir))) {
      val p = df.queryExecution.executedPlan.toString
      // Spark prints an empty partition spec as "windowspecdefinition(<sort cols>...)"
      // with no partition expressions; both operators route global
      // numbering through GlobalRank, so every window spec must carry
      // either the __pid or the user_id partition key.
      "windowspecdefinition\\(([^,)]+)".r.findAllMatchIn(p).foreach { m =>
        val first = m.group(1)
        assert(first.startsWith("__pid") || first.startsWith("user_id"),
          s"window not partitioned by __pid/user_id: ${m.matched}")
      }
    }
  }

  test("exact-midrank/CDF family: zero ORDER-BY-only windows over value grids") {
    // round-7 verdict item 3: the running sums over |distinct value|
    // grids (which scale with a fact column's distinct values) must
    // route through GlobalRank — every window spec in these plans has
    // to carry the __pid partition key
    for (df <- Seq(
        graft.queries.StatsOps.q211MannWhitney(spark, sfDir),
        graft.queries.StatsOps.q372KruskalWallis(spark, sfDir),
        graft.queries.StatsOps.q373SpearmanRho(spark, sfDir),
        graft.queries.StatsOps.q390Jonckheere(spark, sfDir),
        graft.queries.StatsOps.q395CramerVonMises(spark, sfDir),
        graft.queries.StatsOps.q401WinsorWelch(spark, sfDir),
        graft.queries.TemporalOps.q380RunsTest(spark, sfDir))) {
      val p = df.queryExecution.executedPlan.toString
      "windowspecdefinition\\(([^,)]+)".r.findAllMatchIn(p).foreach { m =>
        assert(m.group(1).startsWith("__pid"),
          s"window not partitioned by __pid: ${m.matched}")
      }
    }
  }

  test("q82: codes and LUT build on broadcast codebooks; rerank joins are equi") {
    val p = executedPlan(graft.queries.VectorOps.q82PqAnn(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "codebook should broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("native expressions are registered as SQL functions via extensions") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
    df.createOrReplaceTempView("cosreg_probe")
    val sim = spark.sql("SELECT cosine_similarity(a, b) AS s FROM cosreg_probe")
      .collect().head.getDouble(0)
    assert(math.abs(sim - 1.0) < 1e-12)
    Seq("hello world of spark").toDF("text").createOrReplaceTempView("txt_probe")
    val r = spark.sql(
      """SELECT poly_hash(text) AS ph,
        |  size(shingle_hash_set(text, 5)) AS nsh,
        |  simhash_fingerprint(text, 5, 32) AS sh,
        |  size(minhash_signature(text, 5, 16)) AS nmh
        |FROM txt_probe""".stripMargin).collect().head
    assert(r.getAs[Long]("ph") > 0L)
    assert(r.getAs[Int]("nsh") > 0 && r.getAs[Int]("nmh") == 16)
    assert(r.getAs[Long]("sh") != 0L)
    val nfc = spark.sql("SELECT normalize_nfc('cafe\\u0301') AS s")
      .collect().head.getString(0)
    assert(nfc == "caf\u00e9", "normalize_nfc not registered or wrong form")
    // non-literal size parameters are rejected, not silently mis-planned
    intercept[Exception](spark.sql(
      "SELECT simhash_fingerprint(text, length(text), 32) FROM txt_probe").collect())
  }

  test("q137/q148: threshold sweep and bootstrap are ONE partial-agg scan each") {
    Seq(
      graft.queries.StatsOps.q137PrThresholds(spark, sfDir),
      graft.queries.StatsOps.q148BootstrapCi(spark, sfDir)
    ).foreach { df =>
      val p = executedPlan(df).split("== Initial Plan ==")(0)
      assert(p.contains("partial_"), "expected map-side partial aggregation")
      assert(!p.contains("CartesianProduct"), "unexpected cartesian product")
      // one fact scan feeds every conditional sum
      val factScans = "Scan parquet[^\\n]*(lineitem|orders)".r.findAllIn(p).length
      assert(factScans <= 1, s"fact scanned $factScans times")
    }
  }

  test("q147: chunk pairs plan has no exchange and no window") {
    val p = executedPlan(
      graft.queries.TrainPrep.q147ChunkPairs(spark, sfDir))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), "zero-shuffle operator grew an exchange")
    assert(!p.contains("Window"), "no window expected")
    assert(hasCodegen(p), "expected codegen span")
  }

  test("q146: the native session-window aggregation is planned") {
    val p = executedPlan(
      graft.queries.SessionOps.q146SessionWindow(spark, sfDir))
    assert(p.contains("session_window") || p.contains("MergingSessions"),
      "expected the engine's native session-window aggregation")
  }

  test("q168: prefix join verifies via broadcast id lists, no posting join") {
    graft.operators.Pins.scope(spark) {
      val p = executedPlan(graft.queries.DedupOps.q168Plan(spark, sfDir))
      assert(p.contains("BroadcastHashJoin"),
        "expected broadcast candidate/bitmap joins")
      assert(!p.contains("SortMergeJoin"),
        "verification must not shuffle-join posting lists")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("q158/q159: orders/lineitem aggregate map-side before any join") {
    Seq(
      graft.queries.TpchShapes.q158OrderCountDist(spark, sfDir),
      graft.queries.TpchShapes.q159SmallQtyRevenue(spark, sfDir)
    ).foreach { df =>
      val p = executedPlan(df).split("== Initial Plan ==")(0)
      assert(p.contains("partial_"), "expected map-side partial aggregation")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("q173: spine and type domain broadcast; fact counted once") {
    val p = executedPlan(
      graft.queries.SqlSurface.q173GapFill(spark, sfDir))
      .split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "spine x types must broadcast")
    val factScans = "Scan parquet[^\\n]*events".r.findAllIn(p).length
    assert(factScans <= 3, s"events scanned $factScans times (daily+bounds+types)")
  }

  test("q181: CDF windows run on the rollup, not the fact table") {
    val p = executedPlan(
      graft.queries.MaintOps.q181CdfNormalize(spark, sfDir))
      .split("== Initial Plan ==")(0)
    // the window must sit above the aggregate, so the fact scan feeds
    // a partial_ aggregation, not a sort for the window
    assert(p.contains("partial_"), "expected pre-aggregation under the window")
  }

  test("q144/q150: dimension/query sides broadcast") {
    Seq(
      graft.queries.EmbeddingOps.q144KnnClassifier(spark, sfDir),
      graft.queries.Relational.q150IntegrityAudit(spark, sfDir)
    ).foreach { df =>
      val p = executedPlan(df)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        "expected broadcast join")
      assert(!p.contains("SortMergeJoin"), "small side must not shuffle-join")
    }
  }

  test("q201/q202: event passes stay windowed on bounded keys, no cartesian") {
    Seq(
      graft.queries.OpsAnalytics.q201LastTouch(spark, sfDir),
      graft.queries.OpsAnalytics.q202LatenessProfile(spark, sfDir)
    ).foreach { df =>
      val p = executedPlan(df)
      assert(!p.contains("CartesianProduct"), "unexpected cartesian product")
      assert(p.contains("Window"), "expected the single-pass window shape")
    }
  }

  test("q205/q216: manifest math runs above a partial fact aggregate") {
    Seq(
      graft.queries.MaintOps.q205ZonemapSkip(spark, sfDir),
      graft.queries.ProfileOps.q216EquiDepthHist(spark, sfDir)
    ).foreach { df =>
      val p = executedPlan(df).split("== Initial Plan ==")(0)
      assert(p.contains("partial_"), "expected map-side combine on the scan")
      assert(!p.contains("CartesianProduct") ||
        p.contains("BroadcastNestedLoopJoin"),
        "only broadcast-size cross joins allowed")
    }
  }

  test("q212: selective filters reach the fact scans; dims broadcast") {
    val p = plan(graft.queries.TpchShapes.q212ReturnedReport(spark, sfDir))
    assert(p.contains("PushedFilters") && p.contains("l_returnflag"),
      "returnflag filter not pushed to the lineitem scan")
    assert(p.contains("BroadcastHashJoin"), "customer/nation must broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must be heap-based, not a global sort")
  }

  test("q219: Apriori semi-joins prune before the counting aggregate") {
    val p = executedPlan(
      graft.queries.Relational.q219FrequentTriples(spark, sfDir))
    assert(p.contains("LeftSemi"), "expected frequent-pair semi-join pruning")
    assert(!p.contains("CartesianProduct"))
  }

  test("q253/q254: snowflake legs broadcast; no cartesian anywhere") {
    Seq(
      graft.queries.TpchShapes.q253NationTrade(spark, sfDir),
      graft.queries.TpchShapes.q254MarketShare(spark, sfDir)
    ).foreach { df =>
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"),
        "supplier/nation/region legs must broadcast")
      assert(!p.contains("CartesianProduct"), "unexpected cartesian")
    }
  }

  test("q255: late-line attribution uses semi+anti joins, never cartesian") {
    val p = plan(graft.queries.TpchShapes.q255WaitingSuppliers(spark, sfDir))
    assert(p.contains("LeftSemi"), "multi-supplier check must be a semi join")
    assert(p.contains("LeftAnti"), "sole-late check must be an anti join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q249: boilerplate frequency aggregates partially before its exchange") {
    val p = executedPlan(
      graft.queries.CorpusOps.q249BoilerplateStrip(spark, sfDir))
      .split("== Initial Plan ==")(0)
    assert(p.contains("partial_"), "expected map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("q261: the bucketed join itself is shuffle-free") {
    val df = graft.queries.CorpusOps.q261BucketedJoin(spark, sfDir)
    val p = executedPlan(df).split("== Initial Plan ==")(0)
    // one exchange is allowed for the final rollup; the JOIN must read
    // co-located buckets directly — so strictly fewer exchanges than
    // the shuffle-join formulation (join would add 2 more)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"bucketed join must not shuffle its inputs:\n$p")
    // both scans must read the bucketed layout (at spec scale AQE may
    // still broadcast the small side — the property that matters is
    // that NEITHER side exchanged and the scans are bucket-aware)
    assert("Bucketed: true".r.findAllIn(p).length >= 2,
      "both sides must scan their bucketed layout")
  }

  test("q250: blocked pair join is an equi-join on the blocking key") {
    val p = plan(graft.queries.CorpusOps.q250LinkagePatterns(spark, sfDir))
    assert(!p.contains("CartesianProduct"), "blocking must keep this equi")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "pair join must run on the custkey hash, not a nested loop")
  }

  test("q288: every correlated subquery decorrelates to a join") {
    val df = graft.queries.SqlSurface.q288CorrelatedScalar(spark, sfDir)
    // optimized logical plan: no leftover correlated/scalar subquery
    // expressions — RewriteCorrelatedScalarSubquery + RewritePredicate
    // Subquery must have turned all three into aggregate + join
    val lp = df.queryExecution.optimizedPlan.toString
    assert(!lp.contains("scalar-subquery"),
      s"scalar subqueries must decorrelate, got:\n$lp")
    assert(lp.contains("ExistenceJoin"),
      "EXISTS must decorrelate to an existence join")
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "decorrelated lookups must be hash joins on o_orderkey, " +
        s"not per-row loops:\n$p")
  }

  test("q283: part filter pre-thins lineitem via a broadcast, orders is the only big join") {
    val p = plan(graft.queries.TpchShapes.q283ProductProfit(spark, sfDir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"), "part/supplier/nation must broadcast")
  }

  test("q287: the ladder plans a TakeOrdered, never a global sort") {
    val p = plan(graft.queries.LlmText.q287VocabCoverage(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-maxcut must be TakeOrdered:\n$p")
  }

  test("q298: category stats broadcast back; encode is scan-stage") {
    val p = executedPlan(graft.queries.TrainPrep.q298TargetEncode(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"category stats must broadcast, not shuffle the fact:\n$p")
    assert(p.contains("partial_"), "stats aggregate must map-side combine")
  }

  test("q304: the complaint exclusion is a broadcast anti-join") {
    val p = plan(graft.queries.TpchShapes.q304SupplierPartTypes(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") &&
      p.toLowerCase.contains("leftanti"),
      s"exclusion list must anti-join as a broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q306: one exchange (the session key), no window operator") {
    val df = graft.queries.TemporalOps.q306Debounce(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Window"),
      "debounce must fold per key, not window-scan")
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges <= 1, s"expected a single shuffle, plan:\n$p")
  }

  test("q307: single pruned scan feeding a TakeOrdered") {
    val p = plan(graft.queries.Retrieval.q307ConjunctiveSearch(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("n_chars") && !p.contains("lang"),
      "scan must prune to (doc_id, text)")
    assert(!p.contains("Generate"),
      "positions must be in-row lambdas, not posexplode")
  }

  test("q308: candidate cut bounded; no cartesian anywhere") {
    val p = plan(graft.queries.EmbeddingOps.q308MmrRerank(spark, sfDir))
    assert(!p.contains("CartesianProduct"),
      s"MMR joins must stay keyed/broadcast:\n$p")
  }

  test("q310: window estimates come from sketch unions, not the log") {
    val p = executedPlan(
      graft.queries.EventAnalytics.q310SlidingHll(spark, sfDir))
    assert(p.toLowerCase.contains("hll"),
      "expected HLL sketch aggregates in the plan")
  }

  test("q63/q313: no cartesian anywhere (assignment is checkpointed upstream)") {
    // the broadcast centroid assignment materializes inside the eager
    // localCheckpoint, so the returned frame's plan shows only the
    // CC-side joins — assert the keyed-join property on those
    Seq(
      graft.queries.VectorOps.q63SemanticDedup(spark, sfDir),
      graft.queries.VectorOps.q313FixedcellControl(spark, sfDir)
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"),
        "cluster labeling must join on keys")
    }
  }

  test("q314: the FIM transform is a pure scan — zero exchanges") {
    val p = plan(graft.queries.TrainPrep.q314FimSplit(spark, sfDir))
    assert(!p.contains("Exchange"),
      s"per-row string transform must not shuffle:\n$p")
  }

  test("q315/q316/q322/q326: keyed joins only, no cartesian") {
    Seq(
      graft.queries.SqlSurface.q315ArraySurface(spark, sfDir),
      graft.queries.GraphOps.q316ClusteringCoeff(spark, sfDir),
      graft.queries.EventAnalytics.q322Dbscan(spark, sfDir),
      graft.queries.VectorOps.q326AlsStep(spark, sfDir)
    ).foreach { df =>
      assert(!plan(df).contains("CartesianProduct"))
    }
  }

  test("q317: approx values rejoin the fact via broadcast") {
    val p = plan(graft.queries.ProfileOps.q317ApproxPercentileEval(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      "the |types|-bounded approx values must broadcast back")
    assert(p.contains("approx_percentile"),
      "expected the GK summary aggregate in the plan")
  }

  test("q318: the sample cut runs on the native TopKPerGroup operator") {
    val p = plan(graft.queries.TrainPrep.q318BottomkSample(spark, sfDir))
    assert(p.contains("TopKPerGroup"),
      s"expected the custom physical operator, not a fact-table window:\n$p")
  }

  test("q319/q320: every window partitions or runs on a bounded rollup") {
    val p19 = plan(graft.queries.SqlSurface.q319RangeFrame(spark, sfDir))
    assert(p19.contains("Window"), "expected RANGE-frame windows")
    // q320's only window is the 16-row bin prefix scan — the fact
    // table must already be aggregated below it
    val p20 = plan(graft.queries.StatsOps.q320SplitFinder(spark, sfDir))
    assert(p20.contains("partial_"),
      "fact rollup must map-side combine below the bin window")
  }

  test("q328: Q6 is one pushed-filter scan with a partial aggregate") {
    val p = plan(graft.queries.TpchShapes.q328ForecastRevenue(spark, sfDir))
    assert(p.contains("PushedFilters: [") && p.contains("l_shipdate"),
      "shipdate band must reach the parquet scan")
    assert(p.contains("partial_"), "expected map-side combine")
    assert(!p.contains("Join"), "Q6 must not join anything")
  }

  test("q329-q338: keyed joins only — no cartesian in the new batch") {
    Seq(
      graft.queries.TpchShapes.q329ShipmodePriority(spark, sfDir),
      graft.queries.TpchShapes.q330ExcessSuppliers(spark, sfDir),
      graft.queries.CorpusOps.q331DupSpans(spark, sfDir),
      graft.queries.LlmText.q334NbLangScore(spark, sfDir),
      graft.queries.TemporalOps.q335MarkovEval(spark, sfDir),
      graft.queries.TemporalOps.q336PinballBacktest(spark, sfDir),
      graft.queries.OpsAnalytics.q337UShapedAttribution(spark, sfDir),
      graft.queries.CorpusOps.q338FsEmStep(spark, sfDir)
    ).foreach { df =>
      assert(!plan(df).contains("CartesianProduct"))
    }
  }

  test("q330: promoted-part filter broadcasts onto the fact scan") {
    val p = plan(graft.queries.TpchShapes.q330ExcessSuppliers(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      "part prefix filter and demand table must broadcast")
    assert(p.contains("partial_"), "avail aggregate must map-side combine")
  }

  test("q331: span merge windows partition by doc_id, never globally") {
    val p = plan(graft.queries.CorpusOps.q331DupSpans(spark, sfDir))
    // every Window in the plan must carry the doc_id partition spec —
    // an unpartitioned window over the fact would print "Window [...],
    // [ordercol ASC...]" with no partition column list
    val windows = p.linesIterator.filter(_.trim.startsWith("Window "))
    windows.foreach(w => assert(w.contains("doc_id"),
      s"window without doc partition: $w"))
    assert(p.contains("partial_"),
      "window-frequency aggregate must map-side combine")
  }

  test("q332: the eval set is a TakeOrdered head; the sketch broadcasts") {
    val p = plan(graft.queries.CorpusOps.q332CmsEval(spark, sfDir))
    assert(p.contains("TakeOrdered"),
      "top-k cut must be TakeOrderedAndProject, not a global sort")
    assert(p.contains("BroadcastHashJoin"),
      "the 256-row sketch must broadcast onto the eval set")
  }

  test("q333: the fact collapses to bins before any pairwise PAV work") {
    val p = plan(graft.queries.StatsOps.q333IsotonicFit(spark, sfDir))
    assert(p.contains("partial_"),
      "bin rollup must map-side combine below the max-min join")
    // the j<=k rate join is a bounded-rollup BNLJ (<=20 rows a side),
    // the same idiom as the 1-row scalar crossJoins — but never a
    // CartesianProduct of fact-sized inputs
    assert(!p.contains("CartesianProduct"))
  }

  test("q340-q346: keyed joins only, rollup-bounded windows, no cartesian") {
    Seq(
      graft.queries.TemporalOps.q340MarkovPerplexity(spark, sfDir),
      graft.queries.TemporalOps.q341ConformalCoverage(spark, sfDir),
      graft.queries.TrainPrep.q342LooSourceValue(spark, sfDir),
      graft.queries.StatsOps.q343BrierDecomposition(spark, sfDir),
      graft.queries.TemporalOps.q344CrossCorr(spark, sfDir),
      graft.queries.VectorOps.q345WhiteningReport(spark, sfDir),
      graft.queries.StatsOps.q346JackknifeRatio(spark, sfDir)
    ).foreach { df =>
      assert(!plan(df).contains("CartesianProduct"))
    }
  }

  test("q345/q346: the fact collapses map-side before any broadcast math") {
    Seq(
      graft.queries.VectorOps.q345WhiteningReport(spark, sfDir),
      graft.queries.StatsOps.q346JackknifeRatio(spark, sfDir)
    ).foreach { df =>
      val p = plan(df)
      assert(p.contains("partial_"), "expected map-side combine")
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"),
        "bounded stats tables should broadcast")
    }
  }

  test("q347-q355: keyed joins only, rollup-bounded windows, no cartesian") {
    Seq(
      graft.queries.EventAnalytics.q347LogRank(spark, sfDir),
      graft.queries.EventAnalytics.q348NelsonAalen(spark, sfDir),
      graft.queries.StatsOps.q349TCloseness(spark, sfDir),
      graft.queries.StatsOps.q350BhFdr(spark, sfDir),
      graft.queries.EventAnalytics.q351Cuped(spark, sfDir),
      graft.queries.TrainPrep.q354NeymanAllocation(spark, sfDir),
      graft.queries.VectorOps.q355CentroidEval(spark, sfDir)
    ).foreach { df =>
      assert(!plan(df).contains("CartesianProduct"))
    }
  }

  test("q347/q348/q350/q351: the log collapses map-side to the bounded rollup") {
    Seq(
      graft.queries.EventAnalytics.q347LogRank(spark, sfDir),
      graft.queries.EventAnalytics.q348NelsonAalen(spark, sfDir),
      graft.queries.StatsOps.q350BhFdr(spark, sfDir),
      graft.queries.EventAnalytics.q351Cuped(spark, sfDir)
    ).foreach { df =>
      assert(plan(df).contains("partial_"),
        "expected a map-side-combined rollup below the stats math")
    }
  }

  test("q352: anchors and candidate targets broadcast; no corpus x corpus") {
    val p = plan(graft.queries.EmbeddingOps.q352MarginMining(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "the bounded anchor/candidate sets must broadcast against the scan")
    assert(!p.contains("CartesianProduct"),
      "margin mining must never plan a partitioned cartesian")
  }

  test("q355: the centroid table broadcasts onto the component scan") {
    val p = plan(graft.queries.VectorOps.q355CentroidEval(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      "|labels x dims| centroids must broadcast, never shuffle the scan")
    assert(p.contains("partial_"), "centroid sums must map-side combine")
  }

  test("q359-q362: keyed joins, rollup windows, no cartesian") {
    Seq(
      graft.queries.CorpusOps.q359OrcRoundtrip(spark, sfDir),
      graft.queries.StatsOps.q360CochranArmitage(spark, sfDir),
      graft.queries.EventAnalytics.q361PostStratAte(spark, sfDir),
      graft.queries.MaintOps.q362QuantileNormalize(spark, sfDir)
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"))
      assert(p.contains("partial_"), "expected map-side combine")
    }
  }

  test("q359: the source predicate pushes into the ORC scan") {
    val p = plan(graft.queries.CorpusOps.q359OrcRoundtrip(spark, sfDir))
    assert(p.contains("PushedFilters") && p.contains("src0"),
      "expected the source filter inside the ORC scan node")
  }

  test("q363/q365: rollup windows and keyed BFS joins, no cartesian") {
    Seq(
      graft.queries.OpsAnalytics.q363SloBurnRate(spark, sfDir),
      graft.queries.GraphOps.q365HarmonicCentrality(spark, sfDir)
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"))
      assert(p.contains("partial_"), "expected map-side combine")
    }
  }

  test("q364: the lateral LIMIT decorrelates into a window, not re-execution") {
    val p = plan(graft.queries.SqlSurface.q364LateralTopn(spark, sfDir))
    assert(p.contains("Window") || p.contains("TakeOrdered"),
      "expected the correlated LIMIT rewritten to a per-key window")
    assert(!p.contains("CartesianProduct"),
      "lateral must not survive as a partitioned cartesian")
  }

  test("q366-q368: broadcast candidates, TakeOrdered tails, no cartesian") {
    val p366 = plan(graft.queries.VectorOps.q366BinaryAnn(spark, sfDir))
    assert(p366.contains("BroadcastNestedLoopJoin") ||
      p366.contains("BroadcastHashJoin"),
      "the bounded query set must broadcast against the word scan")
    assert(!p366.contains("CartesianProduct"))
    val p367 = plan(graft.queries.CorpusOps.q367HllCubeMargins(spark, sfDir))
    assert(p367.toLowerCase.contains("hll"), "expected sketch aggregates")
    assert(!p367.contains("CartesianProduct"))
    val p368 = plan(graft.queries.StatsOps.q368HillTail(spark, sfDir))
    assert(p368.contains("TakeOrdered"),
      "the top-k cut must be TakeOrderedAndProject, not a global sort")
    assert(!p368.contains("CartesianProduct"))
  }

  test("q369-q371: map-side rollups, broadcast cuts, no cartesian") {
    Seq(
      graft.queries.StatsOps.q369AnovaF(spark, sfDir),
      graft.queries.LayoutOps.q370RobustMeans(spark, sfDir),
      graft.queries.LlmText.q371BigramCondEntropy(spark, sfDir)
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"))
      assert(p.contains("partial_"), "expected map-side combine")
    }
    val p370 = plan(graft.queries.LayoutOps.q370RobustMeans(spark, sfDir))
    assert(p370.contains("BroadcastHashJoin"),
      "the |groups|-row cut table must broadcast onto the scan")
  }

  test("q372/q373: midranks on domain-bounded grids, no cartesian") {
    Seq(
      graft.queries.StatsOps.q372KruskalWallis(spark, sfDir),
      graft.queries.StatsOps.q373SpearmanRho(spark, sfDir)
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"))
      assert(p.contains("partial_"),
        "the fact must collapse map-side to the value grid")
    }
  }

  test("q374/q375/q376: grid pair join broadcasts; eval windows " +
    "partition by query; no cartesian anywhere") {
    val p374 = plan(graft.queries.StatsOps.q374KendallTau(spark, sfDir))
    assert(!p374.contains("CartesianProduct"))
    assert(p374.contains("BroadcastNestedLoop"),
      "the <=550-cell grid self-join must be a broadcast NL, not a " +
        "shuffled cartesian")
    assert(p374.contains("partial_"),
      "the fact must collapse map-side to the value grid")
    val p375 = plan(graft.queries.VectorOps.q375MapEval(spark, sfDir))
    assert(!p375.contains("CartesianProduct"))
    assert(p375.contains("LeftSemi"), "relevance must be a semi join")
    val p376 =
      plan(graft.queries.StatsOps.q376BrownForsythe(spark, sfDir))
    assert(!p376.contains("CartesianProduct"))
    // every window in q376 partitions by event_type over the bounded
    // grid — no unpartitioned ORDER-BY-only window may appear
    val winSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p376.toLowerCase).map(_.group(1)).toSeq
    assert(winSpecs.forall(_.contains("event_type")),
      s"unpartitioned window in q376: $winSpecs")
    assert(p376.contains("BroadcastHashJoin"),
      "the |groups|-row median table must broadcast onto the grid")
  }

  test("q377-q380: association/diagnostic stats collapse map-side; " +
    "day-series windows run on the bounded rollup only") {
    Seq(
      graft.queries.StatsOps.q377CramerTheil(spark, sfDir),
      graft.queries.StatsOps.q378CohenKappa(spark, sfDir),
      graft.queries.TemporalOps.q379DurbinWatson(spark, sfDir),
      graft.queries.TemporalOps.q380RunsTest(spark, sfDir)
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"))
      assert(p.contains("partial_"),
        "the fact must collapse map-side before any join/window")
    }
    // q379/q380's ORDER-BY-only windows are legal ONLY because they
    // run on the |days| rollup: the aggregation must sit BELOW the
    // window in the plan (rollup first, lag over the bounded series)
    Seq(
      graft.queries.TemporalOps.q379DurbinWatson(spark, sfDir),
      graft.queries.TemporalOps.q380RunsTest(spark, sfDir)
    ).foreach { df =>
      val opt = df.queryExecution.optimizedPlan
      def check(n: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Unit = n match {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
          // a GlobalRank window (partitioned by __pid over the pinned
          // rollup) is the stronger replacement for the bounded-rollup
          // argument — accept either shape
          val viaGlobalRank = w.partitionSpec.exists(
            _.references.exists(_.name == "__pid"))
          assert(viaGlobalRank || w.collectFirst {
            case a: org.apache.spark.sql.catalyst.plans.logical
              .Aggregate => a
          }.nonEmpty, "window must consume an aggregated day series")
          w.children.foreach(check)
        case other => other.children.foreach(check)
      }
      check(opt)
    }
  }

  test("q382-q384: spectrum/sample/fit shapes — capped rollup, no " +
    "one-task global window, map-side combine") {
    val p382 =
      plan(graft.queries.LlmText.q382WordlenSpectrum(spark, sfDir))
    assert(!p382.contains("CartesianProduct"))
    assert(p382.contains("partial_"),
      "the exploded token stream must collapse map-side")
    assert(p382.contains("BroadcastHashJoin"),
      "per-source totals must broadcast onto the bounded cells")
    // q383's global rank must come from GlobalRank (__pid-partitioned
    // windows), never an ORDER-BY-only window over the fact table
    val p383 = plan(
      graft.queries.TrainPrep.q383SystematicSample(spark, sfDir))
    val specs383 = "windowspecdefinition\\(([^,)]*)".r
      .findAllMatchIn(p383).map(_.group(1)).toSeq
    assert(specs383.nonEmpty && specs383.forall(_.startsWith("__pid")),
      s"q383 windows must partition on __pid, got: $specs383")
    val p384 = plan(graft.queries.StatsOps.q384GumbelFit(spark, sfDir))
    assert(p384.contains("partial_max") || p384.contains("partial_"),
      "block maxima must combine map-side")
  }

  test("q385-q388: PPR reuses the checkpointed edge partitioning; " +
    "assortativity joins move only (node, degree); windows " +
    "partition by key") {
    val p385 = plan(
      graft.queries.GraphOps.q385PersonalizedPagerank(spark, sfDir))
    assert(!p385.contains("CartesianProduct"))
    assert(p385.contains("Scan ExistingRDD"),
      "the edge table must come from the eager checkpoint (built once)")
    val p386 = plan(graft.queries.GraphOps.q386Assortativity(spark, sfDir))
    assert(!p386.contains("CartesianProduct"))
    assert(p386.contains("partial_"),
      "moments must combine map-side")
    val p387 = plan(graft.queries.StatsOps.q387ClusterDeff(spark, sfDir))
    assert(p387.contains("partial_"),
      "per-cluster moments must combine map-side")
    val p388 = plan(graft.queries.SqlSurface.q388WindowExtrema(spark, sfDir))
    val specs388 = "windowspecdefinition\\(([^,)]*)".r
      .findAllMatchIn(p388).map(_.group(1)).toSeq
    assert(specs388.nonEmpty &&
      specs388.forall(_.startsWith("event_type")),
      s"q388 windows must partition by event_type, got: $specs388")
  }

  test("q389-q391: sequential/ordered tests run on bounded rollups; " +
    "the user window partitions by user_id") {
    // q389's sequential walk and q390's cumulative grid: windows may
    // only consume aggregated (day / value-grid) series
    Seq(
      graft.queries.StatsOps.q389Sprt(spark, sfDir),
      graft.queries.StatsOps.q390Jonckheere(spark, sfDir)
    ).foreach { df =>
      val opt = df.queryExecution.optimizedPlan
      def check(n: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Unit = n match {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
          val viaGlobalRank = w.partitionSpec.exists(
            _.references.exists(_.name == "__pid"))
          assert(viaGlobalRank || w.collectFirst {
            case a: org.apache.spark.sql.catalyst.plans.logical
              .Aggregate => a
          }.nonEmpty, "window must consume an aggregated series")
          w.children.foreach(check)
        case other => other.children.foreach(check)
      }
      check(opt)
      assert(!plan(df).contains("CartesianProduct"))
    }
    val p391 = plan(
      graft.queries.EventAnalytics.q391FunnelCohortZ(spark, sfDir))
    val specs391 = "windowspecdefinition\\(([^,)]*)".r
      .findAllMatchIn(p391).map(_.group(1)).toSeq
    assert(specs391.nonEmpty && specs391.forall(_.startsWith("user_id")),
      s"q391's funnel window must partition by user_id, got: $specs391")
  }

  test("q393/q394: quantile grids and histograms collapse map-side; " +
    "cum windows partition by arm") {
    val p393 = plan(graft.queries.StatsOps.q393Qte(spark, sfDir))
    assert(!p393.contains("CartesianProduct"))
    assert(p393.contains("partial_"),
      "the fact must collapse to the per-arm value grid map-side")
    val specs393 = "windowspecdefinition\\(([^,)]*)".r
      .findAllMatchIn(p393).map(_.group(1)).toSeq
    assert(specs393.nonEmpty && specs393.forall(_.startsWith("arm")),
      s"q393 windows must partition by arm, got: $specs393")
    val p394 = plan(
      graft.queries.TrainPrep.q394ImportanceWeights(spark, sfDir))
    assert(!p394.contains("CartesianProduct"))
    assert(p394.contains("partial_"),
      "the document scan must collapse to the bin histogram map-side")
  }

  test("q395-q397: CDF/interim walks consume aggregated series; the " +
    "Heaps rollup collapses map-side") {
    Seq(
      graft.queries.StatsOps.q395CramerVonMises(spark, sfDir),
      graft.queries.StatsOps.q396ObfInterims(spark, sfDir)
    ).foreach { df =>
      val opt = df.queryExecution.optimizedPlan
      def check(n: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Unit = n match {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
          val viaGlobalRank = w.partitionSpec.exists(
            _.references.exists(_.name == "__pid"))
          assert(viaGlobalRank || w.collectFirst {
            case a: org.apache.spark.sql.catalyst.plans.logical
              .Aggregate => a
          }.nonEmpty, "window must consume an aggregated series")
          w.children.foreach(check)
        case other => other.children.foreach(check)
      }
      check(opt)
      assert(!plan(df).contains("CartesianProduct"))
    }
    val p397 = plan(graft.queries.LlmText.q397HeapsFit(spark, sfDir))
    assert(!p397.contains("CartesianProduct"))
    assert(p397.contains("partial_"),
      "the token stream must collapse map-side to per-source points")
  }

  test("q398-q400: per-user rollups collapse map-side; q400's P " +
    "permutations cost ONE aggregate, not P scans") {
    Seq(
      graft.queries.EventAnalytics.q398CaptureRecapture(spark, sfDir),
      graft.queries.StatsOps.q399DeltaRatio(spark, sfDir)
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"))
      assert(p.contains("partial_"), "expected map-side combine")
    }
    // the permutation test's defining scale property: one scan + one
    // aggregate regardless of P — count the aggregate nodes
    val opt = graft.queries.StatsOps.q400PermutationTest(spark, sfDir)
      .queryExecution.optimizedPlan
    val nAgg = opt.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size
    assert(nAgg <= 2, s"q400 must not fan out per permutation: $nAgg")
  }

  test("q401-q403: clip/lag/shrink shapes — grid windows on rollups, " +
    "top-K via TakeOrdered, map-side combines") {
    val p401 = plan(graft.queries.StatsOps.q401WinsorWelch(spark, sfDir))
    assert(!p401.contains("CartesianProduct"))
    assert(p401.contains("partial_"), "moments must combine map-side")
    val p402 = plan(graft.queries.TemporalOps.q402MaseEval(spark, sfDir))
    val opt402 = graft.queries.TemporalOps.q402MaseEval(spark, sfDir)
      .queryExecution.optimizedPlan
    opt402.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        assert(w.collectFirst {
          case a: org.apache.spark.sql.catalyst.plans.logical
            .Aggregate => a
        }.nonEmpty, "the lag window must consume the day rollup")
    }
    assert(p402.contains("partial_"))
    val p403 = plan(graft.queries.StatsOps.q403JamesStein(spark, sfDir))
    assert(p403.contains("TakeOrdered"),
      "the top-K user cut must be TakeOrderedAndProject, not a sort")
    assert(!p403.contains("CartesianProduct"))
  }

  test("q404-q406: one-scan cells, keyness windows partition by " +
    "source over the bounded rollup, bounded x7 anchor fanout") {
    val p404 = plan(graft.queries.StatsOps.q404McNemar(spark, sfDir))
    assert(p404.contains("partial_") && !p404.contains("CartesianProduct"))
    val p405 = plan(graft.queries.LlmText.q405LogOddsKeyness(spark, sfDir))
    val specs405 = "windowspecdefinition\\(([^,)]*)".r
      .findAllMatchIn(p405).map(_.group(1)).toSeq
    assert(specs405.nonEmpty && specs405.forall(_.startsWith("source")),
      s"q405 windows must partition by source, got: $specs405")
    assert(p405.contains("BroadcastHashJoin"),
      "vocab/source margins must broadcast onto the rollup")
    val p406 = plan(graft.queries.EventAnalytics.q406Stickiness(spark, sfDir))
    assert(!p406.contains("CartesianProduct"))
    assert(p406.contains("Expand") || p406.contains("Generate"),
      "the x7 anchor fanout must be a Generate, never a range join")
  }

  test("q325: the streaming state is a sketch aggregate, not a dedup") {
    // batch-side equivalent of the streaming plan: the aggregation
    // carries hll_sketch_agg, so state per group is one buffer
    val p = plan(graft.streaming.StreamSketch.windowedSketchDistinct(
      Tables(spark, sfDir).events))
    assert(p.toLowerCase.contains("hll"),
      "expected the mergeable sketch aggregate")
    assert(!p.contains("Deduplicate"),
      "sketch path must not hold per-key dedup state")
  }
}
