package graft

import graft.pipeline.{Assembled, PseudoObserver, SnapshotAssembler, SnapshotStats}
import graft.sources.NBody6
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class SnapshotStatsSpec extends SparkSpec {
  import NBody6Fixtures._

  private lazy val fixtures = {
    val d = Files.createTempDirectory("nbody6_stats_fixtures")
    NBody6Fixtures.write(d)
    d.toString
  }

  /** Fresh frames over the fixture files: each call plans anew. */
  private def assembleFixtures(): Assembled = {
    val g = fixtures
    val (o34h, o34d) = NBody6.readOut34(spark, s"$g/*/OUT34")
    val (_, o9d) = NBody6.readOut9(spark, s"$g/*/OUT9")
    val (_, f82d) = NBody6.readFort82(spark, s"$g/*/fort.82")
    val (_, f83d) = NBody6.readFort83(spark, s"$g/*/fort.83")
    val (_, f19d) = NBody6.readFort19(spark, s"$g/*/fort.19")
    val dcH = NBody6.readDensCentre(spark, s"$g/*/densCentre.txt")
    SnapshotAssembler.assemble(o34h, o34d, o9d, f82d, f83d, f19d, dcH)
  }

  private lazy val assembled = assembleFixtures()

  test("overall stats: one row per snapshot, masked counts consistent") {
    val s = SnapshotStats.overallStats(assembled)
    assert(s.count() == SIMS.size * TIMES.size)
    val r = s.filter(col("sim_id") === "simA" && col("time") === 12.5).collect().head
    assert(r.getAs[Long]("n_star") == 11L)
    assert(r.getAs[Long]("n_binary_star") == 5L)  // 3,4,5,11,12
    assert(r.getAs[Long]("within_r_tidal_n_star") <= r.getAs[Long]("n_star"))
    assert(r.getAs[Long]("n_binary_system") == 3L)
    val expectedTotal = (1 to 9).map(starMass).sum + starMass(11) + starMass(12)
    assert(math.abs(r.getAs[Double]("total_mass") - expectedTotal) < 1e-9)
    // mass quantile pack is ordered
    val q = Seq("mass_min", "mass_q1", "mass_median", "mass_q3", "mass_max")
      .map(r.getAs[Double])
    assert(q == q.sorted)
  }

  test("observed-snapshot stats carry unresolved counts (single coordinate)") {
    val obs = PseudoObserver.observe(assembled, (100.0, 200.0, 300.0))
    val s = SnapshotStats.overallStats(obs, assembled.headers)
    assert(!s.columns.contains("obs_coord"))
    assert(s.count() == SIMS.size * TIMES.size)
    val r = s.filter(col("sim_id") === "simA" && col("time") === 12.5).collect().head
    // at ~374 pc only the tight regularized pair is unresolved (ObserverSpec)
    assert(r.getAs[Long]("n_unresolved_binary_system") == 1L)
    assert(r.getAs[Long]("n_binary_system") == 3L)
    // observed star catalog: 6 singles + 5 resolved members + 1 merged
    assert(r.getAs[Long]("n_star") == 12L)
    assert(r.getAs[Long]("within_r_tidal_n_star") <= r.getAs[Long]("n_star"))
  }

  test("observed-snapshot stats group per coordinate under observeAll") {
    val coords = Seq((100.0, 200.0, 300.0), (10000.0, 0.0, 0.0))
    val obs = PseudoObserver.observeAll(assembled, coords)
    val s = SnapshotStats.overallStats(obs, assembled.headers)
    assert(s.count() == coords.size * SIMS.size * TIMES.size)
    def unresolvedAt(tag: String): Long =
      s.filter(col("obs_coord") === tag &&
        col("sim_id") === "simA" && col("time") === 12.5)
        .collect().head.getAs[Long]("n_unresolved_binary_system")
    val near = unresolvedAt("100.0,200.0,300.0")
    val far = unresolvedAt("10000.0,0.0,0.0")
    assert(near == 1L)
    // moving the observer 27x farther can only blur more systems together
    assert(far >= near)
  }

  test("annular stats over observed tables count unresolved systems") {
    val obs = PseudoObserver.observe(assembled, (100.0, 200.0, 300.0))
    val a = SnapshotStats.annularStats(obs)
    assert(a.columns.contains("n_unresolved_binary_system"))
    val tot = a.filter(col("sim_id") === "simA" && col("time") === 12.5 &&
      col("dist_key") === "dist_dc_r_tidal")
      .agg(sum("n_unresolved_binary_system")).collect().head.getLong(0)
    assert(tot == 1L)   // the tight 11+12 pair (ObserverSpec)
  }

  test("annular stats: ring counts per dist key sum to star count") {
    val a = SnapshotStats.annularStats(assembled)
    val sums = a.groupBy("sim_id", "time", "dist_key").agg(sum("n_star").as("n"))
    assert(sums.filter(col("n") =!= 11).count() == 0)
    assert(a.filter(col("n_single") + col("n_binary_star") =!= col("n_star")).count() == 0)
    assert(a.select("dist_key").distinct().count() == 2)
  }

  test("inclinations computed for atomic-sided binaries only") {
    val inc = SnapshotStats.inclinations(assembled)
    val pairs = inc.filter(col("sim_id") === "simA" && col("time") === 12.5)
      .select("pair").collect().map(_.getString(0)).toSet
    assert(pairs == Set("3+4", "11+12"))  // triple has a composite side
    assert(inc.filter(col("incl_rad") < 0 || col("incl_rad") > math.Pi).count() == 0)
  }

  test("time alignment produces a dense grid with forward fill") {
    val stats = SnapshotStats.overallStats(assembled)
      .select("sim_id", "time", "n_star", "total_mass")
    val aligned = SnapshotStats.timeAlign(stats, step = 1.0)
    // grid spans ceil(12.5)=13 .. ceil(25)=25 per sim => 13 rows
    val perSim = aligned.groupBy("sim_id").count().select("count").distinct().collect()
    assert(perSim.length == 1 && perSim.head.getLong(0) == 13L)
    // every grid point after the first snapshot carries values
    assert(aligned.filter(col("n_star").isNull).count() == 0)
    // value at grid 20 is the t=12.5 snapshot's (forward-filled)
    val v = aligned.filter(col("sim_id") === "simA" && col("grid_time") === 20.0)
      .select("n_star").collect().head.getLong(0)
    assert(v == 11L)
  }

  test("partitioned write round-trips through Assembled.load with pruning") {
    val out = Files.createTempDirectory("graft_partitioned").toString
    SnapshotStats.writePartitioned(assembled, out)
    val loaded = Assembled.load(spark, out)
    assert(loaded.stars.count() == assembled.stars.count())
    assert(loaded.binaries.count() == assembled.binaries.count())
    assert(loaded.headers.count() == assembled.headers.count())
    val pruned = loaded.stars.filter(col("sim_id") === "simA")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("sim_id"),
      "expected partition pruning on sim_id")
    assert(pruned.count() == assembled.stars.filter(col("sim_id") === "simA").count())
    // stats over the loaded tables == stats over the original tables
    // (tolerance compare: streaming stddev merges are partition-order
    // sensitive in the last ulps, so bit-exact exceptAll would flake)
    val a = SnapshotStats.overallStats(assembled)
    def keyed(df: DataFrame) =
      df.select(a.columns.map(col): _*).collect()
        .map(r => (r.getAs[String]("sim_id"), r.getAs[Double]("time")) -> r).toMap
    val aRows = keyed(a)
    val bRows = keyed(SnapshotStats.overallStats(loaded))
    assert(aRows.keySet == bRows.keySet)
    aRows.foreach { case (k, ar) =>
      val br = bRows(k)
      a.columns.foreach { cn =>
        (ar.getAs[Any](cn), br.getAs[Any](cn)) match {
          case (x: Double, y: Double) =>
            assert(x == y || math.abs(x - y) <=
              1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y))),
              s"$k $cn: $x != $y after round-trip")
          case (x, y) => assert(x == y, s"$k $cn: $x != $y after round-trip")
        }
      }
    }
  }

  /** A frame's rows in the given column order, rendered and sorted. */
  private def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq

  test("partitioned write pins only within the call and writes the frames' rows") {
    val a = assembleFixtures()
    val out = Files.createTempDirectory("graft_write_scope").toString
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    SnapshotStats.writePartitioned(a, out)
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore,
      "the writer left persisted RDDs behind")
    Seq(a.stars, a.binaries, a.headers).foreach(df =>
      assert(df.storageLevel == StorageLevel.NONE, "the writer left a frame cached"))
    val loaded = Assembled.load(spark, out)
    Seq(("stars", a.stars, loaded.stars), ("binaries", a.binaries, loaded.binaries),
      ("headers", a.headers, loaded.headers)).foreach { case (name, frame, back) =>
      assert(rows(back, frame.columns.toSeq) == rows(frame, frame.columns.toSeq),
        s"$name read back differs from the unpinned frame")
    }
  }

  test("partitioned write keeps a frame the caller pinned") {
    val a = assembleFixtures()
    val out = Files.createTempDirectory("graft_write_pinned").toString
    a.stars.persist(StorageLevel.MEMORY_ONLY)
    try {
      SnapshotStats.writePartitioned(a, out)
      assert(a.stars.storageLevel == StorageLevel.MEMORY_ONLY)
      assert(a.binaries.storageLevel == StorageLevel.NONE)
      assert(Assembled.load(spark, out).binaries.count() == a.binaries.count())
    } finally a.stars.unpersist(blocking = true)
  }

  test("timestamp stats: count/min/max/mean-step per sim") {
    val ts = SnapshotStats.timestampStats(assembled.headers)
    assert(ts.count() == SIMS.size)
    val r = ts.filter(col("sim_id") === "simA").collect().head
    assert(r.getAs[Long]("count") == TIMES.size.toLong)
    assert(r.getAs[Double]("min") == TIMES.min)
    assert(r.getAs[Double]("max") == TIMES.max)
    assert(r.getAs[Double]("step") == 12.5)   // mean diff of (12.5, 25.0)
  }

  test("ensembleStats aggregates realizations per attr group like the notebook") {
    import spark.implicits._
    import graft.sources.Loader
    // two mass levels x three realizations, one metric
    val perSim = Seq(
      (8, 1, 0.0, 10.0), (8, 2, 0.0, 12.0), (8, 3, 0.0, 14.0),
      (3, 1, 0.0, 2.0), (3, 2, 0.0, 4.0), (3, 3, 0.0, 6.0))
      .toDF("init_mass_lv", "init_pos", "time", "n_star")
    val agg = SnapshotStats.ensembleStats(
      perSim, Seq("init_mass_lv", "time"), Seq("n_star"))
      .collect().map(r => r.getInt(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(agg(8)._1 == 12.0 && agg(3)._1 == 4.0)
    assert(math.abs(agg(8)._2 - 2.0) < 1e-12, "sample std of 10,12,14 is 2")
    assert(agg(8)._3 == 12.0 && agg(3)._3 == 4.0, "median")

    // attrs flow: withSimAttrs output feeds ensembleStats directly
    val sims = Seq(
      (Map("init_mass_lv" -> 8, "init_pos" -> 1), 10.0),
      (Map("init_mass_lv" -> 8, "init_pos" -> 2), 12.0))
    val tagged = sims.map { case (attrs, v) =>
      Loader.withSimAttrs(Seq((0.0, v)).toDF("time", "n_star"), attrs)
    }.reduce(_ unionByName _)
    val out = SnapshotStats.ensembleStats(
      tagged, Seq("init_mass_lv", "time"), Seq("n_star")).collect()
    assert(out.length == 1 && out.head.getDouble(2) == 11.0)
  }
}
