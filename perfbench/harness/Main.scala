package graftbench

import graft.{GraftSession, SparkEntry}
import java.nio.file.{Files, Paths}

/** Benchmark client: one JVM, one client thread, a closed loop of runs.
  *
  * Arguments are key=value pairs (see perfbench/run.py, which makes the
  * inputs, launches this main and turns its result file into metrics):
  *   workload  nbody6-ingest | driver-mix
  *   seconds   length of the measured loop
  *   trace     0: untraced runs; 1: traced iterations for layer figures
  *             (see the loop below)
  *   seed      the run's seed; in a traced run its parity decides
  *             whether the untraced or the traced run goes first
  *   launched  epoch ms at which the JVM was launched
  *   out       result file (JSON)
  * plus the workload's inputs: tree, manifest, tree_bytes, work (NBODY6);
  * data, queries, heavy (driver-mix); oracle (optional: write the
  * mix's oracle SQL there and exit).
  */
object Main {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val entered = System.currentTimeMillis()
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workloadName = a("workload")
    val trace = a.getOrElse("trace", "0") == "1"
    val seconds = a.getOrElse("seconds", "10").toDouble
    val bootS = (entered - a("launched").toLong) / 1e3

    val queries = a.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    if (a.contains("oracle")) {
      val sql = SparkEntry.oracleSql
      Files.writeString(Paths.get(a("oracle")), Json.obj(queries.filter(sql.contains)
        .map(q => q -> Json.str(sql(q)))))
      return
    }

    val heavy = a.get("heavy").map(_.split(",").toSeq).getOrElse(Nil)
    val workload: Workload = workloadName match {
      case "nbody6-ingest" =>
        new Ingest(a("tree"), s"${a("work")}/ingested", Manifest.load(a("manifest")))
      case "driver-mix" => new DriverMix(queries, a("data"), heavy)
      case other => sys.error(s"unknown workload $other")
    }

    val probe = new Probe
    val t0 = System.nanoTime()
    val spark = GraftSession.getOrCreate("graftbench")
    val sc = spark.sparkContext
    if (trace) sc.addSparkListener(probe)
    // One small generic query, so the first timed call does not also pay
    // Spark SQL's one-time initialization.
    spark.range(0, 200000, 1, 4).selectExpr("id % 101 AS k", "id AS v")
      .groupBy("k").sum("v").collect()
    workload.prepare(spark)
    Staging.release(spark)
    val setupS = bootS + (System.nanoTime() - t0) / 1e9

    val calls = Seq.newBuilder[Call]
    val runS = Seq.newBuilder[Double]
    val layerSamples = Seq.newBuilder[Map[String, Double]]
    // release what a run left persisted, so runs do not interact; the
    // storage left behind is returned first (spark.pinned_mb_end)
    def endRun(): Double = {
      val pinnedMb = Probe.pinnedMb(sc)
      Staging.release(spark)
      System.gc()
      pinnedMb
    }
    // check a run's calls, outside its timing, and keep them; returns
    // the run's time
    def record(raw: Seq[Call]): Double = {
      val cs = workload.check(spark, raw)
      calls ++= cs
      cs.map(_.seconds).sum
    }
    val tracedFirst = a.getOrElse("seed", "0").toLong % 2 == 1
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do {
      if (!trace) {
        runS += record(workload.run(spark))
        endRun()
      } else {
        // A traced iteration. First the staged run: it takes the place
        // the untraced benchmark's first run takes, so on nbody6-ingest
        // its spans are as cold as that run. Then the same plain run
        // twice, once with the probe attached (the source of the spark.*,
        // tables.* and sources.read_amplification figures) and once with
        // it removed, in an order the seed's parity fixes; their
        // difference is trace.overhead_s.
        val (staged, w) = probe.window(sc, "staged")(workload.staged(spark))
        calls ++= staged.calls
        endRun()
        def traced(): (Double, Window, Double) = {
          val (raw, plain) = probe.window(sc, "run")(workload.run(spark))
          (record(raw), plain, endRun())
        }
        def bare(): Double = {
          sc.removeSparkListener(probe)
          try { val s = record(workload.run(spark)); endRun(); s }
          finally sc.addSparkListener(probe)
        }
        val ((run, plain, pinnedMb), bareS) =
          if (tracedFirst) { val t = traced(); (t, bare()) }
          else { val u = bare(); (traced(), u) }
        runS += run
        layerSamples += Layers.from(plain, w, staged.figures, run, bareS, pinnedMb,
          a.get("tree_bytes").map(_.toDouble), queries.size)
      }
    } while (System.nanoTime() < deadline)

    val all = calls.result()
    val layers = {
      val samples = layerSamples.result()
      samples.headOption.map(_.keys).getOrElse(Nil)
        .map(k => k -> median(samples.map(_(k)))).toMap
    }
    spark.stop()
    Files.writeString(Paths.get(a("out")), Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "run_s" -> Json.arr(runS.result().map(Json.num)),
      "calls" -> Json.arr(all.map(c => Json.obj(Seq("name" -> Json.str(c.name),
        "s" -> Json.num(c.seconds), "ok" -> c.ok.toString, "error" -> Json.str(c.error)) ++
        c.digest.toSeq.flatMap { case (rows, hash) =>
          Seq("rows" -> rows.toString, "hash" -> Json.str(hash)) }))),
      "items" -> Json.num(workload.items),
      "peak_rss_mb" -> Json.num(Probe.peakRssMb()),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))))
    // streaming queries may leave non-daemon threads behind
    System.exit(0)
  }
}

/** Layer figures of one traced iteration: `plain` is a window around a
  * plain run under the probe that took `runS`, against `bareS` for the
  * same run without it; `w` is a window around the staged run that
  * produced `staged`. A layer a workload does not use reports 0.
  */
object Layers {
  def from(plain: Window, w: Window, staged: Map[String, Double], runS: Double,
      bareS: Double, pinnedMb: Double, treeBytes: Option[Double], nQueries: Int): Map[String, Double] = {
    val p = plain.sum()
    val build = w.sum("build:")
    val assembler = w.sum("assembler")
    val observer = w.sum("observer")
    Map(
      "spark.jobs" -> p.jobs.toDouble,
      "spark.stages" -> p.stages.toDouble,
      "spark.tasks" -> p.tasks.toDouble,
      "spark.task_cpu_s" -> p.cpuNs / 1e9,
      "spark.parallelism" -> p.runMs / 1e3 / runS,
      "spark.single_task_stage_frac" ->
        (if (p.stages == 0) 0.0 else p.singleTaskStages.toDouble / p.stages),
      "spark.gc_s" -> plain.gcS,
      "spark.shuffle_write_mb" -> p.shuffleWriteBytes / 1e6,
      "spark.spill_mb" -> p.spillBytes / 1e6,
      "spark.pinned_mb_end" -> pinnedMb,
      "sources.read_amplification" -> treeBytes.map(plain.fsReadBytes / _).getOrElse(0.0),
      "assembler.jobs" -> assembler.jobs.toDouble,
      "assembler.shuffle_write_mb" -> assembler.shuffleWriteBytes / 1e6,
      "observer.jobs" -> observer.jobs.toDouble,
      "observer.shuffle_write_mb" -> observer.shuffleWriteBytes / 1e6,
      "tables.schema_jobs" -> p.tablesSchemaJobs.toDouble,
      "tables.schema_s" -> p.tablesSchemaMs / 1e3,
      "queries.build_jobs" -> build.jobs.toDouble,
      "queries.jobs_per_query" -> (if (nQueries == 0) 0.0 else p.jobs.toDouble / nQueries),
      "operators.jobs" -> build.operatorJobs.toDouble,
      "trace.overhead_s" -> (runS - bareS)) ++ staged
  }
}

/** Just enough JSON for the result file. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
