package graftbench

import graft.SparkEntry
import graft.pipeline.{Assembled, Observed, PseudoObserver, SnapshotAssembler, SnapshotStats}
import graft.sources.NBody6
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** One timed call into the program: its latency and whether it passed
  * (did not throw, and its output passed the check).
  */
final case class Call(name: String, seconds: Double, ok: Boolean, error: String = "",
    digest: Option[(Long, String)] = None)

object Call {
  /** Time one call; a throw is recorded as a failed call. */
  def timed[T](name: String)(body: => T): (Call, Option[T]) = {
    val t0 = System.nanoTime()
    try {
      val out = body
      (Call(name, (System.nanoTime() - t0) / 1e9, ok = true), Some(out))
    } catch {
      case e: Throwable =>
        (Call(name, (System.nanoTime() - t0) / 1e9, ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)), None)
    }
  }

  def failIf(c: Call, problem: Option[String]): Call =
    problem.fold(c)(p => c.copy(ok = false, error = p.take(300)))
}

/** A workload: calls issued one after another from one client thread.
  *
  * `run` is one timed run; `check` then verifies its outputs outside
  * the timing. `staged` is the traced variant: each layer's inputs are
  * materialized before that layer's span, so a span times that layer
  * alone.
  */
trait Workload {
  /** Work items per run, for stars_per_s. */
  def items: Double
  def prepare(spark: SparkSession): Unit = ()
  def run(spark: SparkSession): Seq[Call]
  def check(spark: SparkSession, calls: Seq[Call]): Seq[Call] = calls
  def staged(spark: SparkSession): Staged
}

/** What a staged run returns: its layer figures, and its calls with
  * their outputs already checked.
  */
final case class Staged(figures: Map[String, Double], calls: Seq[Call])

object Staging {
  def pin(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_ONLY)

  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Part files and their bytes under a written table directory. */
  def written(dir: String): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      val parts = files.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
      (parts.size.toLong, parts.map(p => java.nio.file.Files.size(p)).sum)
    } finally files.close()
  }
}

/** nbody6-ingest: NBody6.read* -> SnapshotAssembler.assemble ->
  * SnapshotStats.writePartitioned over a generated survey tree. Its
  * staged run goes on to analyse the tables it wrote (Analysis), which
  * measures the PseudoObserver and SnapshotStats layers.
  */
final class Ingest(tree: String, out: String, manifest: Manifest) extends Workload {
  def items: Double = manifest.starRows.toDouble

  private def read(spark: SparkSession): Seq[DataFrame] = {
    val (o34h, o34d) = NBody6.readOut34(spark, s"$tree/*/OUT34")
    val (_, o9d) = NBody6.readOut9(spark, s"$tree/*/OUT9")
    val (_, f82d) = NBody6.readFort82(spark, s"$tree/*/fort.82")
    val (_, f83d) = NBody6.readFort83(spark, s"$tree/*/fort.83")
    val (_, f19d) = NBody6.readFort19(spark, s"$tree/*/fort.19")
    val dcH = NBody6.readDensCentre(spark, s"$tree/*/densCentre.txt")
    Seq(o34h, o34d, o9d, f82d, f83d, f19d, dcH)
  }

  private def assemble(in: Seq[DataFrame]): Assembled = {
    val Seq(o34h, o34d, o9d, f82d, f83d, f19d, dcH) = in
    SnapshotAssembler.assemble(o34h, o34d, o9d, f82d, f83d, f19d, dcH)
  }

  def run(spark: SparkSession): Seq[Call] =
    Seq(Call.timed("ingest")(
      SnapshotStats.writePartitioned(assemble(read(spark)), out))._1)

  override def check(spark: SparkSession, calls: Seq[Call]): Seq[Call] =
    calls.map(c => if (!c.ok) c else Call.failIf(c, manifest.checkWritten(spark, out)))

  def staged(spark: SparkSession): Staged = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val (in, parseS) = Probe.span(sc, "sources") {
      val frames = read(spark).map(Staging.pin)
      frames.foreach(_.count())
      frames
    }
    val rowsOut = in.map(_.count()).sum
    val tasksPerReader = in.map(_.rdd.getNumPartitions).sum.toDouble / in.size
    val (asm, asmS) = Probe.span(sc, "assembler") {
      val a = assemble(in)
      val pinned = Assembled(Staging.pin(a.stars), Staging.pin(a.binaries),
        Staging.pin(a.headers))
      Seq(pinned.stars, pinned.binaries, pinned.headers).foreach(_.count())
      pinned
    }
    val (_, writeS) = Probe.span(sc, "writer")(SnapshotStats.writePartitioned(asm, out))
    val ingest = check(spark, Seq(Call("staged:ingest", (System.nanoTime() - t0) / 1e9, ok = true)))
    val (files, bytes) = Staging.written(out)
    Staging.release(spark)
    val analysis = new Analysis(out, manifest).staged(spark)
    Staged(analysis.figures ++ Map(
      "sources.parse_s" -> parseS, "sources.tasks_per_reader" -> tasksPerReader,
      "sources.rows_out" -> rowsOut.toDouble, "assembler.s" -> asmS,
      "writer.s" -> writeS, "writer.mb_written" -> bytes / 1e6,
      "writer.files" -> files.toDouble), ingest ++ analysis.calls)
  }
}

/** The analysis stages, staged: Assembled.load -> PseudoObserver.observeAll
  * at the manifest's coordinates -> SnapshotStats on observed and
  * assembled tables, over tables the ingest path wrote. Each collected
  * statistics table is checked against the manifest, outside the spans.
  */
final class Analysis(tables: String, manifest: Manifest) {
  private def timeAligned(asm: Assembled): DataFrame =
    SnapshotStats.timeAlign(SnapshotStats.overallStats(asm)
      .select("sim_id", "time", "n_star", "total_mass"))

  def staged(spark: SparkSession): Staged = {
    val sc = spark.sparkContext
    val (asm, _) = Probe.span(sc, "load") {
      val a = Assembled.load(spark, tables)
      val pinned = Assembled(Staging.pin(a.stars), Staging.pin(a.binaries),
        Staging.pin(a.headers))
      Seq(pinned.stars, pinned.binaries, pinned.headers).foreach(_.count())
      pinned
    }
    val (obs, observerS) = Probe.span(sc, "observer") {
      val o = PseudoObserver.observeAll(asm, manifest.coords)
      val pinned = Observed(Staging.pin(o.stars), Staging.pin(o.binaries))
      pinned.stars.count(); pinned.binaries.count()
      pinned
    }
    val byName = Map[String, () => DataFrame](
      "overall_observed" -> (() => SnapshotStats.overallStats(obs, asm.headers)),
      "annular_observed" -> (() => SnapshotStats.annularStats(obs)),
      "overall_assembled" -> (() => SnapshotStats.overallStats(asm)),
      "annular_assembled" -> (() => SnapshotStats.annularStats(asm)),
      "inclinations" -> (() => SnapshotStats.inclinations(asm)),
      "time_align" -> (() => timeAligned(asm)))
    var results = Seq.empty[(Call, Option[Array[Row]])]
    def spanOf(label: String, names: String*): Double = Probe.span(sc, label) {
      results ++= names.map(n => Call.timed(n)(byName(n)().collect()))
    }._2
    val overallObs = spanOf("stats.overall_observed", "overall_observed")
    val annularObs = spanOf("stats.annular_observed", "annular_observed")
    val assembled = spanOf("stats.assembled",
      "overall_assembled", "annular_assembled", "inclinations", "time_align")
    Staging.release(spark)
    val calls = results.map { case (c, rows) =>
      rows.fold(c)(r => Call.failIf(c, manifest.checkStats(c.name, r)))
    }
    Staged(Map("observer.s" -> observerS, "stats.overall_observed_s" -> overallObs,
      "stats.annular_observed_s" -> annularObs, "stats.assembled_s" -> assembled), calls)
  }
}

/** driver-mix: a fixed list of SparkEntry queries, in a seeded order.
  * Each call builds the query's frame and collects its result, which
  * forces every column; the result's row count and value hash
  * (Digest) go back to perfbench/run.py for the output check.
  */
final class DriverMix(queries: Seq[String], dataDir: String, heavy: Seq[String])
    extends Workload {
  def items: Double = queries.size.toDouble

  private def fn(q: String) = SparkEntry.queries(q)

  /** Set-up runs the mix once, untimed: the mix stands for a session
    * that serves queries, so its timed passes run warm.
    */
  override def prepare(spark: SparkSession): Unit = run(spark)

  private def collect(df: DataFrame): (Seq[String], Array[Row]) = (df.columns.toSeq, df.collect())

  def run(spark: SparkSession): Seq[Call] = queries.map { q =>
    val (c, out) = Call.timed(q)(collect(fn(q)(spark, dataDir)))
    c.copy(digest = out.map { case (cols, rows) => Digest.of(cols, rows) })
  }

  def staged(spark: SparkSession): Staged = {
    val sc = spark.sparkContext
    val per = queries.map { q =>
      val (c, out) = Call.timed(q) {
        val (df, buildS) = Probe.span(sc, s"build:$q")(fn(q)(spark, dataDir))
        val (_, planS) = Probe.span(sc, s"plan:$q")(df.queryExecution.executedPlan)
        val (res, execS) = Probe.span(sc, s"exec:$q")(collect(df))
        (Seq(buildS, planS, execS), res)
      }
      val spans = out.map(_._1).getOrElse(Seq(0.0, 0.0, 0.0))
      (q.takeWhile(_ != '_'), spans,
        c.copy(digest = out.map { case (_, (cols, rows)) => Digest.of(cols, rows) }))
    }
    val figures = Map("queries.build_s" -> per.map(_._2(0)).sum,
      "queries.plan_s" -> per.map(_._2(1)).sum,
      "queries.exec_s" -> per.map(_._2(2)).sum) ++
      per.filter(p => heavy.contains(p._1)).flatMap { case (q, spans, _) =>
        Seq(s"query.$q.build_s" -> spans(0), s"query.$q.exec_s" -> spans(2))
      }
    Staged(figures, per.map(_._3))
  }
}

/** Row count and value hash of a query result, rendered exactly like
  * perfbench/canon.py renders the same values read back from parquet or
  * fetched from DuckDB: columns in name order; NULL and NaN as "None";
  * doubles as %.6f of their exact binary value; booleans as True/False;
  * everything else by toString. Rendered rows are sorted by their UTF-8
  * bytes (Python's code-point order) and hashed with SHA-256.
  */
object Digest {
  private val SEP = "\u001f"

  def render(v: Any): String = v match {
    case null => "None"
    case d: Double => fixed6(d)
    case f: Float => fixed6(f.toDouble)
    case b: Boolean => if (b) "True" else "False"
    case other => other.toString
  }

  private def fixed6(d: Double): String =
    if (d.isNaN) "None"
    else {
      val neg = d < 0 || (d == 0 && 1 / d < 0)
      val s = new java.math.BigDecimal(math.abs(d))
        .setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString
      if (neg) "-" + s else s
    }

  private val utf8Order: Ordering[Array[Byte]] = (a: Array[Byte], b: Array[Byte]) =>
    java.util.Arrays.compareUnsigned(a, b)

  def of(cols: Seq[String], rows: Array[Row]): (Long, String) = {
    val order = cols.indices.sortBy(cols(_))
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString(SEP)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)).sorted(utf8Order)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(cols.sorted.mkString(SEP).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    lines.foreach { l => md.update('\n'.toByte); md.update(l) }
    (rows.length.toLong, md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString)
  }
}
