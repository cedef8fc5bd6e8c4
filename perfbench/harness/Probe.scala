package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._

/** Counters for one span: everything the listener saw for the jobs
  * that started while the span's label was set on the client thread.
  */
final class Counters {
  var jobs, stages, singleTaskStages, tasks = 0L
  var cpuNs, runMs, shuffleWriteBytes, spillBytes = 0L
  var tablesSchemaJobs, tablesSchemaMs, operatorJobs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; singleTaskStages += o.singleTaskStages
    tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    tablesSchemaJobs += o.tablesSchemaJobs; tablesSchemaMs += o.tablesSchemaMs
    operatorJobs += o.operatorJobs
  }
}

/** What one measured window saw from outside the program: wall time,
  * per-span listener counters, local file-system bytes read and JVM GC
  * time.
  */
final case class Window(
    wallS: Double, spans: Map[String, Counters], fsReadBytes: Long, gcS: Double) {

  /** Counters summed over the spans whose label starts with `prefix`. */
  def sum(prefix: String = ""): Counters = {
    val c = new Counters
    spans.collect { case (k, v) if k.startsWith(prefix) => c += v }
    c
  }
}

/** The benchmark's own SparkListener. Jobs are attributed to the span
  * label the client thread carried when the job started (a Spark local
  * property, inherited by the threads Spark starts on its behalf);
  * stages and tasks follow their job.
  */
final class Probe extends SparkListener {
  private val spans = new ConcurrentHashMap[String, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val tablesJobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val executionCaller = new ConcurrentHashMap[String, String]()

  private def counters(span: String): Counters =
    spans.computeIfAbsent(span, _ => new Counters)

  /** First stack frame outside Spark and Scala in a stage's call site. */
  private def callerFrame(details: String): String =
    details.linesIterator.map(_.trim)
      .find(l => !l.startsWith("org.apache.spark.") && !l.startsWith("scala."))
      .getOrElse("")

  /** A SQL execution's call site is taken on the thread that started it;
    * its jobs may run on Spark's own threads (adaptive query stages), so
    * a job's caller is looked up through its execution id.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionCaller.put(s.executionId.toString, callerFrame(s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Probe.SPAN).getOrElse(Probe.NONE)
    e.stageInfos.foreach(s => stageSpan.put(s.stageId, span))
    val tables = e.stageInfos.exists(_.name.startsWith("parquet at Tables.scala:"))
    val caller = prop("spark.sql.execution.id").flatMap(id => Option(executionCaller.get(id)))
      .orElse(e.stageInfos.headOption.map(s => callerFrame(s.details))).getOrElse("")
    val operators = caller.startsWith("graft.operators.")
    if (tables) tablesJobStart.put(e.jobId, (span, e.time))
    synchronized {
      val c = counters(span)
      c.jobs += 1
      if (tables) c.tablesSchemaJobs += 1
      if (operators) c.operatorJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(tablesJobStart.remove(e.jobId)).foreach { case (span, t0) =>
      synchronized { counters(span).tablesSchemaMs += e.time - t0 }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    synchronized {
      val c = counters(stageSpan.getOrDefault(s.stageId, Probe.NONE))
      c.stages += 1
      if (s.numTasks == 1) c.singleTaskStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val c = counters(stageSpan.getOrDefault(e.stageId, Probe.NONE))
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }

  private def reset(): Unit = synchronized {
    spans.clear(); stageSpan.clear(); tablesJobStart.clear(); executionCaller.clear()
  }

  private def snapshot(): Map[String, Counters] = synchronized {
    spans.asScala.toMap.map { case (k, v) => k -> { val c = new Counters; c += v; c } }
  }

  /** Run `body` as one measured window. Inside it, `span(label)` sets
    * the label later jobs are attributed to.
    */
  def window[T](sc: SparkContext, label: String)(body: => T): (T, Window) = {
    BenchBus.drain(sc)
    reset()
    val (r0, g0) = (Probe.fsRead, Probe.gcMs)
    sc.setLocalProperty(Probe.SPAN, label)
    val t0 = System.nanoTime()
    val out = try body finally sc.setLocalProperty(Probe.SPAN, null)
    val wall = (System.nanoTime() - t0) / 1e9
    BenchBus.drain(sc)
    (out, Window(wall, snapshot(), Probe.fsRead - r0, (Probe.gcMs - g0) / 1e3))
  }
}

object Probe {
  val SPAN = "graftbench.span"
  val NONE = "-"

  def span[T](sc: SparkContext, label: String)(body: => T): (T, Double) = {
    val prev = sc.getLocalProperty(SPAN)
    sc.setLocalProperty(SPAN, label)
    val t0 = System.nanoTime()
    try (body, (System.nanoTime() - t0) / 1e9)
    finally sc.setLocalProperty(SPAN, prev)
  }

  def fsRead: Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Storage still held by persisted RDDs. */
  def pinnedMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
