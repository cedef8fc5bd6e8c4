package graft

import graft.streaming.{Replay, SessEvent, SessionOut, StreamSessionize}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StreamSessionizeSpec extends SparkSpec {

  private val GAP_MIN = 30

  /** Reference sessions computed directly from collected events. */
  private def expectedSessions(): Seq[SessionOut] = {
    val rows = Tables(spark, sfDir).events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    rows.groupBy(_._1).toSeq.flatMap { case (user, evs) =>
      val sorted = evs.sortBy(e => (e._2, e._3))
      val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
      var cur: Option[SessState2] = None
      sorted.foreach { case (_, ts, v) =>
        cur = cur match {
          case Some(s) if ts - s.last <= StreamSessionize.gapUs(GAP_MIN) =>
            Some(SessState2(s.start, ts, s.n + 1, s.sum + v))
          case Some(s) =>
            out += SessionOut(user, s.start, s.last, s.n, s.sum); Some(SessState2(ts, ts, 1, v))
          case None => Some(SessState2(ts, ts, 1, v))
        }
      }
      cur.foreach(s => out += SessionOut(user, s.start, s.last, s.n, s.sum))
      out.toSeq
    }
  }
  private case class SessState2(start: Long, last: Long, n: Long, sum: Double)

  test("step(): gap transition closes and reopens sessions") {
    val gap = StreamSessionize.gapUs(GAP_MIN)
    import StreamSessionize.usToTs
    val evs = Seq(
      SessEvent(1, usToTs(0L), 1.0), SessEvent(1, usToTs(gap), 2.0), // same session
      SessEvent(1, usToTs(2 * gap + 1), 3.0))                  // gap -> new session
    val (closed, open) = StreamSessionize.step(evs, None, GAP_MIN)
    assert(closed.map(c => (c.start_us, c.end_us, c.n_events, c.sum_value)) ==
      Seq((0L, gap, 2L, 3.0)))
    assert(open.contains(graft.streaming.SessState(2 * gap + 1, 2 * gap + 1, 1L, 3.0)))
  }

  test("streaming sessionize with event-time timeout matches batch sessions") {
    // split events into two time-ordered files -> two micro-batches
    val dir = Files.createTempDirectory("sess_stream").toString
    val ev = Tables(spark, sfDir).events
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)")).collect().head.getDouble(0).toLong
    ev.filter(unix_micros(col("ts")) <= mid).coalesce(1)
      .write.parquet(s"$dir/batch1")
    ev.filter(unix_micros(col("ts")) > mid).coalesce(1)
      .write.parquet(s"$dir/batch2")
    // one flat dir with both files, lexicographic order preserves time order
    val flat = Files.createTempDirectory("sess_flat").toString
    var i = 0
    Seq("batch1", "batch2").foreach { b =>
      java.nio.file.Files.list(java.nio.file.Paths.get(dir, b)).forEach { p =>
        if (p.toString.endsWith(".parquet")) {
          java.nio.file.Files.copy(p,
            java.nio.file.Paths.get(flat, f"part$i%02d.parquet"))
          i += 1
        }
      }
    }
    val schema = spark.read.parquet(flat).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(flat)
      .withWatermark("ts", "0 seconds")
    val streamed = Replay.toMemory(StreamSessionize.sessionize(stream, GAP_MIN), "append",
      noDataBatches = true).collect()
      .map(r => SessionOut(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet

    val all = expectedSessions()
    val allSet = all.toSet
    // every user's non-final session MUST be closed by the gap logic
    val mustClose = all.groupBy(_.user_id).values
      .flatMap(ss => ss.sortBy(_.start_us).dropRight(1)).toSet
    assert(streamed.subsetOf(allSet),
      s"streamed produced sessions not in batch truth: ${(streamed -- allSet).take(3)}")
    assert(mustClose.subsetOf(streamed),
      s"missing closed sessions: ${(mustClose -- streamed).take(3)}")
    assert(streamed.nonEmpty)
  }
}
